"""Pipeline-parity tests mirroring the reference's Go test assertions
(SURVEY §5): exact partition paths, skip/ack semantics, guards, and the
end-to-end execute -> queue -> process -> table flow."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.pipeline.connectors import FakeOrderer, KrakenOrderer, get_orderers
from dca_manager_spark.pipeline.execute_orders import execute_orders
from dca_manager_spark.pipeline.load_transactions import (
    apply_additional_columns,
    load_transactions,
)
from dca_manager_spark.pipeline.process_orders import process_orders
from dca_manager_spark.streaming.queue_source import FileQueue

CONFIG = {
    "orders": [
        {
            "exchange": "kraken",
            "pair": "ADAGBP",
            "order_type": "market",
            "type": "buy",
            "volume": "10",
            "enabled": True,
        },
        {
            "exchange": "kraken",
            "pair": "BTCGBP",
            "order_type": "market",
            "type": "buy",
            "volume": "1",
            "enabled": False,  # must be skipped (kraken.go:42-45)
        },
    ]
}


@pytest.fixture
def config_path(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps(CONFIG))
    return str(p)


def test_execute_orders_writes_exact_pending_key(spark, tmp_path, config_path):
    """Go test parity (cmd/execute_orders/main_test.go:197-230): the fake
    path writes exactly status=pending/exchange=kraken/OEBG2U-KIRAN-4U6WHJ.json
    and only for ENABLED orders."""
    queue = FileQueue(str(tmp_path / "queue"))
    written = execute_orders(spark, config_path, str(tmp_path / "data"), queue)

    expect = (
        tmp_path
        / "data/transactions/status=pending/exchange=kraken/OEBG2U-KIRAN-4U6WHJ.json"
    )
    assert written == [str(expect)]
    assert expect.exists()
    payload = json.loads(expect.read_text())
    assert payload["transaction_id"] == FakeOrderer.FAKE_TXID
    assert payload["result"]["description"]["pair"] == "ADAGBP"

    msgs = queue.consume()
    assert len(msgs) == 1  # disabled order produced no message
    assert msgs[0]["transaction_id"] == FakeOrderer.FAKE_TXID
    assert msgs[0]["real"] == "false"
    assert msgs[0]["s3_key"].endswith("exchange=kraken/OEBG2U-KIRAN-4U6WHJ.json")


def test_execute_orders_invalid_config(spark, tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"orders": [{"exchange": "kraken"}]}))
    with pytest.raises(ValueError, match="invalid DCA config"):
        execute_orders(spark, str(bad), str(tmp_path / "d"), FileQueue(str(tmp_path / "q")))


def test_process_not_real_message_acked_no_side_effects(spark, tmp_path):
    """Go test parity (cmd/process_orders/main_test.go:79-132): a
    Real=='false' message is deleted from the queue and NOTHING is written
    or loaded."""
    queue = FileQueue(str(tmp_path / "queue"))
    queue.publish("TXID", "bucket", "key", exchange="kraken", real=False)

    result = process_orders(
        spark, queue, str(tmp_path / "data"), str(tmp_path / "table")
    )
    assert result is None
    assert queue.size() == 0  # acked
    assert not (tmp_path / "data").exists()
    assert not (tmp_path / "table").exists()


def test_process_empty_batch_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="empty batch"):
        process_orders(
            spark,
            FileQueue(str(tmp_path / "queue")),
            str(tmp_path / "d"),
            str(tmp_path / "t"),
        )


def test_process_unknown_exchange_errors(spark, tmp_path):
    queue = FileQueue(str(tmp_path / "queue"))
    queue.publish("TXID", "bucket", "key", exchange="binance", real=True)
    with pytest.raises(KeyError, match="binance"):
        process_orders(spark, queue, str(tmp_path / "d"), str(tmp_path / "t"))
    assert queue.size() == 1  # NOT acked -> redelivered (at-least-once)


def test_process_happy_path_end_to_end(spark, tmp_path, config_path):
    """Go happy-path parity (main_test.go:191-252) + EP3: execute ->
    queue -> process -> normalized partitioned table, all acked."""
    queue = FileQueue(str(tmp_path / "queue"))
    execute_orders(spark, config_path, str(tmp_path / "data"), queue, real=True)
    assert queue.size() == 1

    table = process_orders(
        spark, queue, str(tmp_path / "data"), str(tmp_path / "table")
    )
    assert queue.size() == 0

    complete = (
        tmp_path
        / "data/transactions/status=complete/exchange=kraken"
        / f"{FakeOrderer.FAKE_TXID}.json"
    )
    assert complete.exists()

    rows = table.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.transaction_id == FakeOrderer.FAKE_TXID
    assert r.pair == "ADAGBP"
    assert r.exchange == "kraken"  # injected literal (additional_columns)
    assert r.price == 100.23 and r.fee == 1.23 and r.volume == 20.0  # doubles now
    assert r.close_time.year == 2033  # 2000021133 epoch-s -> timestamp
    # partitioned by pair: the manifest prunes to the row's partition
    assert table.read(partition_filter={"pair": "ADAGBP"}).count() == 1


def test_load_transactions_validates_operation(spark, tmp_path):
    with pytest.raises(ValueError, match="write_operation"):
        load_transactions(spark, "whatever", str(tmp_path / "t"), write_operation="merge")
    with pytest.raises(ValueError, match="table_format"):
        load_transactions(spark, "whatever", str(tmp_path / "t"), table_format="merge")


def test_additional_columns_none_sentinel(spark):
    df = spark.range(1)
    assert apply_additional_columns(df, "none").columns == ["id"]
    out = apply_additional_columns(df, '{"exchange": "kraken"}')
    assert out.columns == ["id", "exchange"]
    assert out.collect()[0].exchange == "kraken"


def test_kraken_normalization_field_by_field():
    """kraken_test.go:164-206 parity: QueryOrders map -> OrderComplete,
    decimals stay strings, empty txids skipped."""
    payload = {
        "TXID": {
            "status": "closed",
            "price": "100.23",
            "fee": "1.23",
            "vol_exec": "20",
            "opentm": 2000021133.0,
            "closetm": 2000021133.0,
            "descr": {"pair": "ADAGBP", "ordertype": "market", "type": "buy"},
        },
        "": {"status": "ignored"},
    }
    rows = KrakenOrderer.normalize_response(payload)
    assert len(rows) == 1
    r = rows[0]
    assert (r.transaction_id, r.exchange_status, r.pair) == ("TXID", "closed", "ADAGBP")
    assert (r.order_type, r.type) == ("market", "buy")
    assert (r.price, r.fee, r.volume) == ("100.23", "1.23", "20")
    assert r.open_time == r.close_time == 2000021133.0


def test_kraken_without_client_raises():
    k = KrakenOrderer()
    with pytest.raises(NotImplementedError):
        k.make_order({})
    with pytest.raises(NotImplementedError):
        k.process_transaction("T")


def test_factory_real_flag():
    from dca_manager_spark.pipeline.credentials import (
        CredentialsError,
        StaticCredentialsProvider,
    )

    fake_only = get_orderers(allow_real=False)
    assert isinstance(fake_only["kraken"], FakeOrderer)
    # Real orderers without a credentials provider must fail loudly BEFORE
    # any order flow starts (the reference resolves credentials before
    # building the client).
    with pytest.raises(CredentialsError):
        get_orderers(allow_real=True)
    provider = StaticCredentialsProvider({"kraken": ("k", "s")})
    real = get_orderers(allow_real=True, credentials_provider=provider)
    assert isinstance(real["kraken"], KrakenOrderer)


def test_execute_orders_distributed(spark, tmp_path, config_path):
    """A8 scale path: connector fan-out on executors via mapInPandas —
    same results as the driver loop, as a DataFrame."""
    from dca_manager_spark.pipeline.execute_orders import execute_orders_distributed

    out = execute_orders_distributed(spark, config_path).collect()
    assert len(out) == 1  # disabled order filtered
    r = out[0]
    assert r.exchange == "kraken"
    assert r.transaction_id == FakeOrderer.FAKE_TXID
    payload = json.loads(r.result_json)
    assert payload["description"]["pair"] == "ADAGBP"


def test_cli_contract(spark, tmp_path, config_path):
    """CLI argument-contract parity: execute-orders then process-orders
    then a standalone load —  all through the __main__ surface."""
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.pipeline.cli import build_parser, main

    # parser accepts the Glue-contract args
    ns = build_parser().parse_args(
        ["load-transactions", "--input_path", "x", "--table_path", "y",
         "--write_operation", "bulk_insert", "--additional_columns", "none"]
    )
    assert ns.write_operation == "bulk_insert"

    rc = main(["execute-orders", "--config", config_path,
               "--data_dir", str(tmp_path / "d"), "--queue_dir", str(tmp_path / "q"),
               "--real"])
    assert rc == 0
    rc = main(["process-orders", "--queue_dir", str(tmp_path / "q"),
               "--data_dir", str(tmp_path / "d"), "--table_path", str(tmp_path / "t")])
    assert rc == 0
    rows = ManifestTable(spark, str(tmp_path / "t")).read().collect()
    assert [(r.transaction_id, r.pair) for r in rows] == [
        (FakeOrderer.FAKE_TXID, "ADAGBP")
    ]


def test_load_quality_gate(spark, tmp_path):
    """Corrupt rows are counted in-pass (Observation API): within budget
    they are dropped silently; over budget the load raises."""
    good = '{"transaction_id": "T1", "pair": "BTCGBP", "price": "1.5", "close_time": 100.0}'
    bad = '{"transaction_id": "T2", BROKEN'
    src = tmp_path / "in.json"
    src.write_text(good + "\n" + bad + "\n")

    # 50% corrupt > 0% budget -> gate trips
    with pytest.raises(ValueError, match="quality gate"):
        load_transactions(spark, str(src), str(tmp_path / "t1"))

    # generous budget -> loads the clean row
    table = load_transactions(
        spark, str(src), str(tmp_path / "t2"), max_corrupt_fraction=0.9
    )
    rows = table.read().collect()
    assert [r.transaction_id for r in rows] == ["T1"]


def test_load_transactions_manifest_format(spark, tmp_path):
    """EP3 with table_format='manifest': same load semantics over the
    object-store-safe commit protocol; idempotent re-upsert converges."""
    import json as _json

    from dca_manager_spark.pipeline.load_transactions import load_transactions

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        _json.dumps(
            {
                "transaction_id": "T1",
                "exchange_status": "closed",
                "pair": "ADAGBP",
                "order_type": "market",
                "type": "buy",
                "price": "100.23",
                "fee": "1.23",
                "volume": "20",
                "open_time": 2000021133.0,
                "close_time": 2000021133.0,
            }
        )
    )
    for _ in range(2):  # replay converges
        table = load_transactions(
            spark,
            input_path=str(src),
            table_path=str(tmp_path / "mtbl"),
            write_operation="upsert",
            additional_columns={"exchange": "kraken"},
            table_format="manifest",
        )
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0].pair == "ADAGBP" and rows[0].exchange == "kraken"
    assert len(table.commits()) == 2


def test_sink_pending_distributed_end_to_end(spark, tmp_path, config_path):
    """Fully-distributed EP1: connector fan-out (mapInPandas) then
    executor-side pending-JSON + queue publish (foreachPartition) — the
    exact reference key layout and queue envelope, no fulfilled row on
    the driver; the output feeds EP2 unchanged."""
    from dca_manager_spark.pipeline.execute_orders import (
        execute_orders_distributed,
        sink_pending_distributed,
    )
    from dca_manager_spark.streaming.queue_source import FileQueue

    fulfilled = execute_orders_distributed(spark, config_path)
    n = sink_pending_distributed(
        fulfilled, data_dir=str(tmp_path / "data"), queue_dir=str(tmp_path / "q")
    )
    assert n == 1

    pending = (
        tmp_path
        / "data/transactions/status=pending/exchange=kraken"
        / f"{FakeOrderer.FAKE_TXID}.json"
    )
    assert pending.exists()
    doc = json.loads(pending.read_text())
    assert doc["result"]["description"]["pair"] == "ADAGBP"

    msgs = FileQueue(str(tmp_path / "q")).consume()
    assert len(msgs) == 1
    assert msgs[0]["transaction_id"] == FakeOrderer.FAKE_TXID
    assert msgs[0]["exchange"] == "kraken" and msgs[0]["real"] == "false"


# ---------------------------------------------------------------------------
# Credentials provider seam (reference: pkg/configuration/kraken.go:25-45,
# error semantics pinned by kraken_test.go:17-88)
# ---------------------------------------------------------------------------

def test_credentials_env_provider_resolves_and_errors():
    from dca_manager_spark.pipeline.credentials import (
        CredentialsError,
        EnvCredentialsProvider,
    )

    env = {"DCA_KRAKEN_KEY": "k1", "DCA_KRAKEN_SECRET": "s1"}
    creds = EnvCredentialsProvider(env=env).get_credentials("kraken")
    assert (creds.key, creds.secret) == ("k1", "s1")

    # Either lookup failing is an error (kraken_test.go: key error case,
    # secret error case).
    with pytest.raises(CredentialsError, match="KRAKEN_KEY"):
        EnvCredentialsProvider(env={"DCA_KRAKEN_SECRET": "s"}).get_credentials("kraken")
    with pytest.raises(CredentialsError, match="KRAKEN_SECRET"):
        EnvCredentialsProvider(env={"DCA_KRAKEN_KEY": "k"}).get_credentials("kraken")


def test_credentials_file_provider(tmp_path):
    from dca_manager_spark.pipeline.credentials import (
        CredentialsError,
        FileCredentialsProvider,
    )

    p = tmp_path / "creds.json"
    p.write_text(json.dumps({"kraken": {"key": "fk", "secret": "fs"}}))
    creds = FileCredentialsProvider(str(p)).get_credentials("kraken")
    assert (creds.key, creds.secret) == ("fk", "fs")

    with pytest.raises(CredentialsError, match="binance/key"):
        FileCredentialsProvider(str(p)).get_credentials("binance")
    with pytest.raises(CredentialsError, match="cannot read"):
        FileCredentialsProvider(str(tmp_path / "nope.json")).get_credentials("kraken")


def test_get_orderers_resolves_credentials_into_kraken():
    from dca_manager_spark.pipeline.connectors import KrakenOrderer, get_orderers
    from dca_manager_spark.pipeline.credentials import (
        CredentialsError,
        StaticCredentialsProvider,
    )

    provider = StaticCredentialsProvider({"kraken": ("api-key", "api-secret")})
    orderers = get_orderers(allow_real=True, credentials_provider=provider)
    kraken = orderers["kraken"]
    assert isinstance(kraken, KrakenOrderer)
    assert kraken.credentials.key == "api-key"
    assert kraken.credentials.secret == "api-secret"

    # Missing credentials fail at FACTORY time, not first API call.
    with pytest.raises(CredentialsError):
        get_orderers(
            allow_real=True,
            credentials_provider=StaticCredentialsProvider({}),
        )

    # The fake path never touches the provider (DCA_ALLOW_REAL off).
    class Exploding:
        def get_credentials(self, exchange):
            raise AssertionError("provider must not be called for fakes")

    fakes = get_orderers(allow_real=False, credentials_provider=Exploding())
    assert fakes["kraken"].make_order({"pair": "ADAGBP"}).transaction_id


# ---------------------------------------------------------------------------
# EP1 scheduler shim (reference: terraform/aws_lambda_execute_orders.tf:
# 138-146 cron rules -> {"operation": "ExecuteOrders"}, retry 0, max age 60s;
# defaults terraform/variables.tf:10-20)
# ---------------------------------------------------------------------------

def test_cron_schedule_reference_defaults():
    import datetime as dt

    from dca_manager_spark.pipeline.scheduler import (
        DEFAULT_EXECUTE_ORDERS_SCHEDULES,
    )

    fri, wed = DEFAULT_EXECUTE_ORDERS_SCHEDULES
    # 2026-08-13 is a Thursday.
    after = dt.datetime(2026, 8, 13, 12, 0)
    assert fri.next_fire(after) == dt.datetime(2026, 8, 14, 6, 0)
    assert wed.next_fire(after) == dt.datetime(2026, 8, 19, 19, 45)
    # Fire-time enumeration over a fortnight: two Fridays.
    fires = fri.fires_between(after, after + dt.timedelta(days=14))
    assert fires == [dt.datetime(2026, 8, 14, 6, 0), dt.datetime(2026, 8, 21, 6, 0)]


def test_cron_schedule_field_forms():
    import datetime as dt

    from dca_manager_spark.pipeline.scheduler import CronSchedule

    # */15 minute steps, plain 5-field form, ranges and lists.
    s = CronSchedule("*/15 9-10 * * *")
    after = dt.datetime(2026, 1, 5, 9, 50)
    assert s.next_fire(after) == dt.datetime(2026, 1, 5, 10, 0)
    assert CronSchedule("cron(0 12 1,15 * ? *)").next_fire(
        dt.datetime(2026, 1, 2, 0, 0)
    ) == dt.datetime(2026, 1, 15, 12, 0)


def test_schedule_runner_fires_execute_orders(spark, tmp_path, config_path):
    """The verdict's done-criterion: a scheduled firing runs the real
    execute-orders job and produces the exact pending key + queue message
    the direct invocation produces."""
    import datetime as dt

    from dca_manager_spark.pipeline.scheduler import (
        CronSchedule,
        ScheduleRule,
        ScheduleRunner,
    )

    queue = FileQueue(str(tmp_path / "queue"))
    runner = ScheduleRunner(
        rules=[ScheduleRule(CronSchedule("cron(0 6 ? * FRI *)"))],
        dispatch={
            "ExecuteOrders": lambda: execute_orders(
                spark, config_path, str(tmp_path / "data"), queue
            )
        },
    )
    # Friday 2026-08-14 06:00:30 UTC — 30s after the scheduled minute.
    fired = runner.run_due(dt.datetime(2026, 8, 14, 6, 0, 30))
    assert [f["status"] for f in fired] == ["ok"]
    expect = (
        tmp_path
        / "data/transactions/status=pending/exchange=kraken/OEBG2U-KIRAN-4U6WHJ.json"
    )
    assert fired[0]["result"] == [str(expect)]
    assert expect.exists()
    msgs = queue.consume()
    assert len(msgs) == 1 and msgs[0]["transaction_id"] == FakeOrderer.FAKE_TXID

    # Re-check later the same day: nothing new fires (at most once per
    # fire time).
    assert runner.run_due(dt.datetime(2026, 8, 14, 12, 0)) == []


def test_schedule_runner_drops_stale_and_never_retries():
    import datetime as dt

    from dca_manager_spark.pipeline.scheduler import (
        CronSchedule,
        ScheduleRule,
        ScheduleRunner,
    )

    calls = []

    def boom():
        calls.append(1)
        raise RuntimeError("handler failed")

    runner = ScheduleRunner(
        rules=[ScheduleRule(CronSchedule("cron(0 6 ? * FRI *)"))],
        dispatch={"ExecuteOrders": boom},
    )
    # Observed 10 minutes late -> dropped (maximum_event_age_in_seconds=60),
    # handler never invoked.
    runner.last_checked = dt.datetime(2026, 8, 14, 5, 0)
    fired = runner.run_due(dt.datetime(2026, 8, 14, 6, 10))
    assert [f["status"] for f in fired] == ["dropped_stale"] and calls == []

    # On-time firing: handler raises, status=error, exactly ONE call
    # (maximum_retry_attempts=0).
    runner.last_checked = dt.datetime(2026, 8, 21, 5, 59)
    fired = runner.run_due(dt.datetime(2026, 8, 21, 6, 0, 20))
    assert [f["status"] for f in fired] == ["error"] and len(calls) == 1


# -- run-outcome notifications (r13, aws_sns.tf parity) --------------------


def test_notifier_routes_success_and_failure(tmp_path):
    import datetime as dt

    from dca_manager_spark.pipeline.notifications import (
        FileTopic,
        ListTopic,
        RunNotifier,
    )
    from dca_manager_spark.pipeline.scheduler import (
        CronSchedule,
        ScheduleRule,
        ScheduleRunner,
    )

    ok_topic, dlq = ListTopic("success"), ListTopic("failure")
    notifier = RunNotifier(success=ok_topic, failure=dlq)

    def good():
        return {"n": 1}

    def bad():
        raise RuntimeError("boom")

    runner = ScheduleRunner(
        rules=[
            ScheduleRule(CronSchedule("0 6 * * ? *"), "Good"),
            ScheduleRule(CronSchedule("0 6 * * ? *"), "Bad"),
            ScheduleRule(CronSchedule("0 6 * * ? *"), "Missing"),
        ],
        dispatch={"Good": good, "Bad": bad},
        notifier=notifier,
    )
    runner.last_checked = dt.datetime(2024, 1, 5, 5, 59, 30)
    runner.run_due(dt.datetime(2024, 1, 5, 6, 0, 10))

    assert len(ok_topic.messages) == 1
    subject, msg = ok_topic.messages[0]
    assert "Good succeeded" in subject and msg["result"] == {"n": 1}
    # failure DLQ gets the raising handler AND the unroutable operation
    assert len(dlq.messages) == 2
    statuses = {m["operation"]: m["status"] for _, m in dlq.messages}
    assert statuses == {"Bad": "error", "Missing": "no_handler"}

    # stale firings route to the DLQ too (dropped, not silently lost)
    runner.last_checked = dt.datetime(2024, 1, 12, 5, 59, 30)
    runner.run_due(dt.datetime(2024, 1, 12, 6, 5, 0))
    assert any(
        m["status"] == "dropped_stale" for _, m in dlq.messages
    )


def test_notify_run_wraps_and_reraises(tmp_path):
    import json

    import pytest as _pytest

    from dca_manager_spark.pipeline.notifications import (
        FileTopic,
        ListTopic,
        RunNotifier,
    )

    ftopic = FileTopic(str(tmp_path / "success.jsonl"))
    notifier = RunNotifier(success=ftopic, failure=ListTopic())
    assert notifier.notify_run("backfill", lambda: 42) == 42
    with _pytest.raises(ValueError):
        notifier.notify_run("backfill", lambda: (_ for _ in ()).throw(ValueError("x")))
    lines = [
        json.loads(ln)
        for ln in open(tmp_path / "success.jsonl").read().splitlines()
    ]
    assert len(lines) == 1 and lines[0]["message"]["result"] == 42
    assert notifier.failure.messages[0][1]["status"] == "error"


def test_notifier_channel_failure_never_fails_the_run():
    from dca_manager_spark.pipeline.notifications import (
        CallableTopic,
        ListTopic,
        RunNotifier,
    )

    def broken(subject, message):
        raise OSError("network down")

    notifier = RunNotifier(
        success=CallableTopic(broken), failure=ListTopic()
    )
    assert notifier.notify_run("job", lambda: "done") == "done"
    assert notifier.publish_errors and "network down" in notifier.publish_errors[0]
