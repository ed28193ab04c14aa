"""The three workloads: catalog analytics, the keyed lakehouse, and the
training-data operator catalog.

A workload is a mix of operations that the harness (``run.py``) repeats
in passes. Each operation has a kind: ``query`` (a catalog entry or a read
of the lakehouse table), ``load`` (one ``load_transactions`` batch) or
``dml`` (one ``manifest_sql`` statement, or ``OPTIMIZE``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

from perfbench import checks, datagen
from perfbench.tracing import Tracer


@dataclass
class Op:
    kind: str  # "query" | "load" | "dml"
    name: str
    run: Callable[[], object]  # returns the evaluated frame (queries) or None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CatalogWorkload:
    """Catalog entries, each built then evaluated through the noop sink
    (every output row is computed, nothing is returned or written)."""

    entries: list[str] = []
    scale, docs, vectors = 0.01, 500, 500

    def __init__(self, root: str, seed: int, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(root, "data")
        self.rng = np.random.default_rng(seed)
        self.mismatches: list[str] = []
        self.checked = False

    def prepare(self) -> None:
        datagen.write_star_schema(self.data_dir, self.seed, self.scale,
                                  self.docs, self.vectors)

    def start(self, spark) -> None:
        from dca_manager_spark.plans.queries import get_oracles, get_queries

        self.spark = spark
        self.queries = get_queries()
        self.oracles = get_oracles()
        missing = [n for n in self.entries if n not in self.queries or n not in self.oracles]
        if missing:
            raise SystemExit(f"catalog entries without a query or oracle: {missing}")

    def _op(self, name: str, con=None) -> Op:
        fn = self.queries[name]

        def run():
            with self.tracer.span("plans", "build", name):
                df = fn(self.spark, self.data_dir)
            with self.tracer.span("exec", "action", name):
                _noop(df)
            return df

        def check():
            try:
                got = run().toPandas()  # the timed path first, then the rows
                reason = checks.compare_frames(got, con.sql(self.oracles[name]).df())
            except Exception as exc:
                self.mismatches.append(f"{name}: raised {type(exc).__name__}")
                raise
            if reason:
                self.mismatches.append(f"{name}: {reason}")

        return Op("query", name, check if con is not None else run)

    def pass_ops(self, first: bool = False) -> list[Op]:
        """One pass over the entries in seeded order. In the first pass of
        a run each entry is also collected after its noop evaluation (the
        same frame, so its plan is not built twice) and compared with its
        DuckDB oracle."""
        order = list(self.entries)
        self.rng.shuffle(order)
        con = checks.oracle_connection(self.data_dir) if first else None
        self.checked |= first
        return [self._op(n, con) for n in order]

    def finish(self) -> dict:
        return {"checks": len(self.entries) if self.checked else 0,
                "mismatches": self.mismatches}


class OlapQueries(CatalogWorkload):
    """TPC-H style scans, joins, aggregates and windows: JVM-side Catalyst
    and execution work, no Python workers, no table writes. Runnable by
    name; not listed in BENCHMARK.json (see CHANGES.md)."""

    # A stratified subset of the 46 q*/window_*/agg_*/join_* entries: one
    # pass must fit the per-run time budget (see CHANGES.md).
    entries = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q9_product_profit", "q10_returned_items",
        "q12_shipclass_priority", "q13_customer_order_distribution",
        "q18_large_volume_customers", "q21_waiting_suppliers",
        "window_rank_orders", "window_running_invested",
        "agg_rollup_region_nation", "agg_grouping_sets",
        "join_broadcast_dim", "join_sort_merge_hint",
    ]
    scale = 0.01


class CorpusJobs(CatalogWorkload):
    """Training-data operators: driver-side plan builds over py4j, eager
    checkpoints and the Arrow boundary to Python workers."""

    # Each operator family: dedup, similarity, text (operators.text,
    # operators.langid and operators.corpus) and multimodal (spreads its
    # codec stage through partitioning.spread and decodes in Python
    # workers), plus a cogrouped applyInPandas. The mix is small so that a
    # run fits the benchmark's time budget. Its count is odd and three
    # entries of about the same latency (language id, corpus preparation,
    # cogroup) sit in the middle, two faster and two slower, so the median
    # latency blends their samples instead of following the jitter of one.
    entries = ["dedup_simhash", "similarity_cosine_topk", "text_lang_id_ngram",
               "text_quality_logit", "corpus_prep_pipeline",
               "cogroup_order_fulfillment", "multimodal_jpeg_pixels"]
    scale, docs, vectors = 0.001, 400, 400


# ---------------------------------------------------------------------------
# Lakehouse
# ---------------------------------------------------------------------------
COST_BASIS = (
    "SELECT pair, COUNT(*) AS n, "
    "CAST(SUM(CAST(FLOOR(price * volume * 100) AS BIGINT)) AS BIGINT) AS invested_cents, "
    "CAST(SUM(CAST(FLOOR(volume * 1000000) AS BIGINT)) AS BIGINT) AS volume_micro "
    "FROM transactions WHERE type = 'buy' GROUP BY pair")
POINT = ("SELECT transaction_id, exchange_status, pair, order_type, type, price, "
         "fee, volume, open_time, close_time FROM transactions "
         "WHERE transaction_id = '{tid}'")


class DcaLakehouse:
    """The reference pipeline on one keyed manifest table: one-transaction
    upsert loads, SQL DML and reads. Each operation touches a handful of
    rows, so fixed per-commit costs (jobs, catalog sync, publish) dominate.

    A pass is an ``OPTIMIZE`` followed by three rounds. A round is one
    load, one DML statement (MERGE, UPDATE and DELETE in turn) and the
    reads: the cost basis per pair and four point lookups by transaction id.
    Four lookups to one cost-basis read put the median read latency in the
    middle of the lookups rather than at the edge between two kinds of
    read, so it holds still from run to run.

    The reads of later rounds, and the final snapshot, see the files the
    rounds since the last ``OPTIMIZE`` left behind. The table starts with
    a year of history loaded in one file (see ``datagen``)."""

    def __init__(self, root: str, seed: int, tracer: Tracer):
        self.root = root
        self.tracer = tracer
        self.table_path = os.path.join(root, "table", "transactions")
        self.feed = datagen.TransactionFeed(seed, os.path.join(root, "feed"))
        self.submitted_bytes = 0  # user data handed to loads and DML
        self.created: dict[str, int] = {}  # files created under the table dir

    def prepare(self) -> None:
        pass

    def start(self, spark) -> None:
        self.spark = spark

    # -- operations --------------------------------------------------------
    def _scan_table(self) -> None:
        for d, _, files in os.walk(self.table_path):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.created:
                    self.created[p] = os.path.getsize(p)

    def _load(self, history: bool = False) -> None:
        from dca_manager_spark.pipeline.load_transactions import load_transactions

        path, nbytes = self.feed.history() if history else self.feed.load()
        self.submitted_bytes += nbytes
        load_transactions(self.spark, path, self.table_path, "upsert",
                          table_name="transactions", database=None,
                          table_format="manifest")

    def _sql(self, text: str) -> None:
        from dca_manager_spark.io.manifest import manifest_sql

        self.submitted_bytes += len(text.encode())
        manifest_sql(self.spark, text).collect()

    def _merge(self) -> None:
        rows = self.feed.merge_rows()
        self.feed.log.append({"op": "merge", "rows": rows})
        self.submitted_bytes += sum(len(json.dumps(r)) + 1 for r in rows)
        self.spark.createDataFrame(checks.normalized(rows)).createOrReplaceTempView("merge_src")
        self._sql(
            "MERGE INTO transactions t USING merge_src s "
            "ON t.transaction_id = s.transaction_id AND t.close_time = s.close_time "
            "WHEN MATCHED THEN UPDATE SET exchange_status = s.exchange_status, fee = s.fee "
            "WHEN NOT MATCHED THEN INSERT *")

    def _update(self) -> None:
        self._dml("UPDATE transactions SET exchange_status = 'reconciled' "
                  f"WHERE transaction_id = '{self.feed.pick_key()}'")

    def _delete(self) -> None:
        key = self.feed.pick_key()
        self.feed.forget(key)
        self._dml(f"DELETE FROM transactions WHERE transaction_id = '{key}'")

    def _dml(self, text: str) -> None:
        self.feed.log.append({"op": "sql", "sql": text})
        self._sql(text)

    def _read(self, name: str, sql_text: Callable[[], str]) -> Op:
        def run():
            sql = sql_text()
            df = self.spark.sql(sql)
            with self.tracer.span("exec", "action", name):
                pdf = df.toPandas()
            self.feed.log.append({"op": "read", "name": name, "sql": sql, "result": pdf})
            return df
        return Op("query", name, run)

    def pass_ops(self, first: bool = False) -> list[Op]:
        """One pass: OPTIMIZE, then a round per DML statement. The first
        pass of a run is the warm-up: the history load, then each operation
        of the mix once, with the reads between them."""
        feed = self.feed
        point = self._read("point_lookup", lambda: POINT.format(tid=feed.pick_key()))
        reads = [self._read("cost_basis", lambda: COST_BASIS), *[point] * 4]
        load = Op("load", "load_transactions", self._load)
        dmls = [Op("dml", "merge", self._merge), Op("dml", "update", self._update),
                Op("dml", "delete", self._delete)]
        optimize = Op("dml", "optimize", lambda: self._sql("OPTIMIZE transactions"))
        if first:
            history = Op("load", "history", lambda: self._load(history=True))
            return [history, optimize, *reads, load, *reads, *dmls, *reads]
        ops = [optimize]
        for dml in dmls:
            ops += [load, dml, *reads]
        return ops

    def after_op(self) -> None:
        self._scan_table()

    def finish(self) -> dict:
        """Replay check of every read and the final snapshot, plus write and
        space amplification."""
        from dca_manager_spark.io.manifest import ManifestTable

        table = ManifestTable(self.spark, self.table_path)
        snap = table.read()
        final = snap.toPandas()
        n_checks, bad = checks.replay_lakehouse(self.feed.log, final)
        _, doc = table._latest_manifest()
        live = [os.path.join(self.table_path, f["path"]) for f in doc["files"]]
        live_bytes = sum(os.path.getsize(p) for p in live if os.path.exists(p))
        compact_dir = os.path.join(self.root, "compact_copy")
        snap.coalesce(1).write.mode("overwrite").parquet(compact_dir)
        compact_bytes = sum(os.path.getsize(os.path.join(compact_dir, f))
                            for f in os.listdir(compact_dir) if f.endswith(".parquet"))
        mdir = table._manifest_dir()
        latest = sorted(mdir.glob("*.json"))[-1]
        written = sum(self.created.values())
        return {
            "checks": n_checks,
            "mismatches": bad,
            "write_amp": written / self.submitted_bytes,
            "space_amp": live_bytes / compact_bytes,
            "files_written": len(self.created),
            "bytes_written": written,
            "live_files": len(live),
            "manifest_bytes": latest.stat().st_size,
        }


WORKLOADS = {
    "olap_queries": OlapQueries,
    "dca_lakehouse": DcaLakehouse,
    "corpus_jobs": CorpusJobs,
}
