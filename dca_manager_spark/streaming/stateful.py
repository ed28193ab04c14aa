"""Custom stateful streaming: per-transaction lifecycle tracking.

The reference's pipeline moves every order through pending (EP1 writes
status=pending + queue message) -> complete (EP2 writes status=complete)
asynchronously. This operator reconstructs that lifecycle from the event
stream with ``applyInPandasWithState`` (SURVEY §2B 'Arbitrary state' row):
state = the pending timestamp per transaction_id; when the complete event
arrives (possibly many micro-batches later) it emits one settlement row
with the pending->complete latency and clears the state.

Scale: state is one timestamp per in-flight transaction, partitioned by
the groupBy key — bounded by in-flight order count, not stream length.
Timeouts evict state for transactions that never complete (the SQS
14-day-retention analog)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

LIFECYCLE_OUTPUT_SCHEMA = (
    "transaction_id string, pending_ts timestamp, complete_ts timestamp, "
    "latency_s double, outcome string"
)
LIFECYCLE_STATE_SCHEMA = "pending_ts timestamp"


def track_order_lifecycle(
    events: DataFrame,
    timeout_ms: int | None = None,
) -> DataFrame:
    """events: streaming DF with (transaction_id string, status string
    in {pending, complete}, ts timestamp). Emits one row per completed
    transaction; with ``timeout_ms`` set, also emits outcome='expired'
    rows for transactions whose pending state aged out (processing-time
    timeout)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        txid = key[0]
        if state.hasTimedOut:
            (pending_ts,) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "transaction_id": [txid],
                    "pending_ts": [pending_ts],
                    "complete_ts": [pd.NaT],
                    "latency_s": [None],
                    "outcome": ["expired"],
                }
            )
            return

        pending_ts = state.get[0] if state.exists else None
        out = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for row in rows.itertuples():
            if row.status == "pending" and pending_ts is None:
                ts = row.ts
                pending_ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            elif row.status == "complete":
                latency = (
                    (row.ts - pending_ts).total_seconds()
                    if pending_ts is not None
                    else None
                )
                out.append(
                    {
                        "transaction_id": txid,
                        "pending_ts": pending_ts,
                        "complete_ts": row.ts,
                        "latency_s": latency,
                        "outcome": "completed",
                    }
                )
                pending_ts = None
        if pending_ts is not None:
            state.update((pending_ts,))
            if timeout_ms:
                state.setTimeoutDuration(timeout_ms)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return events.groupBy("transaction_id").applyInPandasWithState(
        fn,
        outputStructType=LIFECYCLE_OUTPUT_SCHEMA,
        stateStructType=LIFECYCLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, closed_by string"
)
SESSION_STATE_SCHEMA = (
    "session_start timestamp, last_ts timestamp, n_events long"
)


def _wall_to_epoch_ms(wall, tz) -> int:
    """Map a tz-NAIVE wall time in session zone ``tz`` to epoch millis,
    DST-safely. A wall time that is ambiguous (fall-back) or nonexistent
    (spring-forward) in a non-UTC zone maps to two candidate instants;
    Spark's internal watermark tracks the TRUE instant of the event, so
    resolving with the default fold could set an event-time timeout
    at/behind the watermark (Spark raises) or fire an hour early. Take
    the LATER of both fold resolutions: identical for every unambiguous
    wall time (all but ~2 hours/year), and never behind the true instant
    inside a fold (worst case: the timeout fires one hour late)."""
    return int(
        max(
            wall.replace(tzinfo=tz, fold=0).timestamp(),
            wall.replace(tzinfo=tz, fold=1).timestamp(),
        )
        * 1000
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators/relational.sessionize_gaps: per-user
    gap sessionization over an event stream with ``applyInPandasWithState``
    + EVENT-TIME timeouts.

    events: streaming DF with (user_id long, ts timestamp, ...). Emits one
    row per CLOSED session: a session closes when a later event of the
    same user arrives more than ``gap_seconds`` after it (closed_by =
    'gap'), or when the watermark passes its last event + gap with no
    successor (closed_by = 'timeout') — so the final session of an idle
    user still emits, which a pure lag/window formulation can never do on
    an unbounded stream.

    Parity contract (pinned by test): the (session_start, session_end,
    n_events) triples equal the batch sessionize_gaps aggregate over the
    same prefix of events, for every session the stream has closed.

    Late data: a late-but-within-watermark event that lands inside (or
    up to gap before) the OPEN session is absorbed into it — the span
    only ever widens (start = min, end = max), never regresses. With
    O(1) state per user, exact retroactive session SPLITS are not
    representable; keep the watermark delay <= gap_seconds and the
    absorbed approximation equals the batch result except when a late
    event should have seeded its own already-closed session.

    Scale: state is ONE open-session triple per active user, keyed by the
    groupBy; eviction is the event-time timeout, so idle users cost
    nothing after watermark + gap. Per micro-batch work is per-key pandas
    over that key's new rows only.
    """
    import datetime as _dt
    from zoneinfo import ZoneInfo

    gap = float(gap_seconds)
    # Rows reach the pandas worker as tz-NAIVE wall times in the Spark
    # SESSION timezone; naive .timestamp() would interpret them in the
    # OS-local zone instead (wrong timeout epoch on any non-UTC host,
    # possibly even behind the watermark). Capture the session zone at
    # plan-build time and localize explicitly.
    session_tz = ZoneInfo(
        events.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]

        def close(ss, lt, n, how):
            return pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [ss],
                    "session_end": [lt],
                    "n_events": [n],
                    "closed_by": [how],
                }
            )

        if state.hasTimedOut:
            ss, lt, n = state.get
            state.remove()
            yield close(ss, lt, n, "timeout")
            return

        ss = lt = None
        n = 0
        if state.exists:
            ss, lt, n = state.get
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        out = []
        for row in rows.itertuples():
            ts = row.ts.to_pydatetime() if hasattr(row.ts, "to_pydatetime") else row.ts
            if lt is None:
                ss, lt, n = ts, ts, 1
            elif (ts - lt).total_seconds() > gap:
                out.append((ss, lt, n))
                ss, lt, n = ts, ts, 1
            else:
                # absorb (possibly late) event: the span only widens —
                # a backward lt would shrink future gap checks and close
                # sessions the batch twin keeps open
                ss, lt, n = min(ss, ts), max(lt, ts), n + 1
        state.update((ss, lt, n))
        # event-time eviction: fire once the watermark passes last+gap
        epoch_ms = _wall_to_epoch_ms(lt, session_tz)
        state.setTimeoutTimestamp(epoch_ms + int(gap * 1000))
        if out:
            yield pd.concat([close(s, e, c, "gap") for (s, e, c) in out])

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
