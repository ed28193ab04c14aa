"""Correctness checks: catalog entries against their DuckDB oracles, and the
lakehouse table against an independent DuckDB replay of the operation log.

Frames are compared the way ``scripts/driver_sim.py`` compares them:
typed cells (an int never equals a float, a naive timestamp never equals
a zone-aware one), exact floats, and list or array cells rejected.
"""

from __future__ import annotations

import pandas as pd

from scripts.driver_sim import TABLES, UnhashableColumn, compare


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of typed rows, else a one-line reason."""
    try:
        reason = compare(got, want)
    except UnhashableColumn as exc:
        return str(exc)
    return None if reason == "OK" else reason


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


# ---------------------------------------------------------------------------
# Lakehouse replay
# ---------------------------------------------------------------------------
_TXN_DDL = """CREATE TABLE transactions (
    transaction_id VARCHAR, exchange_status VARCHAR, pair VARCHAR,
    order_type VARCHAR, type VARCHAR, price DOUBLE, fee DOUBLE, volume DOUBLE,
    open_time TIMESTAMP, close_time TIMESTAMP)"""


def normalized(rows: list[dict]) -> pd.DataFrame:
    """The wire rows after the load's casts: decimal strings -> double,
    unix seconds -> timestamp floored to the second."""
    pdf = pd.DataFrame(rows)
    for c in ("price", "fee", "volume"):
        pdf[c] = pdf[c].astype("float64")
    for c in ("open_time", "close_time"):
        pdf[c] = pd.to_datetime(pdf[c].astype("int64"), unit="s")
    return pdf


def replay_lakehouse(log: list[dict], final: pd.DataFrame) -> tuple[int, list[str]]:
    """Replay the operation log in DuckDB; compare every logged read result
    and the final snapshot. Returns (checks made, mismatch reasons)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(_TXN_DDL)
    key = ("t.transaction_id = s.transaction_id AND t.close_time = s.close_time")
    checks, bad = 0, []
    for i, entry in enumerate(log):
        op = entry["op"]
        if op in ("load", "merge"):
            src = normalized(entry["rows"])  # noqa: F841 — read by DuckDB
            con.execute("CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM src")
            if op == "load":
                con.execute(f"DELETE FROM transactions t USING s WHERE {key}")
                con.execute("INSERT INTO transactions BY NAME SELECT * FROM s")
            else:
                con.execute(
                    "UPDATE transactions t SET exchange_status = s.exchange_status, "
                    f"fee = s.fee FROM s WHERE {key}")
                con.execute(
                    "INSERT INTO transactions BY NAME SELECT * FROM s WHERE NOT EXISTS "
                    f"(SELECT 1 FROM transactions t WHERE {key})")
        elif op == "sql":
            con.execute(entry["sql"])
        elif op == "read":
            checks += 1
            reason = compare_frames(entry["result"], con.sql(entry["sql"]).df())
            if reason:
                bad.append(f"read #{i} ({entry['name']}): {reason}")
    checks += 1
    want = con.sql("SELECT * FROM transactions").df()
    reason = compare_frames(final[list(want.columns)], want)
    if reason:
        bad.append(f"final snapshot: {reason}")
    return checks, bad
