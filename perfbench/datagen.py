"""Seeded input generators for the benchmark workloads.

Two generators, both pure numpy + pyarrow (no Spark), so the inputs exist
before the engine starts and the same seed always yields the same bytes:

- ``write_star_schema``: the ten catalog tables (TPC-H-style star schema
  plus ``events``, ``documents`` and ``embeddings``) with the column names,
  physical types and value domains the query catalog and its DuckDB
  oracles expect, at a chosen row scale.
- ``TransactionFeed``: completed-transaction JSON files in the wire shape
  of ``schemas.TRANSACTION_RAW_SCHEMA``, one transaction per load as in the
  reference pipeline, with a fixed cadence of re-delivered transactions.
  Every step is appended to an operation log that
  ``checks.replay_lakehouse`` replays in DuckDB.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.145, 0.14, 0.125]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def star_schema_tables(seed: int, scale: float, docs: int,
                       vectors: int) -> dict[str, pa.Table]:
    """The catalog's ten tables. ``scale`` follows TPC-H's scale factor
    (lineitem = 6M x scale rows); ``docs``/``vectors`` size the corpus
    tables independently because the operator entries are driver-bound."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 20)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = max(int(6_000_000 * scale), 2_000)
    n_evt = max(int(1_000_000 * scale), 1_000)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(_cents(rng, 0, 0.1, n_line)),
        "l_tax": pa.array(_cents(rng, 0, 0.08, n_line)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995_US + DAY_US + rng.integers(0, 2499, n_line) * DAY_US),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts(EPOCH_2024_US + ts),
        "user_id": pa.array(rng.integers(0, 150, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(_cents(rng, 0.01, 490.02, n_evt)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts: list[str] = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(docs), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    vecs = rng.standard_normal((vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(vectors), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vectors), i32),
    })
    return t


def write_star_schema(out_dir: str, seed: int, scale: float, docs: int,
                      vectors: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema_tables(seed, scale, docs, vectors).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return out_dir


# ---------------------------------------------------------------------------
# Lakehouse feed
# ---------------------------------------------------------------------------
# The traffic follows the reference pipeline. Each cron firing executes every
# configured order once; each order yields one completed transaction, and one
# Glue run loads that one transaction (cmd/process_orders/main.go:241,254-257,
# BASELINE.md). The configured orders are one market buy per pair that the
# reference's config fixtures name (FIXTURES.md section 1), and the firings are
# the reference's default schedules, Wednesdays 19:45 and Fridays 06:00 UTC
# (terraform/variables.tf:10-20, pipeline/scheduler.py).
PAIRS = ["BTCGBP", "ETHGBP", "ADAGBP"]
BASE_PRICE = {"BTCGBP": 35000.0, "ETHGBP": 1900.0, "ADAGBP": 0.4}
FIRST_FIRING = 1_641_411_900  # Wednesday 2022-01-05 19:45 UTC
FIRING_GAPS = (123_300, 481_500)  # Wed 19:45 -> Fri 06:00 -> Wed 19:45
HISTORY_ROWS = 2 * 52 * len(PAIRS)  # one year of firings
# The queue delivers at least once, so a load can carry a transaction the
# table already holds. The reference publishes no re-delivery rate; this
# benchmark re-delivers on every fourth load.
REDELIVER_EVERY = 4


class TransactionFeed:
    """Seeded source of transactions for one keyed table, in schedule order.

    Keys are ``(transaction_id, close_time)``. A re-delivered transaction is
    the row the exchange reported again (same key, pair and values), so the
    upsert must replace the stored row rather than add a second copy. Every step the workload
    takes is appended to ``log``, which ``checks.replay_lakehouse`` replays
    in DuckDB."""

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.issued = 0  # transactions created so far
        self.firing = FIRST_FIRING
        self.loads = 0
        self.live: dict[str, dict] = {}  # transaction_id -> row, in the table
        self.log: list[dict] = []  # the operation log DuckDB replays
        os.makedirs(out_dir, exist_ok=True)

    def _fresh(self) -> dict:
        """The next configured order's transaction at the current firing."""
        n, rng = self.issued, self.rng
        pair = PAIRS[n % len(PAIRS)]
        if n and n % len(PAIRS) == 0:
            self.firing += FIRING_GAPS[(n // len(PAIRS) - 1) % 2]
        self.issued += 1
        opened = self.firing + 2 * (n % len(PAIRS))
        price = BASE_PRICE[pair] * float(rng.uniform(0.8, 1.2))
        volume = float(rng.uniform(0.001, 5.0))
        row = {
            "transaction_id": f"T{n:08d}",
            "exchange_status": "closed",
            "pair": pair,
            "order_type": "market",
            "type": "buy",
            "price": f"{price:.6f}",
            "fee": f"{price * volume * 0.0026:.8f}",
            "volume": f"{volume:.8f}",
            "open_time": float(opened),
            "close_time": float(opened + int(rng.integers(1, 30))),
        }
        self.live[row["transaction_id"]] = row
        return row

    def _write(self, rows: list[dict]) -> tuple[str, int]:
        path = os.path.join(self.out_dir, f"load-{len(self.log):05d}.json")
        body = "".join(json.dumps(r) + "\n" for r in rows)
        with open(path, "w") as fh:
            fh.write(body)
        self.log.append({"op": "load", "rows": rows})
        return path, len(body.encode())

    def history(self) -> tuple[str, int]:
        """One file holding a year of transactions, the table's back-fill."""
        return self._write([self._fresh() for _ in range(HISTORY_ROWS)])

    def load(self) -> tuple[str, int]:
        """One transaction file: the next order, or on every
        ``REDELIVER_EVERY``-th load a re-delivery of a live transaction."""
        self.loads += 1
        redeliver = self.loads % REDELIVER_EVERY == 0
        return self._write([self.live[self.pick_key()] if redeliver else self._fresh()])

    def merge_rows(self) -> list[dict]:
        """Source rows for a MERGE: a corrected fee for a live transaction
        (the matched branch) and the next order (the insert branch). A
        later re-delivery carries the exchange's row again, not the fix."""
        old = dict(self.live[self.pick_key()])
        old["fee"] = f"{float(old['fee']) * 0.5:.8f}"
        return [old, self._fresh()]

    def pick_key(self) -> str:
        ids = list(self.live)
        return ids[int(self.rng.integers(0, len(ids)))]

    def forget(self, transaction_id: str) -> None:
        del self.live[transaction_id]
