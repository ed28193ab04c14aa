"""Object-store-safe keyed COW table: manifest-committed Parquet.

The reference's analytics table is a Hudi COPY_ON_WRITE table with a
composite record key, a precombine tie-break, and four write operations
(glue/scripts/load_transactions.py:56-80,113-122; SURVEY §1.5):

- record key       : (transaction_id, close_time)  [ComplexKeyGenerator, :57,:68]
- precombine field : transaction_id — when two incoming rows share a key in
  one batch, the LARGER precombine value wins (:58)
- operations       : insert | upsert | bulk_insert | delete (:48-51,:117-122)
- index scoping    : partition-scoped (Hudi's default BLOOM/SIMPLE index) —
  a key arriving with a NEW partition value becomes a second row; the old
  partition's row survives

Hudi 0.10 default combine behavior is honored: ``insert`` and
``bulk_insert`` do NOT deduplicate (duplicate rows are legal table states —
SURVEY §7 hard part #2); ``upsert`` and ``delete`` combine by key first.

``ManifestTable`` commits that surface through the protocol object stores
need (directory renames are copies there, and a crash mid-swap could
expose a half-committed table):

1. every write lands in a fresh, uniquely-named commit directory under
   ``data/`` — object-store writes are immutable PUTs, nothing is renamed;
2. a manifest (JSON) names the complete live file set per partition:
   next_manifest = previous files - replaced partitions' files + new files;
3. the commit POINT is the atomic publish of ``_manifests/<next-id>.json``
   (put-if-absent: O_EXCL locally; S3 conditional PUT / a DynamoDB lock in
   a real deployment). A crash before publish leaves only unreferenced
   orphan files — readers never see them. Every commit path — handle
   writes, DML, restore, compact and the streaming sink — publishes
   through one optimistic rebase loop, ``ManifestTable._rebase``;
4. readers list files from the NEWEST manifest, never from directory
   listing, so concurrent vacuums/writers can't tear a read;
5. ``vacuum()`` deletes unreferenced files (run after a retention window);
6. every row-changing commit also captures its record-level change set
   (upsert batch / actually-deleted rows / append files by reference) so
   ``read_incremental(records=True)`` returns changed ROWS, not rewritten
   partitions — the Hudi incremental-pull semantics the reference's table
   exposes (glue/scripts/load_transactions.py:61-80).

This is deliberately the Delta/Iceberg/Hudi-timeline commit design in
miniature (the reference's Hudi table commits exactly this way on S3 —
glue/scripts/load_transactions.py:117-122 relies on Hudi's timeline, not
directory renames); a production deployment should adopt one of those
formats — the op surface here maps 1:1 onto Delta ``MERGE INTO``.

Scale notes:
- Partition pruning happens at the MANIFEST level: ``read(partition_filter)``
  selects file paths by partition value before Spark ever lists anything —
  the object-store LIST call (slow, eventually consistent on some stores)
  is eliminated from the read path entirely.
- Partition values are kept as ordinary columns in the data files (no
  hive-dir inference), so a file list from any mix of commits reads
  uniformly.
- The manifest is O(live files), not O(rows); at 100 TB with ~512 MB files
  that is ~200k entries — fine as JSON per commit, and the point where a
  real deployment graduates to Iceberg's split manifests.
"""

from __future__ import annotations

import json
import os
import re
import threading as _threading
import uuid
from enum import Enum
from pathlib import Path
from typing import NamedTuple, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Serializes catalog syncs in this process: the read-prior-view /
# replace-view step of register() is check-then-act.
_SYNC_LOCK = _threading.Lock()


class WriteOperation(str, Enum):
    INSERT = "insert"
    UPSERT = "upsert"
    BULK_INSERT = "bulk_insert"
    DELETE = "delete"

    @classmethod
    def parse(cls, value: str) -> "WriteOperation":
        """Validate like the reference job does (load_transactions.py:48-51)."""
        try:
            return cls(value)
        except ValueError as exc:
            raise ValueError(
                f"write_operation must be one of "
                f"{[op.value for op in cls]}, got {value!r}"
            ) from exc


def precombine_dedup(df: DataFrame, keys: list[str], precombine: str,
                     tiebreaks: list[str] | None = None) -> DataFrame:
    """Hudi precombine: one survivor per key, largest precombine value wins
    (load_transactions.py:58). Hudi leaves ties arbitrary; pass ``tiebreaks``
    (further descending columns) when a deterministic survivor is required.
    """
    order = [F.col(precombine).desc()] + [F.col(c).desc() for c in (tiebreaks or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class ConcurrentCommitError(RuntimeError):
    """A commit lost the put-if-absent race on every attempt of its
    rebase budget: ``commit_retries + 1`` times for a handle commit, the
    ``retries`` option + 1 times for the ``dca_manifest`` write sink
    (io/datasource.py). The table is NOT corrupted — the losing attempts
    published nothing (the manifest link failed atomically) and their
    data files are unreferenced orphans that ``vacuum()`` reclaims. The
    caller can simply re-issue the write; persistent contention means
    two writers are hammering the same table faster than rebase can
    keep up — shard the key space or serialize upstream."""

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_CHANGES_DIR = "_changes"

# Spark/Hive's partition-directory conventions: special characters are
# %XX-escaped by escapePathName, nulls become a sentinel directory name.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _eq_null_safe(cols: list[str], left: str, right: str) -> Column:
    """Join predicate matching ``cols`` null-safely between two aliases."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
    return pred


def _drop_if_empty(out_dir: Path) -> bool:
    """True, with ``out_dir`` removed, when the parquet files one write
    left there hold no row. Counted from the footers on the driver, so
    an empty result costs no Spark job."""
    import shutil

    import pyarrow.parquet as pq

    if any(
        pq.ParquetFile(p).metadata.num_rows for p in out_dir.rglob("*.parquet")
    ):
        return False
    shutil.rmtree(out_dir, ignore_errors=True)
    return True


def _hive_unescape(value: str) -> str:
    """Invert Hive/Spark escapePathName: decode every %XX hex escape.
    Well-defined because a literal '%' is itself written as %25."""
    import re

    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), value
    )


def _partition_key(value: object) -> str | None:
    """Canonical manifest-side form of a partition value: None for null,
    Spark's hive-directory rendering otherwise — what both the write path
    (from directory names) and the match paths (from filters / batch rows)
    normalize to. Python and Spark agree on str() for strings, integers,
    dates, but NOT booleans (str(True) = 'True' vs directory 'true') and
    NOT fractional-second timestamps or scientific-notation floats
    (str(datetime) pads '.500000' where Spark writes '.5'; Python '1e-07'
    vs Java '1.0E-7') — a silent mismatch would break pruning AND
    partition replacement, so float/timestamp partition columns are
    REJECTED at write time (_check_partition_types). Supported:
    string, integral, boolean, date."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


class _Pinned(NamedTuple):
    """What one pin job yields: the frozen frame, its row count and the
    partition tuples its rows touch (``_partition_key`` form, one
    element per ``partition_by`` column; empty when none were asked
    for)."""

    df: DataFrame
    rows: int
    parts: frozenset[tuple]


def _pin(df: DataFrame, partition_by: Sequence[str] = ()) -> _Pinned:
    """Pin a batch exactly once: ``localCheckpoint(eager=True)`` freezes
    the rows so every downstream consumer (constraint validation, zorder
    boundary agg, the write itself) sees the SAME materialization even
    for nondeterministic sources. One ``Observation`` on the
    checkpoint's own job counts the rows and collects the distinct
    ``partition_by`` tuples, so the affected-row count and a COW
    commit's touched partitions cost no job of their own: no
    ``count()`` and no ``distinct().collect()`` re-scan the pinned batch
    (the metrics arrive for empty, zero-partition and local frames too).
    The marker attribute lets ``_frozen`` skip a second checkpoint."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if partition_by:
        metrics.append(F.collect_set(F.struct(*partition_by)).alias("parts"))
    pinned = df.observe(obs, *metrics).localCheckpoint(eager=True)
    pinned._dca_pinned = True
    got = obs.get
    return _Pinned(pinned, got["rows"], frozenset(
        tuple(_partition_key(v) for v in row) for row in got.get("parts", ())
    ))


def _frozen(df: DataFrame) -> DataFrame:
    """``df`` pinned — as it is when a caller already pinned it, so the
    write paths can each demand a pinned input without checkpointing
    twice."""
    return df if getattr(df, "_dca_pinned", False) else _pin(df).df


def _local_frame(
    spark: SparkSession, schema: StructType, rows: Sequence[tuple] = ()
) -> DataFrame:
    """``rows`` under ``schema`` as an Arrow-built ``LocalRelation``:
    collecting or joining it runs no Spark job, where
    ``createDataFrame`` over Python rows parallelizes through Python
    workers (one job of dp tasks per collect). The explicit schema keeps
    types Arrow cannot tell apart (timestamp_ntz) and every nullability
    flag as given. A schema holding a type Arrow cannot carry (a
    year-month interval, which parquet stores) takes the Python-row
    path."""
    import pyarrow as pa
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import to_arrow_schema

    try:
        arrow = to_arrow_schema(schema)
    except PySparkTypeError:
        return spark.createDataFrame(list(rows), schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


def _count_frame(spark: SparkSession, name: str, n: int) -> DataFrame:
    """A statement result: one ``<name> bigint`` (nullable) row holding
    ``n``, built as a local relation (see ``_local_frame``)."""
    schema = StructType([StructField(name, LongType())])
    return _local_frame(spark, schema, [(n,)])


def _nullable_normalized(dt):
    """Recursively force every nested nullability flag (array
    containsNull, map valueContainsNull, struct field nullable) to True,
    so type equality compares PHYSICAL type only. Parquet bytes are
    identical across these flags; treating them as conflicts would
    reject batches whose upstream plan merely proved/lost a non-null
    invariant."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_normalized(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_normalized(dt.keyType),
            _nullable_normalized(dt.valueType),
            True,
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable_normalized(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def zorder_key(df: DataFrame, cols: list[str], bits: int = 4) -> Column:
    """Z-order (Morton) key over ``cols``: per-column PERCENTILE bucket ids
    (skew-robust, unlike equi-width) bit-interleaved so that a z-range
    covers a narrow band of EVERY column — the multi-column data-skipping
    key behind Delta's OPTIMIZE ZORDER. Costs one bounded aggregation job
    (``bits`` x ``len(cols)`` boundary doubles collected to the driver);
    the per-row expression is pure codegen'd built-ins.

    Supported column types: numeric, timestamp, date (ordered by their
    double casts). Strings would need locality-destroying hashing — loud
    error instead. Nulls sort into bucket 0."""
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError(
            f"bits * len(cols) must be in [1, 63], got {bits} x {len(cols)}"
        )
    casted: dict[str, Column] = {}
    for c in cols:
        dt = df.schema[c].dataType.typeName()
        if dt == "date":
            casted[c] = F.col(c).cast("timestamp").cast("double")
        elif dt in ("timestamp", "timestamp_ntz") or dt in (
            "byte", "short", "integer", "long", "float", "double", "decimal",
        ) or dt.startswith("decimal"):
            casted[c] = F.col(c).cast("double")
        else:
            raise ValueError(
                f"zorder cluster column {c!r} has unsupported type {dt} "
                "(numeric/timestamp/date only)"
            )
    n_buckets = 1 << bits
    pcts = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    bounds = df.agg(
        *[F.percentile_approx(casted[c], pcts, 10000).alias(c) for c in cols]
    ).first()
    k = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        bs = [b for b in (bounds[c] or []) if b is not None]
        if not bs:
            continue  # empty/all-null column: contributes constant 0 bits
        arr = F.array(*[F.lit(float(b)) for b in bs])
        # bucket id = #boundaries <= value (null value -> 0): 0..n_buckets-1
        val = casted[c]
        bucket = F.size(F.filter(arr, lambda b: b <= val)).cast("long")
        for j in range(bits):
            bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


class ManifestTable:
    """A keyed, partitioned, copy-on-write Parquet table committed via
    atomic manifest publish (see module doc).

    Partition values may be null or contain hive-escaped characters
    (``/ = % space`` ...): directory names are unescaped back to the real
    value when the manifest is built, and nulls round-trip through the
    ``__HIVE_DEFAULT_PARTITION__`` sentinel as JSON null — so manifest
    pruning and upsert partition-replacement match on the TRUE value,
    never the escaped directory string."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: tuple[str, ...] = ("transaction_id", "close_time"),
        precombine: str = "transaction_id",
        partition_by: tuple[str, ...] = ("pair",),
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
        cluster_method: str = "linear",
        table_type: str = "cow",
        constraints: dict[str, str] | None = None,
        commit_retries: int = 3,
        bloom_by: tuple[str, ...] | None = None,
        bloom_bits: int = 1024,
        bloom_hashes: int = 4,
    ) -> None:
        """``cluster_by``: linear range clustering at write time — every
        commit range-partitions its rows on these columns and sorts within
        each output file, so per-file parquet min/max statistics become
        NARROW and disjoint. A predicate on the cluster columns then skips
        whole files/row-groups at scan time (the data-skipping half of
        Delta's OPTIMIZE ZORDER; lexicographic, so lead with the
        highest-selectivity column). Purely physical: logical content and
        the commit protocol are unchanged. ``cluster_files`` pins the
        range-partition count per commit; default None lets AQE size the
        bands to the advisory partition size (the right call at scale).

        ``cluster_method``: "linear" (lexicographic — tight stats on the
        LEADING column only) or "zorder" (bit-interleaved percentile
        buckets — tight stats on EVERY cluster column, for workloads that
        filter on any subset; see ``zorder_key``).

        ``table_type``: "cow" (copy-on-write — every merge rewrites the
        touched partitions; read-optimized) or "mor" (merge-on-read —
        upserts/deletes land as O(batch) DELTA/TOMBSTONE files with NO
        partition rewrite, and reads resolve latest-per-key across
        base+deltas; write-optimized, the Hudi MOR analogue for
        streaming micro-batch ingest where COW's per-batch partition
        rewrite is the bottleneck). ``compact()`` folds deltas back into
        base files, restoring read-optimized scans. MOR trade-offs: read
        amplification until compaction (one window over the touched
        keys), delete change capture records the REQUESTED keys (a
        tombstone for an absent key is a phantom delete — harmless to
        replay), and no update preimages (capturing them would need the
        read MOR exists to avoid) — delta-based aggregate maintenance
        needs COW."""
        if cluster_method not in ("linear", "zorder"):
            raise ValueError(
                f"cluster_method must be 'linear' or 'zorder', got {cluster_method!r}"
            )
        if table_type not in ("cow", "mor"):
            raise ValueError(
                f"table_type must be 'cow' or 'mor', got {table_type!r}"
            )
        # ``constraints``: {name: SQL boolean expr} CHECK constraints
        # (Delta CHECK analogue) — every insert/upsert batch must satisfy
        # every expression or the write fails loudly BEFORE anything is
        # committed; deletes are exempt (their payload only names keys).
        # Cost: one short-circuiting validation job per write.
        self.spark = spark
        self.path = str(path)
        self.keys = list(keys)
        self.precombine = precombine
        self.partition_by = list(partition_by)
        self.cluster_by = list(cluster_by)
        self.cluster_files = cluster_files
        self.cluster_method = cluster_method
        self.table_type = table_type
        self.constraints = dict(constraints or {})
        # ``commit_retries``: optimistic-concurrency rebase budget. A
        # writer that loses the manifest put-if-absent race re-reads the
        # newest manifest and re-applies its (pinned) batch against it —
        # the serialized result, like Delta's conflict-resolution retry.
        # 0 = strict single-writer (lose once -> ConcurrentCommitError).
        if int(commit_retries) < 0:
            raise ValueError(
                f"commit_retries must be >= 0, got {commit_retries}"
            )
        self.commit_retries = int(commit_retries)
        # Cumulative lost-race count on this handle (observability: a
        # steadily climbing value means real multi-writer contention).
        self.rebase_count = 0
        # ``bloom_by``: per-file Bloom filters on these columns (the
        # Hudi bloom-index / Iceberg-Puffin analogue for POINT lookups
        # on high-cardinality keys, where min/max ranges all overlap and
        # range skipping is useless). Each commit pays ONE extra
        # column-pruned pass over its own files (distributed bit_or
        # aggregate — never a driver-side value read); ``read(
        # point_filter={key: value})`` then skips every file whose bloom
        # proves the key absent. No false negatives (results stay exact,
        # enforced by a residual row filter); false-positive rate ~
        # (1-e^(-kn/m))^k — default 1024 bits / 4 hashes holds ~1% at
        # ~100 keys/file; raise bloom_bits for bigger files. Hash is
        # md5(CAST(col AS STRING)) sliced into 32-bit positions — chosen
        # because the JVM write side and the Python lookup side compute
        # it identically (same canonical string as partition values).
        if bloom_bits % 64 != 0 or bloom_bits <= 0:
            raise ValueError(f"bloom_bits must be a positive multiple of 64, got {bloom_bits}")
        if not (1 <= bloom_hashes <= 4):
            raise ValueError(f"bloom_hashes must be in [1,4] (md5 yields 4 u32 slices), got {bloom_hashes}")
        # The bloom config PERSISTS in every manifest, and a handle
        # opened without one (bloom_by=None, the default) INHERITS the
        # table's committed config on first manifest load — so a
        # compactor or maintenance handle opened plain keeps writing
        # blooms instead of silently degrading point-lookup pruning
        # table-wide, and a plain reader gets the right bits/hashes for
        # _bloom_admits' generation check. Pass an explicit bloom_by
        # (possibly ()) to OVERRIDE; a mismatch vs the committed config
        # warns once (pruning on files of the other generation degrades
        # to conservative admit-all until recommitted).
        self._bloom_explicit = bloom_by is not None
        self._bloom_synced = False
        # Live catalog registrations on THIS handle (name -> options),
        # refreshed after every commit this handle publishes (see
        # ``register`` — the sync-on-write hive-sync cadence).
        self._registered: dict[str, dict] = {}
        self.bloom_by = list(bloom_by or ())
        self.bloom_bits = int(bloom_bits)
        self.bloom_hashes = int(bloom_hashes)

    _BLOOM_FAMILY = "md5-cast-string-v1"

    # -- manifest plumbing --------------------------------------------------
    def _manifest_dir(self) -> Path:
        return Path(self.path) / _MANIFEST_DIR

    def _manifest_ids(self) -> list[int]:
        mdir = self._manifest_dir()
        if not mdir.is_dir():
            return []
        return sorted(int(p.stem) for p in mdir.glob("*.json") if p.stem.isdigit())

    def _load_manifest(self, mid: int) -> dict:
        with open(self._manifest_dir() / f"{mid:012d}.json") as fh:
            return json.load(fh)

    def _latest_manifest(self) -> tuple[int, dict] | None:
        ids = self._manifest_ids()
        if not ids:
            return None
        doc = self._load_manifest(ids[-1])
        self._sync_bloom_config(doc)
        return ids[-1], doc

    def _sync_bloom_config(self, doc: dict) -> None:
        """Inherit / cross-check the committed bloom config (see
        __init__). Runs once per handle, on the first latest-manifest
        load."""
        if self._bloom_synced:
            return
        self._bloom_synced = True
        committed = doc.get("bloom")
        if not self._bloom_explicit:
            if committed:
                self.bloom_by = list(committed["by"])
                self.bloom_bits = int(committed["bits"])
                self.bloom_hashes = int(committed["hashes"])
            return
        mine = {
            "by": self.bloom_by,
            "bits": self.bloom_bits,
            "hashes": self.bloom_hashes,
        }
        if committed is not None and committed != mine and (
            committed.get("by") or mine["by"]
        ):
            import warnings

            warnings.warn(
                f"handle bloom config {mine} differs from the table's "
                f"committed config {committed} on {self.path}: files of "
                "the other generation admit every point lookup "
                "(conservative, exact but unpruned) until recommitted — "
                "open the handle without bloom_by to inherit",
                stacklevel=3,
            )

    def commits(self) -> list[int]:
        """Committed manifest ids, oldest first — the table's timeline
        (Hudi-timeline analogue)."""
        return self._manifest_ids()

    def version_at_timestamp(self, ts: "datetime.datetime") -> int:
        """Latest commit published at or before ``ts`` (the TIMESTAMP AS
        OF resolution rule, Delta's contract). Publication time is the
        manifest file's mtime — the O_EXCL put IS the commit instant, so
        the file timestamp is authoritative; a naive ``ts`` is taken in
        LOCAL time (what ``TIMESTAMP AS OF '2024-01-01 12:00:00'`` means
        in a session-local SQL literal)."""
        epoch = ts.timestamp()
        best = None
        for mid in self._manifest_ids():
            mtime = (self._manifest_dir() / f"{mid:012d}.json").stat().st_mtime
            if mtime <= epoch and (best is None or mid > best):
                best = mid
        if best is None:
            raise ValueError(
                f"no commit at or before {ts.isoformat()} is retained on "
                f"{self.path} (earliest retained manifest is newer, or "
                "the table is empty)")
        return best

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analogue: one row per RETAINED commit with
        the operation kind and file/change-capture counts — built from
        manifest JSONs only, no data files touched. Commits written
        before the ``op`` field exist as 'unknown'."""
        rows = []
        for mid in self._manifest_ids():
            doc = self._load_manifest(mid)
            ch = doc.get("changes") or {}
            rows.append((
                mid,
                doc.get("op", "unknown"),
                len(doc["files"]),
                len(ch.get("upserts") or []),
                len(ch.get("preimages") or []),
                len(ch.get("deletes") or []),
            ))
        return _local_frame(self.spark, StructType.fromDDL(
            "commit_id int, op string, n_files int, n_upsert_files int, "
            "n_preimage_files int, n_delete_files int"
        ), rows)

    def _carry_stream_marks(
        self, prev_id: int | None, stream_mark: tuple[str, int] | None
    ) -> dict[str, int]:
        """High-water map {sink_id: max committed stream batch id} for the
        next manifest: the previous manifest's map carried forward,
        optionally advanced by this commit's (sink, batch). Tables written
        before the map existed are migrated once — the retained manifests
        are scanned for legacy per-commit stream_batch/stream_sink keys —
        and every manifest after that carries the key (possibly empty), so
        the scan never repeats."""
        marks: dict[str, int] = {}
        if prev_id is not None:
            try:
                prev_doc = self._load_manifest(prev_id)
            except FileNotFoundError:
                prev_doc = None  # clone publishes a synthetic prev id
            if prev_doc is not None:
                if "stream_marks" in prev_doc:
                    marks = dict(prev_doc["stream_marks"])
                else:
                    # one-time migration from the legacy per-commit keys
                    for mid in self._manifest_ids():
                        try:
                            doc = self._load_manifest(mid)
                        except FileNotFoundError:
                            continue
                        sink, batch = doc.get("stream_sink"), doc.get("stream_batch")
                        if sink is not None and batch is not None:
                            marks[sink] = max(marks.get(sink, -1), int(batch))
        if stream_mark is not None:
            sink, batch = stream_mark
            marks[sink] = max(marks.get(sink, -1), int(batch))
        return marks

    def _publish(
        self,
        prev_id: int | None,
        files: list[dict],
        schema_json: str,
        changes: dict | None = None,
        op: str = "unknown",
        extra: dict | None = None,
        stream_mark: tuple[str, int] | None = None,
    ) -> int:
        """Atomic put-if-absent of the next manifest. O_EXCL is the local
        analogue of an S3 conditional PUT; a concurrent writer losing the
        race gets FileExistsError (single-writer discipline upstream, like
        the reference's max_concurrent_runs=1). The table schema rides in
        the manifest so an EMPTY table (all rows deleted) stays readable
        with types intact.

        ``changes`` is the commit's record-level change capture
        ({"upserts": [paths], "deletes": [paths]} — see
        ``read_incremental(records=True)``); None = a content-neutral
        commit (compaction).

        ``stream_mark`` is a (sink_id, batch_id) pair from the streaming
        write sink. Every manifest carries a ``stream_marks`` high-water
        map {sink_id: max committed batch id}, carried FORWARD from the
        previous manifest by every commit path (handle writes included),
        so the replay check survives vacuum() pruning the manifest that
        originally published a batch, and stays O(1) instead of scanning
        all retained manifests per commit."""
        mdir = self._manifest_dir()
        mdir.mkdir(parents=True, exist_ok=True)
        next_id = 0 if prev_id is None else prev_id + 1
        doc = {
            "id": next_id,
            "files": files,
            "schema": schema_json,
            "changes": changes or {"upserts": [], "deletes": []},
            "op": op,
            "stream_marks": self._carry_stream_marks(prev_id, stream_mark),
        }
        if extra:
            # commit-scoped metadata (e.g. the stream writer's batch id
            # for replay idempotence) — reserved keys stay reserved.
            # Explicit raise, NOT assert: a colliding key silently
            # overwriting core manifest fields under `python -O` would
            # corrupt the table (ADVICE r15).
            clash = set(extra) & set(doc)
            if clash:
                raise ValueError(
                    f"commit-scoped extra metadata collides with reserved "
                    f"manifest keys: {sorted(clash)}"
                )
            doc.update(extra)
        if self.bloom_by:
            # persist the bloom config so plain handles inherit it
            # (see __init__ / _sync_bloom_config)
            doc["bloom"] = {
                "by": self.bloom_by,
                "bits": self.bloom_bits,
                "hashes": self.bloom_hashes,
            }
        payload = json.dumps(doc, indent=1, sort_keys=True)
        target = mdir / f"{next_id:012d}.json"
        # Write the FULL payload to a temp file, then link it into place:
        # os.link is the local put-if-absent (EEXIST on a lost race) and
        # readers can never observe a truncated manifest — an O_EXCL
        # create-then-write window would expose a 0-byte .json to a
        # concurrent _manifest_ids() and brick the table on a crash.
        tmp = mdir / f".{next_id:012d}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise FileExistsError(f"manifest {next_id} already published")
        finally:
            tmp.unlink(missing_ok=True)
        if self._registered:
            # sync-on-write: commit is durable, now refresh catalog views
            self._sync_registered(doc)
        return next_id

    def _rebase(self, what: str, attempt, retries: int | None = None):
        """The optimistic-concurrency loop every commit path runs (the
        rebase contract the entry points' "Concurrency:" notes refer
        to). Each try reads the newest manifest and calls
        ``attempt(prev)`` — prev is ``(id, doc)``, or None on a table
        with no commit — which computes its commit against that manifest
        and publishes with put-if-absent. Losing the race raises
        FileExistsError from _publish; the next try REBASES: it re-reads
        the manifest that won and re-applies, which is exactly the
        serialized result (loser ordered after winner). Anything the
        attempt derives from the table — a DML predicate's matches, a
        restore diff, a compaction's file selection — is re-derived per
        try, so a stale view is never applied over the winner. Data
        files of a lost try are unreferenced orphans that vacuum()
        reclaims. Every loss bumps ``rebase_count``; after ``retries +
        1`` losses (``commit_retries`` when None) the commit aborts with
        ConcurrentCommitError, naming ``what`` and the setting to raise.
        Returns the winning attempt's return value."""
        setting = "commit_retries" if retries is None else "the retries option"
        retries = self.commit_retries if retries is None else retries
        for _ in range(retries + 1):
            try:
                return attempt(self._latest_manifest())
            except FileExistsError as exc:
                conflict = exc
                self.rebase_count += 1
        raise ConcurrentCommitError(
            f"{what} on {self.path} lost the commit race {retries + 1} "
            f"time(s) ({conflict}); the table is intact — re-issue it or "
            f"raise {setting}"
        )

    _PARTITIONABLE = ("string", "byte", "short", "integer", "long",
                      "boolean", "date")

    def _check_partition_types(self, df: DataFrame) -> None:
        for c in self.partition_by:
            if c not in df.columns:
                continue
            t = df.schema[c].dataType.typeName()
            if t not in self._PARTITIONABLE:
                raise ValueError(
                    f"partition column {c!r} has type {t}: Python str() "
                    "and Spark's directory rendering diverge for "
                    "float/timestamp values, which would silently break "
                    "pruning and partition replacement — partition on "
                    f"{self._PARTITIONABLE} columns (derive a string/date "
                    "column first)"
                )

    def _write_commit_files(
        self, df: DataFrame, skip_if_empty: bool = False
    ) -> list[dict]:
        """One physical write into a fresh commit dir; returns manifest
        entries [{path, partition: {col: value}}]. Partition values stay
        as ordinary columns in the files (uniform reads across commits);
        the per-partition file mapping lives in the manifest.

        Non-clustered writes go through an AQE REBALANCE hint so output
        files track the advisory partition size instead of whatever
        partition count the input plan happened to have (guide §6 file
        sizing): a small merge result lands as ONE file instead of one
        tiny file per shuffle partition, and a huge one still fans out.
        ``skip_if_empty=True`` (the merge/txn paths, which previously
        paid a full isEmpty materialization before writing) detects the
        empty result AFTER the single write from the parquet footers and
        removes the dir — one pass instead of two."""
        commit = f"commit-{uuid.uuid4().hex}"
        out_dir = Path(self.path) / _DATA_DIR / commit
        if self.cluster_by:
            # Range-partition so each output FILE covers a narrow, mostly
            # disjoint band of the cluster key, then sort inside the file
            # so row-group stats are tight too. zorder swaps the key for
            # the interleaved-bit Morton code, trading perfectly-disjoint
            # leading-column bands for narrow bands on EVERY column.
            if self.cluster_method == "zorder":
                cluster_cols: list = ["__zorder"]
                df = df.withColumn("__zorder", zorder_key(df, self.cluster_by))
            else:
                cluster_cols = list(self.cluster_by)
            if self.cluster_files:
                df = df.repartitionByRange(self.cluster_files, *cluster_cols)
            else:
                df = df.repartitionByRange(*cluster_cols)
            df = df.sortWithinPartitions(*cluster_cols)
            if self.cluster_method == "zorder":
                # Project the key away AFTER the sort: a plain project on
                # top preserves the partitioning and order, so the files
                # stay z-clustered without persisting the helper column.
                df = df.drop("__zorder")
        if skip_if_empty and not self.cluster_by:
            # AQE-sized output files (no-op when AQE is off) on the
            # merge/txn path ONLY: there the input is a join/union at
            # shuffle width and would otherwise land one tiny file per
            # shuffle partition. Append paths write the pinned batch
            # as-is (measured: a blanket rebalance added one shuffle job
            # per append for nothing). Clustered writes already
            # range-partition above. Partitioned tables rebalance ON the
            # partition columns so one output task covers each partition
            # dir (AQE still splits a skewed partition value).
            df = df.hint("rebalance", *self.partition_by)
        writer = df.write.mode("overwrite").format("parquet")
        if self.partition_by:
            # partitionBy organizes files per partition so the manifest can
            # map file -> partition; the columns are ALSO kept in the data
            # (duplicated write column) via a copy, so reads don't depend
            # on directory parsing.
            dup = df
            for c in self.partition_by:
                dup = dup.withColumn(f"__part_{c}", F.col(c))
            writer = dup.write.mode("overwrite").format("parquet").partitionBy(
                *[f"__part_{c}" for c in self.partition_by]
            )
        writer.save(str(out_dir))
        if skip_if_empty and _drop_if_empty(out_dir):
            return []

        stat_cols = [c for c in self.cluster_by if self._stats_eligible(c, df)]
        entries: list[dict] = []
        for p in sorted(out_dir.rglob("*.parquet")):
            rel = p.relative_to(Path(self.path)).as_posix()
            partition: dict[str, str | None] = {}
            for part in p.relative_to(out_dir).parts[:-1]:
                col, _, value = part.partition("=")
                partition[col.removeprefix("__part_")] = (
                    None if value == _HIVE_NULL else _hive_unescape(value)
                )
            entry: dict = {"path": rel, "partition": partition}
            if stat_cols:
                stats = self._file_column_stats(p, stat_cols)
                if stats:
                    entry["stats"] = stats
            entries.append(entry)
        bloom_cols = [c for c in self.bloom_by if c in df.columns]
        for c in bloom_cols:
            # Same eligibility as partition values, same reason: the
            # JVM CAST(...AS STRING) at write and Python's rendering at
            # lookup must agree EXACTLY or skipping gains false
            # negatives (floats/timestamps diverge -> silently missing
            # rows). Loud, not best-effort.
            if df.schema[c].dataType.typeName() not in self._PARTITIONABLE:
                raise ValueError(
                    f"bloom_by column {c!r} has type "
                    f"{df.schema[c].dataType.simpleString()}; blooms "
                    f"support {self._PARTITIONABLE} (derive a string "
                    "key first)"
                )
        if bloom_cols and entries:
            self._attach_blooms(out_dir, entries, bloom_cols)
        return entries

    def _bloom_positions_expr(self, col: Column) -> list[Column]:
        """The k bit positions of one value, as JVM expressions:
        md5(CAST(x AS STRING)) sliced into 32-bit big-endian words, each
        mod bloom_bits. Must stay in lockstep with _bloom_positions_py
        (family tag _BLOOM_FAMILY; bump both together)."""
        h = F.md5(col.cast("string"))
        return [
            F.conv(F.substring(h, i * 8 + 1, 8), 16, 10).cast("long")
            % self.bloom_bits
            for i in range(self.bloom_hashes)
        ]

    def _bloom_positions_py(self, value: object) -> list[int]:
        import hashlib

        canon = _partition_key(value)
        h = hashlib.md5(canon.encode("utf-8")).hexdigest()
        return [
            int(h[i * 8:(i + 1) * 8], 16) % self.bloom_bits
            for i in range(self.bloom_hashes)
        ]

    def _attach_blooms(
        self, out_dir: Path, entries: list[dict], cols: list[str]
    ) -> None:
        """ONE distributed pass over the commit's own files: per (file,
        column) fold every value's k bit masks together with bit_or —
        whole-stage-codegen expressions, map-side-combined, and only
        O(files x words) rows ever reach the driver. Null values set no
        bits (a point lookup of NULL is rejected at read)."""
        from urllib.parse import unquote

        n_words = self.bloom_bits // 64
        scan = self.spark.read.parquet(str(out_dir)).select(
            F.input_file_name().alias("__f"), *cols
        )
        # Shape: per row, ONE array of (col-index, bit-position) structs
        # (k md5 evaluations per column, nothing else), exploded and
        # collect_set-aggregated per (file, col) — the distinct SET BITS
        # travel, bounded by bloom_bits per (file, col) with map-side
        # partial sets, and the word packing happens driver-side over
        # O(files x set-bits). The per-word bit_or-aggregate
        # formulation (n_words agg columns, each re-branching on every
        # hash) costs k x n_words when-branches PER ROW and a codegen
        # blow-up that scales with bloom_bits — measured 23s/commit at
        # 8192 bits vs sub-second for this shape.
        pairs = F.array(
            *[
                F.struct(F.lit(ci).alias("c"), p.cast("int").alias("p"))
                for ci, c in enumerate(cols)
                for p in self._bloom_positions_expr(F.col(c))
            ]
        )
        rows = (
            scan.select("__f", F.explode(pairs).alias("x"))
            .groupBy("__f", F.col("x.c").alias("c"))
            .agg(F.collect_set("x.p").alias("ps"))
            .collect()
        )
        # Key by path relative to the table root, NEVER the bare file
        # name: partitionBy writes the SAME part-xxxxx name into every
        # partition directory of a task, so names collide across a
        # commit's partition dirs.
        root = Path(self.path).resolve()
        # EVERY entry starts with an all-zeros bloom: a file the scan
        # produced no rows for (zero-row part files happen — e.g. AQE
        # artifacts; input_file_name never surfaces them) contains no
        # key, so the empty bloom that admits NOTHING is exactly right
        # — leaving it bloom-less would conservatively admit every
        # lookup forever (observed: 1/3 fp floor from empty siblings).
        by_rel: dict[str, dict] = {
            e["path"]: {c: [0] * n_words for c in cols} for e in entries
        }
        for r in rows:
            p = Path(unquote(r["__f"].removeprefix("file:"))).resolve()
            rel = p.relative_to(root).as_posix()
            words = by_rel.get(rel, {}).get(cols[r["c"]])
            if words is None:
                continue
            for pos in r["ps"]:
                w, b = pos // 64, pos % 64
                val = words[w] | (1 << b)
                # JSON-side longs are signed 64-bit: fold bit 63 into
                # the canonical i64 representation _bloom_admits reads.
                words[w] = val - (1 << 64) if val >= (1 << 63) else val
        for e in entries:
            e["bloom"] = {
                "family": self._BLOOM_FAMILY,
                "bits": self.bloom_bits,
                "hashes": self.bloom_hashes,
                "cols": by_rel[e["path"]],
            }

    def _bloom_admits(self, entry: dict, col: str, value: object) -> bool:
        """True unless this file's bloom PROVES the value absent.
        Conservative on every mismatch: no bloom recorded, different
        column set, or a filter written under a different family/bits/
        hashes generation all read as 'might contain'."""
        b = entry.get("bloom")
        if (
            not b
            or b.get("family") != self._BLOOM_FAMILY
            or b.get("bits") != self.bloom_bits
            or b.get("hashes") != self.bloom_hashes
            or col not in b.get("cols", {})
        ):
            return True
        words = b["cols"][col]
        for p in self._bloom_positions_py(value):
            if not (words[p // 64] >> (p % 64)) & 1:
                return False
        return True

    @staticmethod
    def _stats_eligible(col: str, df: DataFrame) -> bool:
        # numeric cluster columns only: their min/max round-trip JSON
        # exactly; other types read as "no stats" and are never pruned
        if col not in df.columns:
            return False
        t = df.schema[col].dataType.typeName()
        return t in ("byte", "short", "integer", "long", "float", "double")

    @staticmethod
    def _file_column_stats(path: Path, cols: list[str]) -> dict:
        """Per-file [min, max] for the cluster columns, from the parquet
        footer — one driver-side footer read per NEW file per commit
        (O(commit files), the same loop that builds the manifest entry;
        distribute the collection if a single commit writes millions of
        files). Iceberg keeps the same stats in its manifests."""
        import pyarrow.parquet as pq

        meta = pq.read_metadata(str(path))
        out: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            for i in range(meta.num_columns):
                c = meta.row_group(rg).column(i)
                if c.path_in_schema in cols and c.statistics is not None:
                    s = c.statistics
                    if s.min is None or s.max is None:
                        continue
                    if c.path_in_schema in out:
                        lo, hi = out[c.path_in_schema]
                        out[c.path_in_schema] = [min(lo, s.min), max(hi, s.max)]
                    else:
                        out[c.path_in_schema] = [s.min, s.max]
        return out

    @staticmethod
    def _next_id(prev_id: int | None) -> int:
        return 0 if prev_id is None else prev_id + 1

    def _write_change_files(
        self, df: DataFrame, commit_id: int, kind: str
    ) -> list[str]:
        """Record-level change capture for one commit: the changed rows
        land under ``_changes/<commit-id>/<kind>-<uuid>/`` as plain
        parquet (written BEFORE the manifest publish — a crash
        pre-publish leaves only orphans, same invariant as data files).
        O(batch), not O(touched partitions): this is the cheap half of
        the commit. An empty change set lists no file, so no reader ever
        opens one.

        The uuid leaf is load-bearing for multi-writer safety: commit_id
        is SPECULATIVE until _publish wins, so two racing writers compute
        the same next id — a fixed path with mode=overwrite would let the
        LOSER wipe the winner's already-published change files (and their
        concurrent Spark jobs share one _temporary dir and corrupt each
        other). Unique dirs make every attempt's files immutable; a lost
        attempt leaves orphans that vacuum's commit-dir pruning reclaims.
        Readers never list these dirs — they follow the exact paths the
        winning manifest recorded."""
        out_dir = (
            Path(self.path) / _CHANGES_DIR / f"{commit_id:012d}"
            / f"{kind}-{uuid.uuid4().hex}"
        )
        # AQE-sized change files (guide §6): a small change set lands as
        # one file, not one per input partition (no-op when AQE is off).
        df.hint("rebalance").write.parquet(str(out_dir))
        if _drop_if_empty(out_dir):
            return []  # no change rows: list no file
        return [
            p.relative_to(Path(self.path)).as_posix()
            for p in sorted(out_dir.rglob("*.parquet"))
        ]

    # -- read side ----------------------------------------------------------
    def _data_path(self, path: str) -> str:
        """Absolute path of a file a manifest names: relative paths sit
        under the table root; absolute ones (borrowed by a shallow clone)
        stand as they are."""
        return str(Path(self.path).absolute() / path)

    def exists(self) -> bool:
        return self._latest_manifest() is not None

    def read(
        self,
        partition_filter: dict[str, object] | None = None,
        as_of: int | None = None,
        range_filter: dict[str, tuple] | None = None,
        point_filter: dict[str, object] | None = None,
    ) -> DataFrame:
        """Read the table as of the newest manifest (or a historical one
        via ``as_of`` — manifests are retained until vacuumed, so any
        still-referenced commit is readable: time travel, Hudi-timeline /
        Delta VERSION AS OF analogue). ``partition_filter`` ({col: value})
        prunes at the manifest level — no storage listing, no directory
        parsing.

        ``range_filter`` ({col: (lo, hi)}, bounds inclusive, None = open
        end) SKIPS whole data files using the per-file min/max recorded
        in the manifest for numeric cluster columns (Iceberg-style file
        skipping — clustering makes the bands narrow, so the prune is
        sharp) and applies the same predicate row-level as a residual, so
        results are exact whether or not a file had stats. Only cluster
        columns carry stats; asking for any other column is a loud
        error.

        ``point_filter`` ({col: value} or {col: [values...]} — equality
        / IN only) SKIPS whole files via the per-file Bloom filters a
        ``bloom_by`` table records — the point-lookup twin of
        range_filter for high-cardinality keys whose min/max bands all
        overlap. A list admits a file if ANY value might be present
        (one read for a batch of key lookups). No false negatives
        (bloom membership is conservative; a residual row filter keeps
        results exact even for files committed before blooms existed).
        MOR pruning is KEY-COLUMN-ONLY on delta/tombstone files: a
        delta whose bloom excludes a key value holds no rows for that
        key, so the key's latest-per-key resolution is unaffected —
        but pruning a delta on a NON-key column could hide a key's
        newest version and resurrect its superseded base row past the
        residual filter, so non-key lookups keep every delta and only
        prune base files (where dropping a row is always safe: it is
        either superseded or fails the residual anyway). NULL lookups
        are rejected loudly (blooms set no bits for null; filter
        isNull on the frame instead)."""
        if as_of is not None:
            if as_of not in self._manifest_ids():
                raise FileNotFoundError(
                    f"no manifest {as_of} under {self.path} "
                    f"(available: {self._manifest_ids()})"
                )
            if point_filter and not self._bloom_synced:
                # point lookups need the committed bloom bits/hashes
                # even on a historical read — sync from the LATEST
                # manifest (the config authority) before pruning
                self._latest_manifest()
            doc = self._load_manifest(as_of)
        else:
            latest = self._latest_manifest()
            if latest is None:
                raise FileNotFoundError(f"no committed manifest under {self.path}")
            _, doc = latest
        files = doc["files"]
        if range_filter:
            for c in range_filter:
                if c not in self.cluster_by:
                    raise ValueError(
                        f"range_filter column {c!r} is not a cluster column "
                        f"{self.cluster_by} — no file stats exist for it"
                    )
            # MOR: only BASE files may be pruned. Skipping a delta whose
            # NEW version falls outside the range would resurrect the
            # superseded base row the residual filter can't catch.
            files = [
                f for f in files
                if f.get("kind")
                or all(
                    (lo is None or s[1] >= lo) and (hi is None or s[0] <= hi)
                    for c, (lo, hi) in range_filter.items()
                    if (s := f.get("stats", {}).get(c)) is not None
                )
            ]
        if point_filter:
            pf: dict[str, list] = {}
            for c, v in point_filter.items():
                vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
                if not vals or any(x is None for x in vals):
                    raise ValueError(
                        f"point_filter[{c!r}] must be a non-null value "
                        "or a non-empty list of them — blooms cannot "
                        "prove null membership; use .filter(col(...)."
                        "isNull()) on the read frame instead"
                    )
                pf[c] = sorted(set(vals), key=str)
            # MOR: delta/tombstone files may only be pruned on KEY
            # columns (mirrors range_filter's base-file-only guard).
            # Pruning a delta on a non-key column can remove a key's
            # NEWEST version from the resolution, resurrecting the
            # superseded base row — which then passes the residual
            # filter (upsert k→pair A then k→pair B; lookup pair=A).
            files = [
                f for f in files
                if all(
                    any(self._bloom_admits(f, c, x) for x in vals)
                    for c, vals in pf.items()
                    if not f.get("kind") or c in self.keys
                )
            ]
            point_filter = pf
        if partition_filter:
            self._check_partition_filter(partition_filter)
            # Partition evolution (Iceberg-style): a file written under
            # an OLDER spec lacks the column in its partition dict — keep
            # it conservatively; the residual row filter below makes the
            # result exact either way.
            files = [
                f
                for f in files
                if all(
                    c not in f["partition"]
                    or f["partition"][c] == _partition_key(v)
                    for c, v in partition_filter.items()
                )
            ]
        df = self._read_files(
            files, StructType.fromJson(json.loads(doc["schema"]))
        )
        if range_filter:
            for c, (lo, hi) in range_filter.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= lo)
                if hi is not None:
                    df = df.filter(F.col(c) <= hi)
        if partition_filter:
            # residual for conservatively-kept legacy-layout files
            # (partition values are ordinary data columns, so this is an
            # exact row filter; on current-layout files it's a no-op the
            # scan's pushed filter removes for free)
            for c, v in partition_filter.items():
                df = df.filter(
                    F.col(c).isNull() if v is None else (F.col(c) == v)
                )
        if point_filter:
            # residual: blooms only prune files; surviving files still
            # hold other keys (and pre-bloom commits were kept whole)
            for c, vals in point_filter.items():
                df = df.filter(F.col(c).isin(*vals))
        return df

    def _check_partition_filter(self, partition_filter: dict) -> None:
        """A filter on a non-partition column would silently match
        nothing (manifest entries have no such key) — make it loud."""
        unknown = set(partition_filter) - set(self.partition_by)
        if unknown:
            raise ValueError(
                f"partition_filter names non-partition columns "
                f"{sorted(unknown)}; table is partitioned by "
                f"{self.partition_by}"
            )

    def _check_since(self, since: int) -> None:
        ids = self._manifest_ids()
        if since == -1:
            if 0 not in ids:
                raise FileNotFoundError(
                    f"history of {self.path} starts at manifest "
                    f"{ids[0] if ids else '<none>'} (vacuumed); bootstrap "
                    "from a full read instead of since=-1"
                )
            return
        if since not in ids:
            raise FileNotFoundError(
                f"no manifest {since} under {self.path} "
                f"(available: {ids}); "
                "vacuum may have pruned it — fall back to a full read"
            )

    # -- latest-per-key resolution ------------------------------------------

    # Columns the resolution adds next to the data; `_metadata` too: a
    # data column of that name hides the file-metadata column the tags
    # are read from.
    _MOR_META = ("_commit", "_sup", "_del", "_op", "_sc", "_rn", "_metadata")

    # Which rows of a tagged set are live. Tags: `_commit` (base files:
    # -1), `_sup` (the row's commit supersedes older versions of its
    # identity: upsert, delete, restore; an insert stacks) and `_del`
    # (a tombstone or removed row; NULL on a change-feed preimage, which
    # supersedes but never wins). `_sc` is the identity's newest
    # superseding commit, `_rn` its within-commit rank (see _rule).
    _KEEP = (
        "(NOT _sup AND _commit > _sc)"
        " OR (_sup AND NOT _del AND _commit = _sc AND _rn = 1)"
    )
    # A manifest entry's tag columns, and a base file's tag (the one
    # most files carry)
    _TAGS = ("_commit", "_sup", "_del")
    _BASE_TAG = ("-1", "FALSE", "FALSE")

    def _identity(self) -> list[str]:
        """A record's identity: its key plus its partition value
        (partition-scoped records, as the merge path matches them)."""
        return list(dict.fromkeys(self.keys + self.partition_by))

    def _rule(self, needs_rn: bool) -> tuple[str, str]:
        """SQL of the ``_sc`` and ``_rn`` windows of the MOR rule. Its
        semantics mirror the COW write path:

        - an identity's newest SUPERSEDING commit (``_sc``) wins and
          hides everything older, including insert duplicates;
        - additive rows (base files, insert deltas) newer than that
          commit stack on top, so insert duplicates are preserved;
        - a winning tombstone removes the identity.

        Base files resolve as commit -1: any delta older than a base
        file of its partition was replaced when that base was written,
        so every live delta is newer than its partition's base.

        ``_rn`` resolves several rows of one identity at the winning
        commit, which only a streaming-sink commit holds (``commit()``
        runs without a SparkSession, so its batch is not precombined;
        its entries carry ``pc=False``): the largest precombine wins and
        a delete wins ties, Hudi's ``_hoodie_is_deleted`` contract; a
        change-feed preimage ranks after every row of its commit. Only
        ``needs_rn`` callers pay that sort (measured +~2x on a
        compact+drift read); handle commits are precombined, so ``_rn``
        is 1 for them.

        One deliberate divergence from the COW merge: records here are
        strictly (key, partition)-scoped. COW's anti join matches on the
        KEY alone within whatever partitions a batch touches, so a batch
        that upserts key K into partition A while also touching
        partition B drops B's copy of K; MOR never does. Move a key
        between partitions with an explicit delete + upsert and the two
        table types agree."""
        ident = ", ".join(self._q(c) for c in self._identity())
        sc = (
            f"COALESCE(MAX(CASE WHEN _sup THEN _commit END)"
            f" OVER (PARTITION BY {ident}), -2)"
        )
        rn = (
            f"ROW_NUMBER() OVER (PARTITION BY {ident} ORDER BY _sup DESC,"
            f" _commit DESC, _del IS NULL, {self._q(self.precombine)} DESC,"
            f" _del DESC)"
            if needs_rn else "1"
        )
        return sc, rn

    def _resolved(
        self, rows: DataFrame, needs_rn: bool, cols: list[str]
    ) -> DataFrame:
        """The live ``cols`` of tagged ``rows`` (``_KEEP``)."""
        sc, rn = self._rule(needs_rn)
        return (
            rows.withColumn("_sc", F.expr(sc))
            .withColumn("_rn", F.expr(rn))
            .filter(self._KEEP)
            .select(*[F.col(c) for c in cols])
        )

    def _tag_sql(
        self, schema, tags: dict[str, tuple[str, ...]],
        defaults: tuple[str, ...], names: tuple[str, ...],
    ) -> list[str]:
        """One SQL select item per tag column ``names`` giving each row
        its file's tag: ``tags`` maps file paths to SQL literals, looked
        up by the row's ``_metadata.file_name`` (a name belongs to one
        write, so to one tag: Spark puts the write job's uuid in every
        file name, the streaming sink a uuid per file). Only files whose
        tag differs from ``defaults`` get map entries, and a hashed IN
        test keeps the other rows off the maps: string work on every
        row's path (a regex, even two substring searches) was measured
        at 1.5-4x the cost of the whole scan. Raises if ``schema`` uses
        a name the resolution adds."""
        clash = set(self._MOR_META) & {f.name for f in schema.fields}
        if clash:
            raise ValueError(
                f"MOR resolution reserves column names {self._MOR_META};"
                f" table schema uses {sorted(clash)}"
            )
        keyed = {
            p.rsplit("/", 1)[-1]: tag
            for p, tag in sorted(tags.items()) if tag != defaults
        }
        listed = ", ".join(f"'{k}'" for k in keyed)
        items = []
        for i, (default, name) in enumerate(zip(defaults, names)):
            pairs = [
                f"'{k}', {v[i]}" for k, v in keyed.items() if v[i] != default
            ]
            items.append(
                f"IF(_metadata.file_name IN ({listed}), COALESCE(map("
                f"{', '.join(pairs)})[_metadata.file_name], {default}),"
                f" {default}) AS {name}"
                if pairs else f"{default} AS {name}"
            )
        return items

    def _scan_tagged(
        self, schema, tags: dict[str, tuple[str, ...]],
        defaults: tuple[str, ...], names: tuple[str, ...],
    ) -> DataFrame:
        """ONE scan of the files ``tags`` names under ``schema``, each
        row carrying its file's tags as columns ``names``."""
        return self.spark.read.schema(schema).parquet(
            *[self._data_path(p) for p in tags]
        ).selectExpr("*", *self._tag_sql(schema, tags, defaults, names))

    @staticmethod
    def _file_tags(files: list[dict]) -> dict[str, tuple[str, str, str]]:
        """(_commit, _sup, _del) SQL literals of each manifest entry."""
        tags = {}
        for f in files:
            kind = f.get("kind")
            op = f.get("op") if kind else None
            tags[f["path"]] = (
                str(f.get("commit", -1)) if kind else "-1",
                "TRUE" if op in ("upsert", "delete") else "FALSE",
                "TRUE" if op == "delete" else "FALSE",
            )
        return tags

    @staticmethod
    def _needs_rn(files: list[dict]) -> bool:
        return any(f.get("kind") and f.get("pc") is False for f in files)

    def _read_files(self, files: list[dict], schema) -> DataFrame:
        """The live rows of manifest entries ``files``, read under the
        COMMITTED ``schema``, not parquet footers (the Delta/Iceberg read
        path): columns added by later commits are null-filled in older
        files, dropped columns stay dropped, and no footer-merging pass
        is needed — at 200k files, mergeSchema would read every footer
        before the first row. Without a delta or tombstone among them
        this is a plain scan; otherwise one scan, each row tagged from
        its file, resolved latest-per-key by the MOR rule (``_rule``) —
        the read amplification compaction exists to bound."""
        if not files:
            return _local_frame(self.spark, schema)
        if not any(f.get("kind") for f in files):
            return self.spark.read.schema(schema).parquet(
                *[self._data_path(f["path"]) for f in files]
            )
        rows = self._scan_tagged(
            schema, self._file_tags(files), self._BASE_TAG, self._TAGS
        )
        return self._resolved(rows, self._needs_rn(files), schema.fieldNames())

    # -- SQL catalog surface (hive-sync analogue) ---------------------------

    @staticmethod
    def _q(ident: str) -> str:
        """Backtick-quote a SQL identifier (column / view name part)."""
        return "`" + ident.replace("`", "``") + "`"

    def _q_name(self, name: str) -> str:
        """Quote a possibly database-qualified catalog name part by part."""
        return ".".join(self._q(p) for p in name.split("."))

    # Data paths and roots outside this alphabet cannot sit in a Hadoop
    # brace glob ({}[]*?, are glob metacharacters) or a SQL string
    # literal. Our own layout (data/commit-<hex>/ + hive-escaped
    # partition dirs, where unsafe chars are %-encoded) always matches.
    _GLOB_SAFE = re.compile(r"^[A-Za-z0-9._%=+@/-]+$")

    # Catalog names `<name>__snap_<manifest id>_<8 hex>` are reserved for
    # the snapshot tables behind a registered view.
    _SNAP_SUFFIX = "__snap_"
    # View properties a sync records and the next sync reads back.
    _SYNC_PROPS = ("dca.root", "dca.manifest", "dca.snapshot", "dca.previous")

    def _check_sql_embeddable_root(self) -> None:
        """The table ROOT is the prefix of every snapshot-table location;
        Hadoop globs the whole location string, so a root containing glob
        metacharacters ({}[]*?,) or SQL-literal breakers would silently
        corrupt all scans of a durable registered view (ADVICE r15).
        Refuse loudly instead."""
        root = self.path if "://" in self.path else str(Path(self.path).absolute())
        if "`" in root or "\n" in root:
            raise ValueError(f"table root not SQL-embeddable: {root!r}")
        scheme, _, rpath = root.rpartition("://")
        if not self._GLOB_SAFE.match(rpath) or (
            scheme and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*$", scheme)
        ):
            raise ValueError(
                f"table root {root!r} contains Hadoop glob metacharacters "
                "or other unsafe characters; register cannot address it "
                "— read through ManifestTable.read() instead"
            )

    def _snapshot_location(self, files: list[dict]) -> str:
        """One brace glob naming exactly the snapshot's live files, under
        their longest common directory."""
        paths = sorted(self._data_path(f["path"]) for f in files)
        for p in paths:
            if not self._GLOB_SAFE.match(p):
                raise ValueError(
                    f"data path {p!r} contains Hadoop glob metacharacters "
                    "or other unsafe characters; register cannot address "
                    "it — read through ManifestTable.read() instead"
                )
        if len(paths) == 1:
            return paths[0]
        prefix = os.path.commonpath(paths)
        rel = ",".join(os.path.relpath(p, prefix) for p in paths)
        return f"{prefix}/{{{rel}}}"

    def _view_sql(self, doc: dict, snap: str | None) -> str:
        """Body of the registered VIEW: the RESOLVED snapshot of manifest
        ``doc`` — the exact semantics of ``read()`` (committed schema with
        null-filled evolved columns, MOR latest-per-key resolution,
        tombstones removed) — over the snapshot table ``snap``, or a typed
        empty relation when the snapshot has no files (``snap`` None).

        COW: a plain projection of the snapshot table, whose declared
        schema null-fills columns older files predate, as ``read()`` does.
        MOR: ``read()``'s resolution as SQL text — one scan of the
        snapshot table, each row tagged from its file path
        (``_tag_sql``), under the ``_rule`` windows and the ``_KEEP``
        filter."""
        schema = StructType.fromJson(json.loads(doc["schema"]))
        cols = ", ".join(self._q(f.name) for f in schema.fields)
        if snap is None:
            nulls = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS {self._q(f.name)}"
                for f in schema.fields
            )
            return f"SELECT {nulls} FROM (SELECT 1) AS _e WHERE 1 = 0"
        src = self._q_name(snap)
        files = doc["files"]
        if not any(f.get("kind") for f in files):
            return f"SELECT {cols} FROM {src}"
        tags = ", ".join(self._tag_sql(
            schema, self._file_tags(files), self._BASE_TAG, self._TAGS
        ))
        sc, rn = self._rule(self._needs_rn(files))
        return (
            f"SELECT {cols} FROM (\n"
            f"  SELECT *, {sc} AS _sc, {rn} AS _rn FROM (\n"
            f"    SELECT {cols}, {tags} FROM {src}\n"
            f"  ) AS _raw\n"
            f") AS _resolved\n"
            f"WHERE {self._KEEP}"
        )

    def register(
        self, name: str, durable: bool = True, as_of: int | None = None
    ) -> None:
        """Catalog sync: make this table addressable from ``spark.sql``
        by ``name`` — the analogue of the reference's per-run Hudi
        hive-sync (glue/scripts/load_transactions.py:73-79 syncing Glue
        for Athena), which stores the schema in the catalog so Athena
        never reads a footer to plan a query.

        ``durable=True`` (default): two catalog entries. A **snapshot
        table** ``<name>__snap_<12-digit manifest id>_<8 hex>`` — an
        external parquet table declared with the committed schema, whose
        location is one brace glob of exactly the snapshot's live files —
        and a VIEW ``name`` over it holding the RESOLVED snapshot (MOR
        latest-per-key window, tombstones gone; see ``_view_sql``). A
        plain external-parquet table over the directory would resurrect
        superseded rows and read uncommitted files. Because the schema is
        declared, analysing a query on ``name`` never runs a Spark job.
        Both entries live in the shared catalog: any ``newSession()`` of
        this application — and, under a Hive metastore, any new PROCESS
        over the same warehouse — queries ``name``. ``durable=False``:
        session-scoped temp view over ``read()`` (same plan, no catalog
        entry). The ``__snap_`` suffix is reserved: do not create catalog
        entries named ``<registered name>__snap_*``.

        At 100 TB the snapshot location names ~200k files (a few MB of
        catalog metadata — the same order as the manifest itself, and the
        view text stays O(uncompacted delta files)); the graduation point
        is the same as the manifest's: a real deployment syncs an
        Iceberg/Delta catalog entry instead of a file list.

        Sync-on-write: a live registration (``as_of=None``) is recorded
        on this handle and REFRESHED after every commit this handle
        publishes (write/delete_where/compact/restore/...), exactly the
        reference's sync-every-run cadence. Each sync creates a new
        snapshot table (a fresh name, so no session reads a relation it
        cached for an older snapshot), repoints the view, and drops the
        snapshot table the view named two syncs ago; the one it named
        until now stays, so a reader that already resolved the old view
        still finds it. A live sync never moves the view to an older
        manifest of the same table than it names (syncs in one process are
        serialized; two processes syncing at once can orphan a snapshot
        table, which ``unregister`` drops). Writes from OTHER
        handles don't refresh it — re-run ``register`` (idempotent) to
        re-sync, or write through the registered handle. A failed
        refresh warns and leaves the previous (still-consistent, just
        stale) snapshot registered rather than failing the
        already-durable commit.

        ``as_of`` pins a historical snapshot (time-travel view); pinned
        registrations never auto-refresh. ``vacuum(keep_last=1)`` keeps
        every latest-snapshot file, so live views survive vacuums;
        pinned views outlive their manifest only until its files are
        reclaimed — drop them before vacuuming past their version."""
        self._register_once(name, durable=durable, as_of=as_of)
        if as_of is None:
            self._registered[name] = {"durable": durable}
            # SQL DML by name (manifest_sql): live registrations accept
            # INSERT/DELETE/UPDATE/MERGE routed through this handle.
            # Pinned (as_of) views are read-only history — no DML entry.
            _dml_register(name, self)
        else:
            self._registered.pop(name, None)

    def unregister(self, name: str) -> None:
        """Drop the catalog entry, every ``<name>__snap_*`` snapshot
        table, and stop refresh-on-commit for it."""
        self._registered.pop(name, None)
        _dml_unregister(name)
        # DROP VIEW resolves a temp view first: drop both kinds
        self.spark.catalog.dropTempView(name)
        try:
            self.spark.sql(f"DROP VIEW IF EXISTS {self._q_name(name)}")
        except AnalysisException:
            pass  # a TABLE holds the name: not ours to drop
        db, _, base = name.rpartition(".")
        if db and not self.spark.catalog.databaseExists(db):
            return
        pat = re.compile(
            re.escape(base.lower()) + self._SNAP_SUFFIX + r"\d{12}_[0-9a-f]{8}"
        )
        where = f" IN {self._q(db)}" if db else ""
        for row in self.spark.sql(
            f"SHOW TABLES{where} LIKE '{base}{self._SNAP_SUFFIX}*'"
        ).collect():
            if not row.isTemporary and pat.fullmatch(row.tableName.lower()):
                prefix = f"{db}." if db else ""
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._q_name(prefix + row.tableName)}"
                )

    def _registered_view(self, name: str) -> dict:
        """Sync properties of the view a previous ``register`` left under
        ``name`` ({} if there is none). Read from the session catalog
        directly: one metadata lookup, no query and no collect. A TABLE
        under the name (e.g. an external parquet table left by an earlier
        deployment) blocks CREATE OR REPLACE VIEW, so it is dropped —
        hive-sync owns the name, exactly like the reference's per-run
        Glue sync."""
        state = self.spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(self._q_name(name))
        if not state.catalog().tableExists(ident):
            return {}
        meta = state.catalog().getTableRawMetadata(ident)
        if meta.tableType().name() != "VIEW":
            self.spark.sql(f"DROP TABLE IF EXISTS {self._q_name(name)}")
            return {}
        props = meta.properties()
        return {k: props.apply(k) for k in self._SYNC_PROPS if props.contains(k)}

    def _register_once(
        self,
        name: str,
        durable: bool,
        as_of: int | None = None,
        doc: dict | None = None,
    ) -> None:
        if not durable:
            self.read(as_of=as_of).createOrReplaceTempView(name)
            return
        self._check_sql_embeddable_root()
        if doc is None:
            if as_of is None:
                latest = self._latest_manifest()
                if latest is None:
                    raise FileNotFoundError(
                        f"no committed manifest under {self.path}"
                    )
                doc = latest[1]
            elif as_of not in self._manifest_ids():
                raise FileNotFoundError(
                    f"no manifest {as_of} under {self.path} "
                    f"(available: {self._manifest_ids()})"
                )
            else:
                doc = self._load_manifest(as_of)
        root = str(Path(self.path).absolute())
        mid = int(doc["id"])
        snap = (
            f"{name}{self._SNAP_SUFFIX}{mid:012d}_{uuid.uuid4().hex[:8]}"
            if doc["files"] else None
        )
        body = self._view_sql(doc, snap)
        if snap:
            ddl = ", ".join(
                f"{self._q(f.name)} {f.dataType.simpleString()}"
                for f in StructType.fromJson(json.loads(doc["schema"])).fields
            )
            location = self._snapshot_location(doc["files"])
        quoted = self._q_name(name)
        with _SYNC_LOCK:
            if "." in name:
                db = name.split(".")[0]
                self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self._q(db)}")
            prior = self._registered_view(name)
            named = int(prior.get("dca.manifest", -1))
            if (
                as_of is None
                and prior.get("dca.root") == root
                and named > mid
                and named in self._manifest_ids()
            ):
                return  # the view already names a newer manifest
            if snap:
                # skipHiveMetadata: a Hive metastore would otherwise create
                # the glob's literal `{data/...` directories under the root.
                self.spark.sql(
                    f"CREATE TABLE {self._q_name(snap)} ({ddl}) USING parquet "
                    f"OPTIONS (path '{location}', skipHiveMetadata 'true')"
                )
            props = (root, mid, snap or "", prior.get("dca.snapshot", ""))
            tbl = ", ".join(
                f"'{k}' = '{v}'" for k, v in zip(self._SYNC_PROPS, props)
            )
            try:
                self.spark.sql(
                    f"CREATE OR REPLACE VIEW {quoted} TBLPROPERTIES ({tbl}) "
                    f"AS {body}"
                )
            except Exception:
                if snap:
                    self.spark.sql(f"DROP TABLE IF EXISTS {self._q_name(snap)}")
                raise
            stale = prior.get("dca.previous")
            if stale:
                self.spark.sql(f"DROP TABLE IF EXISTS {self._q_name(stale)}")

    def _sync_registered(self, doc: dict) -> None:
        """Refresh every live registration onto the just-published
        manifest (sync-on-write). Never fails the commit: the data is
        already durable; a refresh error leaves the prior consistent
        snapshot registered and warns."""
        import warnings

        for name, opts in list(self._registered.items()):
            try:
                self._register_once(name, durable=opts["durable"], doc=doc)
            except Exception as exc:  # pragma: no cover - catalog-layer only
                warnings.warn(
                    f"catalog sync of {name!r} failed after commit "
                    f"{doc.get('id')}: {exc}; view is stale until the next "
                    "successful register()/commit",
                    RuntimeWarning,
                    stacklevel=2,
                )

    def _changed_rows(
        self, since: int, schema
    ) -> tuple[DataFrame, bool] | None:
        """The captured change rows of every commit after ``since`` in
        ONE scan, tagged ``_commit``, ``_sup`` and ``_op`` ('u' | 'p' |
        'd'), and whether the range needs ``_rn`` (it holds a
        streaming-sink commit); None if no commit changed anything.
        Shared by read_incremental(records=True) and read_cdc."""
        tags: dict[str, tuple[str, str, str]] = {}
        needs_rn = False
        for cid in (i for i in self._manifest_ids() if i > since):
            doc = self._load_manifest(cid)
            ch = doc.get("changes")
            if ch is None:
                raise ValueError(
                    f"commit {cid} of {self.path} predates record-level "
                    "change capture; use records=False"
                )
            # Additive commits (insert/append) stack; everything else
            # supersedes older versions of the key. Commits written
            # before the op field read as "unknown" -> superseding (the
            # legacy behavior, safe for keyed tables).
            sup = "FALSE" if doc.get("op") in ("append", "insert") else "TRUE"
            # "preimages" is absent in pre-CDF-parity commits: .get()
            # skips it, old feeds just carry no update_preimage rows.
            for kind, op in (
                ("upserts", "u"), ("preimages", "p"), ("deletes", "d"),
            ):
                for p in ch.get(kind) or []:
                    tags[p] = (str(cid), sup, f"'{op}'")
            needs_rn = needs_rn or any(
                f.get("pc") is False and f.get("commit") == cid
                for f in doc["files"]
            )
        if not tags:
            return None
        # The latest committed schema: older change files null-fill
        # columns added later, same as read().
        return self._scan_tagged(
            schema, tags, ("-1", "TRUE", "'u'"), ("_commit", "_sup", "_op")
        ), needs_rn

    def read_cdc(self, since: int) -> DataFrame:
        """Raw change feed (Delta CDF / Hudi CDC analogue): EVERY captured
        change row of every commit after ``since``, uncollapsed, with
        ``_change_type`` ('upsert' | 'delete') and ``_commit`` metadata —
        the input for downstream replication that needs per-commit
        ordering (apply commits in ``_commit`` order), where
        ``read_incremental(records=True)`` gives only the collapsed
        latest state. Delete rows carry the removed row's full content
        (before-image), and an upsert that OVERWRITES a key also emits
        the old version as ``update_preimage`` (Delta CDF parity) — the
        piece that makes downstream INCREMENTAL AGGREGATE maintenance
        possible (apply +new, -preimage, -delete deltas; see
        streaming/cdc.feed_deltas). ``since=-1`` bootstraps from the beginning of
        history (valid only while commit 0 is still retained — vacuum
        truncates history, after which bootstrap from a full read)."""
        self._check_since(since)
        latest = self._latest_manifest()
        assert latest is not None
        schema = StructType.fromJson(json.loads(latest[1]["schema"]))
        changed = self._changed_rows(since, schema)
        cols = [F.col(f.name) for f in schema.fields] + [
            F.when(F.col("_op") == "d", F.lit("delete"))
            .when(F.col("_op") == "p", F.lit("update_preimage"))
            .otherwise(F.lit("upsert"))
            .alias("_change_type"),
            F.col("_commit"),
        ]
        if changed is None:
            empty = _local_frame(self.spark, schema)
            return empty.withColumn("_op", F.lit("u")).withColumn(
                "_commit", F.lit(0).cast("int")
            ).select(*cols)
        return changed[0].select(*cols)

    def read_incremental(self, since: int, records: bool = False) -> DataFrame:
        """Changes AFTER commit ``since`` — the Hudi incremental-query
        analogue (the reference's lake table supports incremental pulls by
        commit time — glue/scripts/load_transactions.py:61-80; here the
        unit is the manifest id). Consumers resume from ``commits()[-1]``.

        ``records=False`` (file-level): content of data files present in
        the newest manifest but absent from ``since`` — under COW that is
        every partition touched by any later commit, so unchanged rows of
        a touched partition are re-emitted, and content-neutral commits
        (compaction) re-emit rewritten files.

        ``records=True`` (record-level, Hudi incremental-pull semantics):
        only rows whose key actually changed, at their LATEST version —
        each commit captures its change set at write time (upsert = the
        batch plus the overwritten old versions as preimages — the
        preimage scan shares the replaced-file read the merge already
        does; delete = rows actually removed;
        append = the commit's own data files, referenced not rewritten;
        compaction = nothing), and the read resolves latest-per-key across
        the requested range by ``read()``'s MOR rule, over one scan of
        the CHANGED rows only — so it agrees with ``read()`` on every
        changed key, a streaming-sink batch's within-commit duplicates
        included. Keys whose newest change is a delete are excluded. A
        1-row upsert into a 10k-row partition yields 1 row, not the
        partition.
        ``since=-1`` (records mode only) reads from the beginning of
        retained history."""
        if since == -1 and not records:
            raise ValueError("since=-1 requires records=True (use read())")
        self._check_since(since)
        latest = self._latest_manifest()
        assert latest is not None
        schema = StructType.fromJson(json.loads(latest[1]["schema"]))
        if not records:
            old = {f["path"] for f in self._load_manifest(since)["files"]}
            new_files = [f for f in latest[1]["files"] if f["path"] not in old]
            if any(f.get("kind") == "tombstone" for f in new_files):
                # A tombstone's payload is a DELETION, not data — a
                # file-level read would emit the deleted keys as rows.
                raise ValueError(
                    "file-level incremental read cannot represent MOR "
                    "tombstone commits; use records=True (or compact first)"
                )
            if not new_files:
                return _local_frame(self.spark, schema)
            return self.spark.read.schema(schema).parquet(
                *[self._data_path(f["path"]) for f in new_files]
            )

        changed = self._changed_rows(since, schema)
        if changed is None:
            return _local_frame(self.spark, schema)
        # Latest version per record by the MOR rule read() uses: a key's
        # newest upsert/delete/restore commit hides older changes, while
        # INSERT commits are additive — duplicates inserted in DIFFERENT
        # commits all stay. A removed row or tombstone is a delete; a
        # preimage supersedes older versions but never wins (_del NULL).
        rows, needs_rn = changed
        rows = rows.withColumn(
            "_del",
            F.expr("CASE _op WHEN 'u' THEN FALSE WHEN 'd' THEN TRUE END"),
        )
        return self._resolved(rows, needs_rn, schema.fieldNames())

    def apply_cdc(self, feed: DataFrame) -> None:
        """Apply another table's ``read_cdc`` feed to THIS table, one
        source commit per local commit, in ``_commit`` order — downstream
        replication over the change feed (the Hudi/Delta CDC-sync
        pattern). Upserts apply as upserts, deletes by the deleted rows'
        keys, both sides of a source commit in ONE write_txn commit (a
        reader never sees a state between them; an upsert and a delete
        of one (key, partition) in that commit resolve as the source's
        read does); ``update_preimage`` rows are metadata for delta
        consumers and are ignored here (the postimage upsert replays
        the change). The replica converges to
        the source's latest state per key; legal same-key duplicates
        from source INSERT commits collapse under the replica's
        precombine (replicate with bulk_insert loads instead if
        duplicate-preservation matters). The commit loop is
        driver-side but bounded by the number of SOURCE commits in the
        feed (metadata-scale), not by rows."""
        commits = sorted(
            r["_commit"] for r in feed.select("_commit").distinct().collect()
        )
        for cid in commits:
            batch = feed.filter(F.col("_commit") == cid)
            ups = batch.filter(F.col("_change_type") == "upsert").drop(
                "_change_type", "_commit"
            )
            dels = batch.filter(F.col("_change_type") == "delete").drop(
                "_change_type", "_commit"
            )
            ups = ups if not ups.isEmpty() else None
            dels = dels if not dels.isEmpty() else None
            if ups is not None and dels is not None:
                # A keyed sink commit may hold an upsert and a delete of
                # one (key, partition): keep the upserts the source's
                # read keeps (the MOR rule over this commit's rows);
                # write_txn then drops every delete an upsert shares a
                # (key, partition) with. Handle commits never share one
                # between the sides, so for them this only collapses
                # what write_txn's precombine collapses anyway.
                rows = batch.filter(
                    F.col("_change_type") != "update_preimage"
                ).withColumns({
                    "_sup": F.lit(True),
                    "_del": F.col("_change_type") == "delete",
                })
                ups = self._resolved(rows, True, ups.columns)
            # ONE replica commit per source commit
            self.write_txn(ups, dels)

    # -- write side ---------------------------------------------------------
    def persisted_constraints(self) -> dict:
        """CHECK constraints persisted at the TABLE, not the handle:
        the ``_constraints.json`` sidecar at the root, written
        atomically by add_constraint/drop_constraint (the ``ALTER
        TABLE`` surface of manifest_sql). Unlike constructor
        ``constraints`` (per-handle config), these bind EVERY writer of
        the table from its next write — the self-describing-table
        property Delta keeps in table metadata. Re-read per write: a
        small JSON stat+load, noise next to the manifest IO the write
        already pays."""
        p = Path(self.path) / "_constraints.json"
        if not p.is_file():
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _write_constraints(self, cons: dict) -> None:
        p = Path(self.path) / "_constraints.json"
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_suffix(f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(cons, fh, indent=1, sort_keys=True)
        os.replace(tmp, p)

    def add_constraint(self, name: str, expr: str) -> None:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``:
        existing rows must already satisfy the expression (one
        violations probe; ANSI semantics — only FALSE violates, null
        passes), then the sidecar is atomically replaced. Loud on
        duplicate names."""
        cons = self.persisted_constraints()
        if name in cons or name in self.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        bad = self.read().filter(F.expr(f"NOT ({expr})")).take(3)
        if bad:
            raise ValueError(
                f"cannot add CHECK constraint {name!r} ({expr}): existing "
                f"row(s) violate it, e.g. {bad[0].asDict()}")
        cons[name] = expr
        self._write_constraints(cons)

    def drop_constraint(self, name: str, if_exists: bool = False) -> None:
        cons = self.persisted_constraints()
        if name not in cons:
            if name in self.constraints:
                raise ValueError(
                    f"constraint {name!r} is handle-constructor config, "
                    "not a persisted table constraint — rebuild the "
                    "handle without it")
            if if_exists:
                return
            raise ValueError(f"no persisted constraint {name!r}")
        del cons[name]
        self._write_constraints(cons)

    def _has_constraints(self) -> bool:
        return bool(self.constraints) or (
            Path(self.path) / "_constraints.json").is_file()

    def _check_constraints(self, df: DataFrame) -> None:
        cons = {**self.persisted_constraints(), **self.constraints}
        for name, expr in cons.items():
            sample = df.filter(~F.expr(expr)).take(3)  # one job, not two
            if sample:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{len(sample)}+ row(s), e.g. {sample[0].asDict()}"
                )

    def write(self, df: DataFrame, operation: str | WriteOperation) -> None:
        op = WriteOperation.parse(
            operation if isinstance(operation, str) else operation.value
        )
        if self.partition_by:
            self._check_partition_types(df)
        if self._has_constraints() and op != WriteOperation.DELETE:
            # Pin BEFORE validating: otherwise the validated rows and the
            # written rows are different materializations of a possibly
            # nondeterministic source, and the constraint gate proves
            # nothing about what lands on disk.
            df = _frozen(df)
            self._check_constraints(df)
        parts: frozenset[tuple] = frozenset()
        if self.table_type not in ("mor",) and op not in (
            WriteOperation.INSERT, WriteOperation.BULK_INSERT
        ):
            # Pin the PRECOMBINED batch: the merge path consumes it
            # several times (key set, change file, union) — pinning the
            # survivors evaluates the precombine window once, and a
            # nondeterministic input cannot be re-evaluated differently
            # per consumer. Pinning BEFORE the rebase loop also makes
            # every retry apply the SAME rows, and the touched partitions
            # the pin observed serve every retry.
            df, _, parts = _pin(
                precombine_dedup(df, self.keys, self.precombine),
                self.partition_by,
            )
        self._rebase(
            op.value, lambda prev: self._write_attempt(df, op, prev, parts)
        )

    def _write_attempt(
        self, df: DataFrame, op: WriteOperation, prev, parts: frozenset[tuple]
    ) -> None:
        """ONE optimistic-commit attempt of a single-frame write against
        the ``prev`` manifest (write() and the predicate DML, whose
        attempts re-evaluate their predicate first). ``parts`` is the
        touched-partition set a COW upsert or delete observed when it
        pinned ``df`` (see ``_pin``); MOR and append commits ignore it."""
        # Fail dtype conflicts UP FRONT, before any data file is
        # written (the merge path would otherwise union-cast and die
        # mid-write; MOR would commit files unreadable under the
        # committed schema). Re-checked per attempt: the winning
        # concurrent commit may have evolved the schema under us.
        if prev is not None:
            self._merge_schema_json(prev[1], df.schema)  # raises on conflict
        if self.table_type == "mor":
            if op in (WriteOperation.UPSERT, WriteOperation.DELETE):
                # Precombine stays LAZY (no checkpoint): the MOR commit
                # consumes the batch in exactly ONE write job (the change
                # set references those same files), never reads the
                # table's own files it could overwrite, and a rebase
                # retry that re-evaluates the plan writes a fresh,
                # self-consistent file set. Pinning here would add a full
                # materialization job per micro-batch commit — the
                # dominant cost of a high-frequency streaming sink.
                df = precombine_dedup(df, self.keys, self.precombine)
            self._mor_commit(
                [(df, op.value)], prev,
                "append" if op == WriteOperation.BULK_INSERT else op.value,
            )
        elif op in (WriteOperation.INSERT, WriteOperation.BULK_INSERT):
            self._append(df, prev)
        elif op == WriteOperation.UPSERT:
            self._cow_commit(df, None, prev, "upsert", parts)
        else:
            self._cow_commit(None, df, prev, "delete", parts)

    @staticmethod
    def _merge_schema_json(prev_doc: dict | None, batch_schema) -> str:
        """Committed schema for the next commit: previous fields plus any
        NEW batch fields appended (nullable) — the same union-evolution
        the COW merge path gets from unionByName. Static and
        SparkSession-free so the DataSource writer's driver-side commit
        (io/datasource.py) can reuse it."""
        if prev_doc is None:
            return batch_schema.json()
        prev = StructType.fromJson(json.loads(prev_doc["schema"]))
        by_name = {f.name: f for f in prev.fields}
        batch_by_name = {f.name: f for f in batch_schema.fields}
        # An overlapping batch field with a DIFFERENT physical dataType
        # must fail LOUDLY here, before publish: the commit's parquet
        # files hold the batch type while the committed schema would keep
        # the old one, so the write would succeed and every later read()
        # would die with a parquet conversion error — an
        # unreadable-but-committed table. Nullability-ONLY differences
        # inside nested types (array containsNull, struct field nullable
        # flips from a slightly different upstream plan) are NOT physical
        # conflicts — the parquet bytes are identical either way — so the
        # comparison is nullability-insensitive and the committed schema
        # widens those flags to nullable instead of rejecting the batch.
        conflicts = [
            (f.name, by_name[f.name].dataType.simpleString(),
             f.dataType.simpleString())
            for f in batch_schema.fields
            if f.name in by_name
            and _nullable_normalized(by_name[f.name].dataType)
            != _nullable_normalized(f.dataType)
        ]
        if conflicts:
            detail = ", ".join(
                f"{n!r}: table has {old}, batch has {new}"
                for n, old, new in conflicts
            )
            raise ValueError(
                f"schema conflict on existing column(s) — {detail}. "
                "Cast the batch to the committed type before writing "
                "(type CHANGES need a table rewrite, not a commit)."
            )
        kept = []
        for f in prev.fields:
            bf = batch_by_name.get(f.name)
            if bf is not None and (
                bf.dataType != f.dataType or bf.nullable != f.nullable
            ):
                # Same physical type, different nullability — NESTED
                # (containsNull/field flags inside the dataType) or
                # TOP-LEVEL (StructField.nullable itself): widen so the
                # committed metadata never claims non-null where a batch
                # file may legitimately hold nulls. A committed
                # nullable=False over null-bearing files would let
                # Catalyst constant-fold isNull() to false at read time.
                kept.append(
                    StructField(
                        f.name,
                        _nullable_normalized(f.dataType)
                        if bf.dataType != f.dataType
                        else f.dataType,
                        f.nullable or bf.nullable,
                    )
                )
            else:
                kept.append(f)
        merged = StructType(
            kept + [f for f in batch_schema.fields if f.name not in by_name]
        )
        return merged.json()

    def _mor_commit(
        self, parts: list[tuple[DataFrame, str]], prev, op: str
    ) -> None:
        """The merge-on-read commit body: every ``(frame, entry_op)``
        part lands as new files referenced by the next manifest — no
        existing file is read or rewritten, so commit cost is O(batch)
        regardless of partition size (the write-optimized half of the
        Hudi COW/MOR split). A "delete" part's files are tombstones,
        every other part's are deltas, all tagged with this commit's id;
        resolution happens at read (``_rule``). Upsert and delete
        parts arrive precombined (one row per key); inserts keep
        duplicates. A write_txn commit passes an upsert and a delete part
        whose (key, partition) sets write_txn made disjoint, so
        resolution is exactly delete + upsert at one commit id. The
        committed schema merges the FIRST part's."""
        prev_id, prev_doc = prev if prev else (None, None)
        next_id = self._next_id(prev_id)
        entries: list[dict] = []
        changes: dict[str, list[str]] = {"upserts": [], "deletes": []}
        for df, entry_op in parts:
            written = self._write_commit_files(df)
            for e in written:
                e["kind"] = "tombstone" if entry_op == "delete" else "delta"
                e["op"] = entry_op
                e["commit"] = next_id
            side = "deletes" if entry_op == "delete" else "upserts"
            changes[side] += [e["path"] for e in written]
            entries += written
        self._publish(
            prev_id,
            (prev_doc["files"] if prev_doc else []) + entries,
            self._merge_schema_json(prev_doc, parts[0][0].schema),
            changes,
            op=op,
        )

    def _append(self, df: DataFrame, prev) -> None:
        prev_id, prev_files = (prev[0], prev[1]["files"]) if prev else (None, [])
        if self._has_constraints() or self.cluster_by:
            # these features consume the batch more than once (validation
            # job, zorder boundary agg, then the write) — pin it so a
            # nondeterministic source can't pass validation with one
            # materialization and write another (no-op if write() pinned)
            df = _frozen(df)
        new_files = self._write_commit_files(df)
        # Change capture for free: an append commit's new data files ARE
        # exactly its added rows — reference them, write nothing twice.
        self._publish(
            prev_id,
            prev_files + new_files,
            # merged, not batch, schema: an insert missing an existing
            # column must not hide that column table-wide
            self._merge_schema_json(prev[1] if prev else None, df.schema),
            changes={"upserts": [f["path"] for f in new_files], "deletes": []},
            op="append",
        )

    def _cow_commit(
        self, ups: DataFrame | None, dels: DataFrame | None, prev, op: str,
        parts: frozenset[tuple],
    ) -> None:
        """The copy-on-write keyed commit body, for an upsert (``dels``
        None), a delete (``ups`` None) or a write_txn (both). Each frame
        is PINNED and precombined (one row per key), and write_txn made
        their (key, partition) sets disjoint. ``parts`` is the union of
        the partition tuples the frames' pins observed. Rewrites the
        touched partitions without either frame's keys, plus the upsert
        rows themselves. Key matching is partition-scoped only via which
        files get rewritten."""
        frames = [f for f in (ups, dels) if f is not None]
        if prev is None or not prev[1]["files"]:
            # Empty table: no survivors to merge with, and nothing a
            # delete could remove — no change rows either way. A delete
            # on a table that was never written publishes nothing; the
            # first upsert into a new table is labelled an append.
            if prev is None and ups is None:
                return
            prev_id, prev_doc = prev if prev else (None, None)
            new_files = self._write_commit_files(ups) if ups is not None else []
            self._publish(
                prev_id,
                new_files,
                self._merge_schema_json(prev_doc, frames[0].schema),
                changes={
                    "upserts": [f["path"] for f in new_files],
                    "deletes": [],
                },
                op="append" if prev is None and op == "upsert" else op,
            )
            return
        prev_id, prev_doc = prev
        replaced, kept, existing = self._split_by_touch(parts, prev_doc)

        def keyed(
            df: DataFrame, how: str, base: DataFrame = existing,
            cols: list[str] = self.keys, cond=F.lit(True),
        ) -> DataFrame:
            pred = cond & _eq_null_safe(cols, "e", "b")
            return base.alias("e").join(F.broadcast(df.alias("b")), pred, how)

        # no distinct needed: anti and semi joins only test existence
        all_keys = frames[0].select(*self.keys)
        for f in frames[1:]:
            all_keys = all_keys.unionByName(f.select(*self.keys))
        survivors = keyed(all_keys, "left_anti")
        # merged is deterministic (pinned frames + immutable committed
        # files) and consumed by exactly ONE write below, so it needs no
        # pin of its own — the r15 eager localCheckpoint here paid a full
        # extra materialization per merge just to answer isEmpty();
        # _write_commit_files(skip_if_empty=True) now answers that from
        # the written footers in the same single pass.
        merged = (
            survivors.unionByName(ups, allowMissingColumns=True)
            if ups is not None
            else survivors
        )

        # Record-level change capture (read_incremental(records=True)):
        # upserts -> every upsert row is a new record version, O(batch),
        # with preimages = the existing rows it overwrites (Delta CDF
        # parity; keys new to the table have none); deletes -> the rows
        # ACTUALLY removed (semi join over the replaced files only — a
        # delete key absent from the table, or present only in an
        # untouched partition under partition-scoped key semantics, is
        # NOT a change and must not be reported as one). Both semi joins
        # read the replaced files the merge already reads.
        if ups is not None:
            overwritten = keyed(ups.select(*self.keys), "left_semi")
        if dels is not None:
            removed = keyed(dels.select(*self.keys), "left_semi")
        if ups is not None and dels is not None and self.partition_by:
            # A txn may move a key: upsert K@P2, delete K@P1. Each
            # removed row lands in exactly ONE change list: a row whose
            # (key, partition) a delete names is a delete, any other row
            # an upsert key matches is a preimage. dels holds one row
            # per key, so the flagging left join adds no rows.
            ident = self._identity()
            flagged = keyed(
                dels.select(*ident).withColumn("_named", F.lit(True)),
                "left", cols=ident,
            ).select("e.*", "b._named")
            named = F.col("e._named").isNotNull()
            overwritten = keyed(
                ups.select(*self.keys), "left_semi", flagged, cond=~named
            ).drop("_named")
            removed = keyed(
                ups.select(*self.keys), "left_anti",
                keyed(dels.select(*self.keys), "left_semi", flagged),
                cond=~named,
            ).drop("_named")
        next_id = self._next_id(prev_id)
        # The change-capture writes and the commit-file write are
        # mutually independent single-consumer jobs over the pinned
        # frames + immutable committed files, so they run CONCURRENTLY
        # from driver threads (guide §2.6 — Spark's scheduler interleaves
        # them; publish still waits for ALL of them, so the crash
        # invariant "files before manifest" is unchanged).
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target as _itt

        changes: dict[str, list[str]] = {"upserts": [], "deletes": []}
        # Each submitted callable is wrapped with
        # pyspark.inheritable_thread_target, given the session: under
        # pinned-thread mode plain pool threads inherit NO local
        # properties — the caller's job group / scheduler pool would not
        # apply and cancelJobGroup could not reach an in-flight commit's
        # write jobs — and without the session the caller's
        # ``spark.addTag`` tags would not reach them either (and every
        # wrap warns). The wrapper also hands thread-lifecycle cleanup to
        # py4j instead of GC. ``_itt(self.spark)`` clones the caller's
        # local properties once per call, so each callable gets its own:
        # threads sharing one copy restore each other's execution id, job
        # tags and SQL confs mid-write.
        def inherit(fn):
            return _itt(self.spark)(fn)
        with ThreadPoolExecutor(4) as pool:
            pending = {}
            if ups is not None:
                pending["upserts"] = pool.submit(
                    inherit(self._write_change_files), ups, next_id, "u"
                )
                pending["preimages"] = pool.submit(
                    inherit(self._write_change_files), overwritten, next_id, "p"
                )
            if dels is not None:
                pending["deletes"] = pool.submit(
                    inherit(self._write_change_files), removed, next_id, "d"
                )
            f_files = pool.submit(
                inherit(self._write_commit_files), merged, True
            )
            changes.update({k: f.result() for k, f in pending.items()})
            new_files = f_files.result()
        self._publish(
            prev_id, kept + new_files, merged.schema.json(), changes, op=op
        )

    def _split_by_touch(
        self, touched: frozenset[tuple], prev_doc: dict
    ) -> tuple[list[dict], list[dict], DataFrame]:
        """(replaced, kept, existing) for a write touching the partition
        tuples ``touched``: the sets the commit's batches observed in
        their pin job (``_pin``), computed once before the rebase loop,
        so neither a retry nor this split runs a job for them. An
        unpartitioned table replaces every file.
        ``existing`` is the live rows of ONLY the replaced files of
        ``prev_doc``, resolved like ``read()`` (a streaming sink may
        have left deltas and tombstones there) — the manifest already
        names the touched partitions' file set, so the survivors scan
        never lists or opens untouched partitions (a full-read + filter
        would touch every live file's footer)."""
        prev_files = prev_doc["files"]
        if self.partition_by:
            def _touched(f: dict) -> bool:
                # Current-layout files match on their partition tuple; a
                # file from an OLDER partition spec (missing columns)
                # matches conservatively and gets rewritten under the
                # CURRENT layout — partition evolution migrates data on
                # the first merge that touches it.
                return any(
                    all(
                        c not in f["partition"] or f["partition"][c] == t[i]
                        for i, c in enumerate(self.partition_by)
                    )
                    for t in touched
                )

            replaced = [f for f in prev_files if _touched(f)]
        else:
            replaced = prev_files
        replaced_paths = {f["path"] for f in replaced}
        # set-membership, not list scans — manifests are O(live files)
        # and a 100 TB table has ~200k entries
        kept = [f for f in prev_files if f["path"] not in replaced_paths]
        committed = StructType.fromJson(json.loads(prev_doc["schema"]))
        return replaced, kept, self._read_files(replaced, committed)

    def write_txn(
        self,
        upserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
    ) -> None:
        """Atomic multi-op commit: remove ``deletes``' keys AND apply
        ``upserts`` in ONE manifest publish — a reader sees the table
        before or after BOTH, never between. This is what collapses the
        count/sketch stores' two-phase compaction (zero-out upsert, then
        sweep delete — crash-convergent but two commits and an
        intermediate state) into a single commit with no intermediate
        state at all (streaming/drift_maintenance.compact_count_store).

        Semantics: delete-then-upsert — a key present in BOTH frames
        at the same partition values nets to its upsert row (the delete
        of that key is dropped up front, so change capture and MOR
        tombstones never carry a same-commit delete+upsert conflict); a
        delete of the key in ANOTHER partition still applies, so one txn
        can move a key between partitions. Delete rows need the key
        columns (+ partition columns on a partitioned COW table, same
        as the delete op) and, like delete, absent keys are ignored
        (COW) / phantom tombstones (MOR — harmless to replay). Change
        capture is record-exact in the one commit: upsert rows,
        preimages of overwritten versions, and rows actually removed,
        so CDC/incremental consumers replay the txn atomically too.
        Concurrency: the _rebase contract, like write()."""
        if upserts is None and deletes is None:
            return
        if deletes is None:
            return self.write(upserts, "upsert")
        if upserts is None:
            return self.write(deletes, "delete")
        if self.partition_by:
            self._check_partition_types(upserts)
            self._check_partition_types(deletes)
        if self._has_constraints():
            upserts = _frozen(upserts)
            self._check_constraints(upserts)
        # both frames pinned AFTER the precombine: one row per key, the
        # window evaluated once however many consumers read them
        ups, _, ups_parts = _pin(
            precombine_dedup(upserts, self.keys, self.precombine),
            self.partition_by,
        )
        dels, _, dels_parts = _pin(
            precombine_dedup(deletes, self.keys, self.precombine),
            self.partition_by,
        )
        ident = self._identity()
        dels = dels.alias("d").join(
            F.broadcast(ups.select(*ident).alias("u")),
            _eq_null_safe(ident, "d", "u"),
            "left_anti",
        )
        # The anti join drops only deletes that share (key, partition)
        # with an upsert, so the pins' union is exactly the partitions
        # the commit touches.
        parts = ups_parts | dels_parts

        def attempt(prev) -> None:
            if prev is not None:
                self._merge_schema_json(prev[1], ups.schema)  # raises on conflict
            if self.table_type == "mor":
                self._mor_commit([(ups, "upsert"), (dels, "delete")], prev, "txn")
            else:
                self._cow_commit(ups, dels, prev, "txn", parts)

        self._rebase("txn", attempt)

    def delete_where(self, predicate: str | Column) -> int:
        """Predicate-based delete (Delta ``DELETE FROM ... WHERE``):
        one scan finds the matching keys, then the ordinary keyed
        delete path removes them — COW rewrites only the touched
        partitions, MOR lands O(matches) tombstones. Returns the number
        of rows deleted. At 100 TB put the partition column in the
        predicate: the matching scan prunes at the manifest level
        through read(), and the delete rewrite is already
        partition-bounded. The GDPR-delete shape.

        Concurrency: the _rebase contract, with the predicate
        re-evaluated per attempt against the manifest the attempt
        commits on (snapshot pinned via as_of to the same id the
        publish races on) — rows a concurrent commit changed out of the
        predicate are never deleted (Delta re-runs the predicate under
        its conflict check for the same reason)."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        ident = list(dict.fromkeys(
            self.keys + self.partition_by + [self.precombine]
        ))

        def attempt(prev) -> int:
            if prev is None:
                raise FileNotFoundError(
                    f"no committed manifest under {self.path}"
                )
            matching, n, _ = _pin(
                self.read(as_of=prev[0]).filter(cond).select(*ident)
            )
            if not n:
                return 0
            batch, parts = matching, frozenset()
            if self.table_type != "mor":
                batch, _, parts = _pin(
                    precombine_dedup(matching, self.keys, self.precombine),
                    self.partition_by,
                )
            self._write_attempt(batch, WriteOperation.DELETE, prev, parts)
            return n

        return self._rebase("delete_where", attempt)

    def update_where(
        self,
        predicate: str | Column,
        assignments: dict[str, str | Column],
    ) -> int:
        """Predicate-based update (Delta ``UPDATE ... SET ... WHERE``):
        matching rows are read, transformed, and upserted under their
        own keys — the change capture records preimages exactly as any
        upsert does, so CDC consumers see the update as (preimage,
        new-version) pairs. Key and partition columns must not be
        assigned (that is a delete+insert, not an update — loud).
        Returns the number of rows updated.

        Concurrency: as delete_where — the predicate and assignments
        re-evaluate per attempt, so a lost race never overwrites rows a
        concurrent commit moved out of the predicate."""
        forbidden = set(self.keys) | set(self.partition_by)
        bad = forbidden & set(assignments)
        if bad:
            raise ValueError(
                f"update_where cannot assign key/partition column(s) "
                f"{sorted(bad)} — move a row with an explicit "
                "delete + upsert (or write_txn)"
            )
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate

        def attempt(prev) -> int:
            if prev is None:
                raise FileNotFoundError(
                    f"no committed manifest under {self.path}"
                )
            rows, n, _ = _pin(self.read(as_of=prev[0]).filter(cond))
            if not n:
                return 0
            # assignments are deterministic projections over the pinned
            # snapshot, so the constraint gate needs no checkpoint of its
            # own; a COW merge pins the precombined rows below, which
            # evaluates the precombine window once. Each result is
            # CAST back to the column's committed type: UPDATE never
            # changes a column's type (ANSI/Delta), and without the cast
            # a bare literal like 99.0 parses as DECIMAL and would be
            # rejected as a schema conflict at write time.
            types = {f.name: f.dataType for f in rows.schema.fields}
            for c, expr in assignments.items():
                val = F.expr(expr) if isinstance(expr, str) else expr
                if c in types:
                    val = val.cast(types[c])
                rows = rows.withColumn(c, val)
            if self._has_constraints():
                self._check_constraints(rows)
            parts: frozenset[tuple] = frozenset()
            if self.table_type != "mor":
                rows, _, parts = _pin(
                    precombine_dedup(rows, self.keys, self.precombine),
                    self.partition_by,
                )
            self._write_attempt(rows, WriteOperation.UPSERT, prev, parts)
            return n

        return self._rebase("update_where", attempt)

    def restore(self, version: int) -> int:
        """Roll the table BACK to ``version`` as a NEW commit (the Delta
        RESTORE analogue): the new manifest references the target
        version's still-immutable data files — no data is rewritten —
        and readers atomically see the old content under a new commit
        id; the rolled-back commits stay time-travelable until vacuum.

        Change capture stays RECORD-EXACT so incremental/CDC consumers
        survive a restore: upserts = rows of the restored snapshot that
        differ from the current one (full-row exceptAll — unchanged rows
        are NOT re-emitted as changes), deletes = current rows whose key
        vanishes. That diff costs one pass over both snapshots; restores
        are exceptional events, ordinary commits stay O(batch). Returns
        the new commit id (the current id if already at ``version``).

        Concurrency: the _rebase contract — a concurrent commit during
        the restore re-runs the snapshot diff against the winner's
        manifest."""
        return self._rebase(
            "restore", lambda prev: self._restore_once(version, prev)
        )

    def _restore_once(self, version: int, prev) -> int:
        ids = self._manifest_ids()
        if version not in ids:
            raise FileNotFoundError(
                f"no manifest {version} under {self.path} "
                f"(available: {ids}); vacuum may have pruned it"
            )
        prev_id = prev[0]
        if version == prev_id:
            return prev_id
        target = self._load_manifest(version)
        tschema = StructType.fromJson(json.loads(target["schema"]))

        def _align(df: DataFrame) -> DataFrame:
            # Project onto the TARGET schema (restore reinstates it):
            # columns added after `version` drop, columns dropped since
            # null-fill — without this, exceptAll throws on any schema
            # evolution between the two versions (or silently compares
            # positionally), making restore unusable exactly when
            # rolling back a schema-changing commit.
            return df.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in tschema.fields
                ]
            )

        restored = _align(self.read(as_of=version))
        # pin `current` to the same manifest the publish races on, so a
        # commit landing mid-diff can't make the change capture reflect
        # a state other than the one this attempt replaces
        current = _align(self.read(as_of=prev_id))
        changed = restored.exceptAll(current)
        ident = self._identity()
        pred = _eq_null_safe(ident, "e", "b")
        removed = current.alias("e").join(
            restored.select(*ident).distinct().alias("b"), pred, "left_anti"
        )
        # preimages: current versions of keys the restore REWRITES (key
        # survives, content changes) — keeps delta consumers exact
        # across rollbacks, same contract as the upsert path.
        preimages = current.alias("e").join(
            changed.select(*ident).distinct().alias("b"), pred, "left_semi"
        )
        next_id = self._next_id(prev_id)
        changes = {
            "upserts": self._write_change_files(changed, next_id, "u"),
            "preimages": self._write_change_files(preimages, next_id, "p"),
            "deletes": self._write_change_files(removed, next_id, "d"),
        }
        self._publish(
            prev_id, target["files"], target["schema"], changes, op="restore"
        )
        return next_id

    def clone(
        self, target_path: str, version: int | None = None
    ) -> "ManifestTable":
        """SHALLOW clone (the Delta ``CREATE TABLE ... SHALLOW CLONE``
        analogue): publish a manifest at ``target_path`` whose entries
        reference THIS table's still-immutable data files by absolute
        path — zero data copied, clone cost is one JSON write
        regardless of table size. ``version`` clones a historical
        snapshot (time-travel clone); default is the newest commit.

        The clone is a fully independent table from commit 0 on: its
        writes land under its own root (a COW rewrite reads source
        files but writes replacements locally), its vacuum only ever
        reclaims files under its own root (absolute source paths never
        match the clone's data-dir walk), and the source never sees
        clone commits. Table spec (keys/precombine/partitioning/
        clustering/type/constraints) and the committed bloom config
        carry over.

        THE shallow-clone hazard, same as Delta's: the clone borrows
        the source's files, so a SOURCE-side ``vacuum`` that expires
        the cloned snapshot deletes files the clone still references —
        the source has no back-references. Keep the source's retention
        covering every live clone, or compact() the clone (which
        rewrites its live set into its own root) to cut the cord."""
        ids = self._manifest_ids()
        if not ids:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        mid = ids[-1] if version is None else version
        if mid not in ids:
            raise FileNotFoundError(
                f"no manifest {mid} under {self.path} (available: {ids})"
            )
        doc = self._load_manifest(mid)
        src_root = Path(self.path).resolve()
        files = [
            {**f, "path": str(src_root / f["path"])} for f in doc["files"]
        ]
        bloom = doc.get("bloom") or {}
        twin = ManifestTable(
            self.spark,
            str(target_path),
            keys=tuple(self.keys),
            precombine=self.precombine,
            partition_by=tuple(self.partition_by),
            cluster_by=tuple(self.cluster_by),
            cluster_files=self.cluster_files,
            cluster_method=self.cluster_method,
            table_type=self.table_type,
            constraints=dict(self.constraints),
            commit_retries=self.commit_retries,
            bloom_by=tuple(bloom["by"]) if bloom else None,
            bloom_bits=int(bloom.get("bits", self.bloom_bits)),
            bloom_hashes=int(bloom.get("hashes", self.bloom_hashes)),
        )
        if twin._manifest_ids():
            raise FileExistsError(
                f"{target_path} already holds a committed table — clone "
                "targets must be fresh paths"
            )
        # The clone's first manifest takes the SOURCE's commit id, not 0:
        # MOR delta/tombstone entries carry their source "commit" ids and
        # the MOR rule resolves latest-per-key purely by that field — a
        # clone restarting at id 1 would let a cloned tombstone (commit 2)
        # shadow the clone's OWN later upsert (commit 1), silently
        # swallowing writes. Starting at the source id makes every clone
        # commit strictly newer than everything it borrowed. (Time travel
        # below the clone point is simply absent — the clone has no
        # earlier history, same as Delta.)
        twin._publish(mid - 1 if mid > 0 else None, files, doc["schema"],
                      op="clone")
        return twin

    # -- maintenance --------------------------------------------------------
    def compact(
        self,
        partition_filter: dict[str, object] | None = None,
        target_files_per_partition: int = 1,
    ) -> int:
        """Small-file compaction as an ordinary manifest commit: rewrite
        the selected partitions' live files into ``target`` files each,
        publish a manifest swapping old entries for new — logical content
        unchanged, readers never see a partial state, vacuum reclaims the
        replaced files after the retention window (the Hudi-compaction
        analogue).

        ``partition_filter`` bounds the rewrite (run per partition on a
        schedule at scale; None = whole table). Returns the number of
        files replaced.

        Concurrency: the _rebase contract. Compaction is
        content-neutral, so losing the commit race to a writer just
        means the selected file set is stale — the next attempt
        re-selects against the winner's manifest and rewrites again
        (standard background-compactor behavior; the writer never waits
        on the compactor)."""
        return self._rebase(
            "compact",
            lambda prev: self._compact_once(
                prev, partition_filter, target_files_per_partition
            ),
        )

    def _compact_once(
        self,
        prev,
        partition_filter: dict[str, object] | None,
        target_files_per_partition: int,
    ) -> int:
        if prev is None:
            return 0
        if partition_filter:
            self._check_partition_filter(partition_filter)
        prev_id, doc = prev

        def selected(f: dict) -> bool:
            return not partition_filter or all(
                f["partition"].get(c) == _partition_key(v)
                for c, v in partition_filter.items()
            )

        if partition_filter:
            legacy = [
                f for f in doc["files"]
                if any(c not in f["partition"] for c in partition_filter)
            ]
            if legacy:
                # A legacy-spec file can hold BOTH matching and
                # non-matching rows: replacing it here would drop the
                # non-matching ones (current is filtered), keeping it
                # would duplicate the matching ones. Migrate first.
                raise ValueError(
                    f"{len(legacy)} file(s) predate the current partition "
                    "spec; run a full compact() (no partition_filter) to "
                    "migrate them before filtered compaction"
                )
        replaced = [f for f in doc["files"] if selected(f)]
        if not replaced:
            return 0
        kept = [f for f in doc["files"] if not selected(f)]
        current = self.read(partition_filter=partition_filter, as_of=prev_id)
        if not self.cluster_by:
            # clustered tables re-range inside _write_commit_files — a
            # pre-repartition here would just add a dead shuffle
            current = current.repartition(
                target_files_per_partition, *(self.partition_by or self.keys)
            )
        # No pin: compaction input is immutable committed files and the
        # frame is consumed by exactly one write (see _cow_commit).
        new_files = self._write_commit_files(current)
        self._publish(prev_id, kept + new_files, doc["schema"], op="compact")
        return len(replaced)

    def file_count(self) -> int:
        latest = self._latest_manifest()
        return len(latest[1]["files"]) if latest else 0

    def vacuum(
        self, keep_last: int = 1, orphan_grace_seconds: float = 3600.0
    ) -> int:
        """Delete data files not referenced by any RETAINED manifest
        (orphans from pre-publish crashes + files replaced by COW commits
        older than the retention window) plus the expired manifests and
        change captures. ``keep_last`` manifests are retained (>= 1): time
        travel, incremental reads and CDC feeds keep working for any
        ``since``/``as_of`` within the retained window — the
        retention-window knob production runs on a schedule so in-flight
        readers of recent commits never lose their files. Returns the
        number of data files removed.

        ``orphan_grace_seconds`` (r13, the multi-writer companion): a
        file referenced by NO manifest at all and younger than the
        grace window is KEPT — a concurrent writer between its data
        write and its manifest publish has exactly such files, and a
        vacuum racing it would otherwise delete them and brick the
        commit the moment it publishes (the same reason Delta's VACUUM
        refuses young files). Files referenced by an EXPIRED manifest
        are definitely published, so they reclaim immediately
        regardless of age. Default 1h dwarfs any write+rebase cycle;
        pass 0 ONLY when no writer can be in flight (quiesced
        maintenance windows)."""
        import time

        ids = self._manifest_ids()
        if not ids:
            return 0
        retained = ids[-max(keep_last, 1):]
        live = {
            f["path"]
            for mid in retained
            for f in self._load_manifest(mid)["files"]
        }
        ever_referenced = {
            f["path"]
            for mid in ids
            for f in self._load_manifest(mid)["files"]
        }
        removed = 0
        now = time.time()
        data_root = Path(self.path) / _DATA_DIR
        for p in data_root.rglob("*.parquet"):
            rel = p.relative_to(Path(self.path)).as_posix()
            if rel not in live:
                if (
                    rel not in ever_referenced
                    and now - p.stat().st_mtime < orphan_grace_seconds
                ):
                    continue  # possibly an in-flight writer's commit
                p.unlink()
                removed += 1
        # prune emptied commit dirs (incl. Spark's _SUCCESS/.crc
        # leftovers). Same grace guard as the file path: a concurrent
        # writer between mkdir and its first committed task file has a
        # commit dir with NO *.parquet yet (only _temporary) — rmdir'ing
        # it would fail the in-flight write job, so young dirs are kept.
        for d in sorted(data_root.glob("commit-*"), reverse=True):
            if now - d.stat().st_mtime < orphan_grace_seconds:
                continue  # possibly an in-flight writer's commit dir
            if not any(d.rglob("*.parquet")):
                for sub in sorted(
                    d.rglob("*"), key=lambda p: len(p.parts), reverse=True
                ):
                    sub.unlink() if sub.is_file() else sub.rmdir()
                d.rmdir()
        # Expired manifests reference vacuumed files — drop them, and drop
        # the change captures no retained read can reach: records/CDC
        # reads start strictly after a retained `since`, so only commits
        # AFTER the oldest retained manifest stay readable (or the whole
        # history while commit 0 is itself retained, for since=-1).
        for mid in ids:
            if mid not in retained:
                (self._manifest_dir() / f"{mid:012d}.json").unlink()
        reach_after = -1 if retained[0] == 0 else retained[0]
        ch_root = Path(self.path) / _CHANGES_DIR
        if ch_root.is_dir():
            for d in sorted(ch_root.glob("*")):
                if d.is_dir() and d.name.isdigit() and int(d.name) <= reach_after:
                    for sub in sorted(
                        d.rglob("*"), key=lambda p: len(p.parts), reverse=True
                    ):
                        sub.unlink() if sub.is_file() else sub.rmdir()
                    d.rmdir()
        return removed


# ---------------------------------------------------------------------------
# SQL DML over registered lakehouse names (VERDICT r15 #4)
# ---------------------------------------------------------------------------
# Spark 4.1's Python Data Source API cannot back a catalog TABLE: a
# `CREATE TABLE ... USING dca_manifest OPTIONS (path ...)` parses, but the
# options map arrives EMPTY in both reader() and writer() (probed
# empirically, r16), so `INSERT INTO <name>` can never learn which table
# it addresses. Until Spark forwards table properties to Python data
# sources, SQL DML routes through this front-end — the same position
# Delta Lake occupied before its JVM session extensions: SQL text in,
# handle-API transactions out, plain `spark.sql` for everything else.
# Reads stay on the registered VIEW (`register()`), which IS plain
# `spark.sql`.

_DML_REGISTRY: dict[str, "ManifestTable"] = {}
_DML_LOCK = _threading.Lock()


def _dml_register(name: str, table: "ManifestTable") -> None:
    with _DML_LOCK:
        _DML_REGISTRY[name.lower()] = table


def _dml_unregister(name: str) -> None:
    with _DML_LOCK:
        _DML_REGISTRY.pop(name.lower(), None)


def _dml_table(name: str) -> "ManifestTable":
    with _DML_LOCK:
        table = _DML_REGISTRY.get(name.strip("`").lower())
    if table is None:
        raise ValueError(
            f"{name!r} is not a registered ManifestTable in this process "
            "— call ManifestTable.register(name) on a live handle first "
            "(the DML registry is process-scoped; the read VIEW alone "
            "cannot accept writes)"
        )
    return table


_IDENT = r"[A-Za-z_][\w]*|`[^`]+`"
_DESCRIBE_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+(?P<name>{_IDENT})\s*;?\s*$", re.I)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+(?P<name>{_IDENT})"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]*)\))?\s*;?\s*$", re.I)
_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+(?P<name>{_IDENT})"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+COMMITS)?\s*;?\s*$", re.I)
_TIME_TRAVEL_RE = re.compile(
    rf"\b(?P<name>{_IDENT})\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<val>'[^']*'|\d+)", re.I)
_ALTER_CONSTRAINT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+"
    r"(?:ADD\s+CONSTRAINT\s+(?P<cname>\w+)\s+CHECK\s*\((?P<expr>.+)\)"
    r"|DROP\s+CONSTRAINT\s+(?:(?P<ifex>IF\s+EXISTS)\s+)?(?P<dname>\w+))"
    r"\s*;?\s*$",
    re.I | re.S,
)
_CREATE_TABLE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})\s+"
    r"USING\s+dca_manifest\s*"
    r"(?:OPTIONS\s*\((?P<opts>[^)]*)\)\s*)?"
    r"(?:LOCATION\s+'(?P<loc>[^']+)'\s*)?"
    r"(?:AS\s+(?P<query>(?:SELECT|VALUES|WITH|TABLE|FROM)\b.*))?$",
    re.I | re.S,
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    rf"(?P<name>{_IDENT})\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<query>(?:SELECT|VALUES|WITH|TABLE|FROM)\b.*)$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+(?P<name>{_IDENT})\s*"
    r"(?:WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+(?P<name>{_IDENT})\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.I | re.S,
)
_MERGE_HEAD_RE = re.compile(
    rf"^\s*MERGE\s+INTO\s+(?P<name>{_IDENT})(?:\s+(?:AS\s+)?(?P<talias>{_IDENT}))?"
    rf"\s+USING\s+(?P<src>\((?:[^()]|\([^()]*\))*\)|{_IDENT})"
    rf"(?:\s+(?:AS\s+)?(?P<salias>{_IDENT}))?"
    r"\s+ON\s+(?P<rest>.+)$",
    re.I | re.S,
)
_WHEN_KIND_RE = re.compile(
    r"^WHEN\s+(?P<kind>NOT\s+MATCHED\s+BY\s+SOURCE|"
    r"NOT\s+MATCHED(?:\s+BY\s+TARGET)?|MATCHED)\s+(?P<rest>.+)$",
    re.I | re.S,
)
_UPDATE_ACTION_RE = re.compile(r"^UPDATE\s+SET\s+(?P<sets>.+)$", re.I | re.S)
_INSERT_STAR_RE = re.compile(r"^INSERT\s*\*$", re.I)
_INSERT_VALUES_RE = re.compile(
    r"^INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\)$",
    re.I | re.S,
)


_WHEN_BOUNDARY_RE = re.compile(r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", re.I)
_CASE_KW_RE = re.compile(r"\bCASE\b", re.I)
_END_KW_RE = re.compile(r"\bEND\b", re.I)


def _top_level_scan(text: str, pat: re.Pattern, first: bool = False):
    """Indices where ``pat`` matches at TOP level: outside string/backtick
    literals, outside parens/brackets, and outside ``CASE ... END``
    expressions (a SQL condition or SET expression may contain nested
    WHEN/THEN only inside a CASE or a parenthesized subexpression — both
    are skipped here, so MERGE clause keywords are unambiguous)."""
    hits, depth, case_depth, quote, i = [], 0, 0, None, 0
    while i < len(text):
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "'\"`":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            m = _CASE_KW_RE.match(text, i)
            if m:
                case_depth += 1
                i = m.end()
                continue
            if case_depth > 0:
                m = _END_KW_RE.match(text, i)
                if m:
                    case_depth -= 1
                    i = m.end()
                    continue
            else:
                m = pat.match(text, i)
                if m:
                    hits.append(i)
                    if first:
                        return hits
                    i = m.end()
                    continue
        i += 1
    return hits


def _split_merge_tail(rest: str) -> tuple[str, list[str]]:
    """Split the text after ``ON`` into (on_condition, when_clauses) at
    top-level ``WHEN [NOT] MATCHED`` boundaries (see _top_level_scan)."""
    bounds = _top_level_scan(rest, _WHEN_BOUNDARY_RE)
    if not bounds:
        raise ValueError(
            "MERGE needs at least one WHEN [NOT] MATCHED clause")
    on_cond = rest[: bounds[0]].strip()
    clauses = [
        rest[b: e].strip()
        for b, e in zip(bounds, bounds[1:] + [len(rest)])
    ]
    return on_cond, clauses


class _MergeClause:
    """One parsed WHEN clause: kind in {'matched', 'not_matched',
    'not_matched_by_source'}; action in {'update', 'delete', 'insert'};
    cond is the optional AND predicate text; sets is {col: expr} for
    update ('*' sentinel resolved by the executor); insert_cols/vals for
    the INSERT (cols) VALUES (exprs) form (None = INSERT *)."""

    def __init__(self, kind: str, cond: str | None, action: str,
                 sets: dict | None = None,
                 insert_cols: list | None = None,
                 insert_vals: list | None = None,
                 star: bool = False):
        self.kind = kind
        self.cond = cond
        self.action = action
        self.sets = sets
        self.insert_cols = insert_cols
        self.insert_vals = insert_vals
        self.star = star


_THEN_KW_RE = re.compile(r"\bTHEN\b", re.I)


def _parse_merge_clause(text: str) -> _MergeClause:
    m = _WHEN_KIND_RE.match(text)
    if not m:
        raise ValueError(f"unparseable MERGE clause: {text!r}")
    kind_raw = re.sub(r"\s+", " ", m.group("kind").upper())
    kind = {
        "MATCHED": "matched",
        "NOT MATCHED": "not_matched",
        "NOT MATCHED BY TARGET": "not_matched",
        "NOT MATCHED BY SOURCE": "not_matched_by_source",
    }[kind_raw]
    rest = m.group("rest")
    # the clause's THEN is the first TOP-LEVEL one — a THEN inside a
    # CASE WHEN (or parens) in the AND-condition never terminates it
    hit = _top_level_scan(rest, _THEN_KW_RE, first=True)
    if not hit:
        raise ValueError(f"MERGE clause missing THEN: {text!r}")
    before = rest[: hit[0]].strip()
    action = rest[hit[0] + 4:].strip()
    cond = None
    if before:
        am = re.match(r"^AND\s+(?P<c>.+)$", before, re.I | re.S)
        if not am:
            raise ValueError(
                f"expected AND <condition> before THEN, got: {before!r}")
        cond = am.group("c").strip()
    if re.match(r"^DELETE\s*$", action, re.I):
        if kind == "not_matched":
            raise ValueError(
                "WHEN NOT MATCHED supports INSERT only (DELETE targets "
                "an existing row)")
        return _MergeClause(kind, cond, "delete")
    um = _UPDATE_ACTION_RE.match(action)
    if um:
        if kind == "not_matched":
            raise ValueError(
                "WHEN NOT MATCHED supports INSERT only (UPDATE targets "
                "an existing row)")
        sets_text = um.group("sets").strip().rstrip(";").strip()
        if sets_text == "*":
            if kind == "not_matched_by_source":
                raise ValueError(
                    "UPDATE SET * needs source columns; NOT MATCHED BY "
                    "SOURCE rows have none")
            return _MergeClause(kind, cond, "update", star=True)
        sets = {}
        for part in _split_top_level(sets_text):
            am = re.match(
                rf"^\s*(?:(?:{_IDENT})\s*\.\s*)?(?P<col>{_IDENT})\s*=\s*"
                r"(?P<expr>.+)$", part, re.S)
            if not am:
                raise ValueError(f"unparseable SET assignment: {part!r}")
            sets[am.group("col").strip("`").lower()] = am.group(
                "expr").strip()
        return _MergeClause(kind, cond, "update", sets=sets)
    if kind != "not_matched":
        raise ValueError(
            f"WHEN {kind_raw} supports UPDATE SET/DELETE, got: {action!r}")
    if _INSERT_STAR_RE.match(action.rstrip(";").strip()):
        return _MergeClause(kind, cond, "insert", star=True)
    im = _INSERT_VALUES_RE.match(action.rstrip(";").strip())
    if im:
        cols = [c.strip().strip("`").lower()
                for c in _split_top_level(im.group("cols"))]
        vals = _split_top_level(im.group("vals"))
        if len(cols) != len(vals):
            raise ValueError(
                f"INSERT column list has {len(cols)} names but VALUES "
                f"has {len(vals)} expressions")
        return _MergeClause(kind, cond, "insert",
                            insert_cols=cols, insert_vals=vals)
    raise ValueError(
        f"WHEN NOT MATCHED supports INSERT * or INSERT (cols) VALUES "
        f"(exprs), got: {action!r}")


def _split_top_level(text: str) -> list[str]:
    """Split on commas not nested in parens/brackets/quotes (SET a=f(x,y))."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"`":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _merge_general(
    table: "ManifestTable",
    source_df: DataFrame,
    talias: str,
    salias: str,
    on_cond: str,
    clauses: list[_MergeClause],
) -> int:
    """General MERGE executor (Delta-parity semantics): matched pairs by
    the arbitrary ON condition, first applicable clause wins per row,
    a target row matching multiple actionable source rows is an ERROR
    (nondeterministic — Delta's DELTA_MULTIPLE_SOURCE_ROW_MATCHING rule),
    and ALL resulting changes land as ONE atomic ``write_txn`` commit
    (updates+inserts as upserts, clause DELETEs as deletes), so change
    capture, OCC rebase and constraint checks apply to the whole MERGE.

    Plan shape at scale: one inner join (matched clauses), one left-anti
    per unmatched direction — all key-partitionable shuffles Catalyst is
    free to broadcast when the source is small; clause dispatch is a
    single chained CASE column, never a per-clause rescan of the join
    (the filters reuse the same join subtree). Record keys and partition
    columns cannot be SET (an update is a same-key upsert; moving a key
    across partitions is delete+insert, exactly Hudi/Delta's rule).
    """
    fields = table.read().schema.fields
    tcols = [f.name for f in fields]
    by_lower = {f.name.lower(): f for f in fields}
    key_set = {k.lower() for k in table.keys}
    part_set = {p.lower() for p in (table.partition_by or ())}
    # delete payload: keys + partition cols (the delete op's contract)
    # + the precombine column so write_txn's precombine_dedup resolves
    del_cols: list[str] = list(table.keys) + [
        c for c in list(table.partition_by or ())
        + ([table.precombine] if table.precombine else [])
        if c and c not in table.keys
    ]
    mc = [c for c in clauses if c.kind == "matched"]
    nmc = [c for c in clauses if c.kind == "not_matched"]
    nmsc = [c for c in clauses if c.kind == "not_matched_by_source"]

    src_lower = {c.lower() for c in source_df.columns}
    for c in clauses:
        if c.action == "update":
            if c.star:
                missing = [
                    f.name for f in fields
                    if f.name.lower() not in src_lower
                    and f.name.lower() not in key_set
                    and f.name.lower() not in part_set
                ]
                if missing:
                    raise ValueError(
                        f"MERGE UPDATE SET * needs every non-key table "
                        f"column in the source; missing {missing}")
                continue
            bad = sorted(set(c.sets) & key_set)
            if bad:
                raise ValueError(
                    f"MERGE cannot UPDATE record key column(s) {bad} — "
                    "express a key move as DELETE + INSERT")
            badp = sorted(set(c.sets) & part_set)
            if badp:
                raise ValueError(
                    f"MERGE cannot UPDATE partition column(s) {badp} — "
                    "express a partition move as DELETE + INSERT")
            unknown = sorted(set(c.sets) - set(by_lower))
            if unknown:
                raise ValueError(
                    f"MERGE SET column(s) {unknown} not in table schema "
                    f"{tcols}")
        elif c.action == "insert":
            if c.star:
                missing = [f.name for f in fields
                           if f.name.lower() not in src_lower]
                if missing:
                    raise ValueError(
                        f"MERGE INSERT * needs every table column in the "
                        f"source; missing {missing}")
                continue
            unknown = sorted(set(c.insert_cols) - set(by_lower))
            if unknown:
                raise ValueError(
                    f"MERGE INSERT column(s) {unknown} not in table "
                    f"schema {tcols}")
            nokey = sorted(key_set - set(c.insert_cols))
            if nokey:
                raise ValueError(
                    f"MERGE INSERT must supply the record key column(s); "
                    f"missing {nokey}")

    source_df = _pin(source_df).df
    src = source_df.alias(salias)
    cond = F.expr(on_cond)
    _ACT = "__dca_merge_act"

    def _act_col(group: list[_MergeClause]):
        expr = None
        for i, c in enumerate(group):
            cnd = F.expr(c.cond) if c.cond else F.lit(True)
            expr = (F.when(cnd, F.lit(i)) if expr is None
                    else expr.when(cnd, F.lit(i)))
        return expr.otherwise(F.lit(-1))

    def _value_expr(c: _MergeClause, f, has_target: bool) -> Column:
        """The value clause ``c`` writes into field ``f``."""
        if c.action == "insert":
            if c.star:
                return F.col(f"{salias}.`{f.name}`")
            vals = dict(zip(c.insert_cols, c.insert_vals))
            return (F.expr(vals[f.name.lower()])
                    if f.name.lower() in vals else F.lit(None))
        # UPDATE: SET * assigns every NON-key, NON-partition column from
        # the source; keys/partitions always come from the target (an
        # update is a same-key upsert — rewriting the key would orphan
        # the target row, which is why explicit SET on keys errors too)
        sets = (c.sets if not c.star
                else {f.name.lower(): f"{salias}.`{f.name}`"
                      for f in fields
                      if f.name.lower() not in key_set
                      and f.name.lower() not in part_set})
        if f.name.lower() in sets:
            return F.expr(sets[f.name.lower()])
        return (F.col(f"{talias}.`{f.name}`") if has_target
                else F.lit(None))

    def _flatten(frame: DataFrame, group: list[_MergeClause],
                 has_target: bool) -> DataFrame:
        """ONE projection evaluating every clause's output: the join
        subtree is computed once, pinned flat — the upsert/delete splits
        below filter the materialized result instead of re-running the
        join per clause (the difference between 1 and n_clauses+1 scans
        of the join at scale)."""
        cols = [F.col(_ACT)]
        for f in fields:
            v = None
            for i, c in enumerate(group):
                if c.action == "delete":
                    continue
                e = _value_expr(c, f, has_target)
                v = (F.when(F.col(_ACT) == i, e) if v is None
                     else v.when(F.col(_ACT) == i, e))
            cols.append(
                ((v if v is not None else F.lit(None)).cast(f.dataType)
                 ).alias(f.name))
        if has_target:
            cols.extend(F.col(f"{talias}.`{d}`").alias(f"__del_{d}")
                        for d in del_cols)
        return _pin(frame.filter(F.col(_ACT) >= 0).select(*cols)).df

    def _split(flat: DataFrame, group: list[_MergeClause]):
        upd_idx = [i for i, c in enumerate(group) if c.action != "delete"]
        del_idx = [i for i, c in enumerate(group) if c.action == "delete"]
        if upd_idx:
            ups_parts.append(
                flat.filter(F.col(_ACT).isin(upd_idx))
                .select(*[F.col(f"`{f.name}`") for f in fields]))
        if del_idx:
            del_parts.append(
                flat.filter(F.col(_ACT).isin(del_idx))
                .select(*[F.col(f"`__del_{d}`").alias(d)
                          for d in del_cols]))

    ups_parts: list[DataFrame] = []
    del_parts: list[DataFrame] = []

    if mc:
        j = (table.read().alias(talias)
             .join(src, cond, "inner")
             .withColumn(_ACT, _act_col(mc)))
        flat = _flatten(j, mc, has_target=True)
        dup = (
            flat.groupBy(*[F.col(f"`__del_{k}`") for k in table.keys])
            .count()
            .filter(F.col("count") > 1)
        )
        if dup.limit(1).count() > 0:
            raise ValueError(
                "MERGE: a target row matched MULTIPLE source rows with an "
                "applicable WHEN MATCHED clause — the result would be "
                "nondeterministic; de-duplicate the source on the join "
                "condition first (Delta raises the same error)")
        _split(flat, mc)

    if nmc:
        nm = (src.join(table.read().alias(talias), cond, "left_anti")
              .withColumn(_ACT, _act_col(nmc)))
        _split(_flatten(nm, nmc, has_target=False), nmc)

    if nmsc:
        nms = (table.read().alias(talias)
               .join(src, cond, "left_anti")
               .withColumn(_ACT, _act_col(nmsc)))
        _split(_flatten(nms, nmsc, has_target=True), nmsc)

    def _union(parts: list[DataFrame]) -> _Pinned | None:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return _pin(out)

    ups, dels = _union(ups_parts), _union(del_parts)
    table.write_txn(upserts=ups.df if ups else None,
                    deletes=dels.df if dels else None)
    return (ups.rows if ups else 0) + (dels.rows if dels else 0)


def _align_to_table(table: "ManifestTable", df: DataFrame,
                    cols: list[str] | None) -> DataFrame:
    """INSERT column resolution: by POSITION against the committed schema
    (no column list), or by the explicit column list with unnamed columns
    null-filled — the ANSI/Spark INSERT contract. Values cast to the
    table's types (an incompatible cast fails at analysis, loudly)."""
    fields = table.read().schema.fields
    if cols is None:
        if len(df.columns) != len(fields):
            raise ValueError(
                f"INSERT by position needs {len(fields)} columns "
                f"({[f.name for f in fields]}), got {len(df.columns)}"
            )
        return df.select(*[
            F.col(df.columns[i]).cast(f.dataType).alias(f.name)
            for i, f in enumerate(fields)
        ])
    names = {f.name.lower(): f for f in fields}
    want = [c.strip().strip("`") for c in cols]
    unknown = [c for c in want if c.lower() not in names]
    if unknown:
        raise ValueError(
            f"INSERT column(s) {unknown} not in table schema "
            f"{[f.name for f in fields]}"
        )
    if len(df.columns) != len(want):
        raise ValueError(
            f"INSERT column list has {len(want)} names but the query "
            f"produces {len(df.columns)} columns"
        )
    by_name = {c.lower(): df.columns[i] for i, c in enumerate(want)}
    return df.select(*[
        (F.col(by_name[f.name.lower()]) if f.name.lower() in by_name
         else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in fields
    ])


def _rewrite_time_travel(
    spark: SparkSession, text: str
) -> tuple[str, list[str]]:
    """Rewrite ``<registered-name> VERSION AS OF <n>`` / ``TIMESTAMP AS
    OF '<ts>'`` references into session temp views pinned at that
    snapshot (``register(durable=False, as_of=...)``), so plain SELECTs
    through ``manifest_sql`` get Delta/Iceberg-style time travel over
    the VIEW-based catalog (a VIEW itself cannot carry the AS OF — Spark
    resolves that syntax only for real tables). Names not in the DML
    registry pass through untouched (spark.sql will error on them,
    loudly and accurately). Returns (rewritten_text, temp views to drop
    after analysis — the returned DataFrame keeps its resolved plan)."""
    import datetime as _dt

    drops: list[str] = []

    def _sub(m: re.Match) -> str:
        name = m.group("name").strip("`")
        with _DML_LOCK:
            table = _DML_REGISTRY.get(name.lower())
        if table is None:
            return m.group(0)
        val = m.group("val")
        if m.group("kind").upper() == "VERSION":
            version = int(val)
        else:
            ts = _dt.datetime.fromisoformat(val.strip("'"))
            version = table.version_at_timestamp(ts)
        alias = f"{name}__asof_{version}_{uuid.uuid4().hex[:6]}"
        table.register(alias, durable=False, as_of=version)
        drops.append(alias)
        return alias

    return _TIME_TRAVEL_RE.sub(_sub, text), drops


def manifest_sql(spark: SparkSession, text: str) -> DataFrame:
    """SQL entry point with lakehouse DML: INSERT INTO / DELETE FROM /
    UPDATE / MERGE INTO statements naming a ``register()``-ed
    ManifestTable are routed through the handle's transactional paths
    (OCC rebase loop, change capture, constraint checks, sync-on-write
    view refresh all apply); every other statement — including all reads,
    which resolve against the registered VIEW — passes through to
    ``spark.sql`` unchanged. See the module note above for WHY this
    front-end exists (Spark cannot yet route SQL writes to a Python data
    source table).

    Supported DML, mapped to the Athena/Hudi write surface the reference
    drives through Glue jobs (glue/scripts/load_transactions.py:117-122
    writes by table path then syncs the name):

    - ``INSERT INTO name [(cols)] <query|VALUES ...>`` -> ``write(df,
      "insert")`` (append; by-position or by-column-list resolution)
    - ``INSERT OVERWRITE name [(cols)] <query>`` -> ``write_txn(upserts=
      new, deletes=current)`` — full replacement as ONE commit with
      delete capture, never a directory swap
    - ``DELETE FROM name [WHERE pred]`` -> ``delete_where(pred)``
    - ``UPDATE name SET c = expr, ... [WHERE pred]`` ->
      ``update_where(pred, assignments)``
    - ``MERGE INTO name [AS t] USING src [AS s] ON <cond> WHEN ...``:
      the full Delta-parity grammar — any number of ``WHEN MATCHED
      [AND c] THEN UPDATE SET a=expr,.../UPDATE SET */DELETE``, ``WHEN
      NOT MATCHED [BY TARGET] [AND c] THEN INSERT */(cols) VALUES
      (exprs)`` and ``WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE
      SET .../DELETE`` clauses, first applicable clause per row, the
      multiple-source-rows-match case raised as an error, everything
      committed atomically via ``write_txn`` (see ``_merge_general``).
      The canonical unconditional ``UPDATE SET * / INSERT *`` MERGE
      whose ON equates the record keys skips the target join entirely
      and routes through ``write(df, "upsert")`` — O(batch), the
      streaming-ingest plan

    - ``CREATE TABLE [IF NOT EXISTS] name USING dca_manifest OPTIONS
      (keys='k1[,k2]' [, precombine=..., partition_by=..., table_type=
      'cow'|'mor', cluster_by=..., cluster_method=...]) [LOCATION
      'path'] AS <query>`` -> a new ManifestTable (CTAS bulk_insert) +
      ``register(name)`` — the whole table lifecycle becomes SQL-only;
      LOCATION omitted = managed directory under the session warehouse

    Utility statements (Delta's maintenance SQL, mapped to the handle):

    - ``ALTER TABLE name ADD CONSTRAINT c CHECK (expr)`` /
      ``DROP CONSTRAINT [IF EXISTS] c`` -> persisted table constraints
      (``_constraints.json`` sidecar): existing rows are validated on
      ADD, and every writer of the table — any handle, the streaming
      sink path excepted, SQL DML — enforces them from its next write
    - ``DESCRIBE HISTORY name`` -> ``history()`` (one row per retained
      commit: op kind + file/change-capture counts)
    - ``OPTIMIZE name [ZORDER BY (c1, c2)]`` -> ``compact()``, with the
      ZORDER columns applied to this rewrite only; returns
      ``num_files_replaced``
    - ``VACUUM name [RETAIN n COMMITS]`` -> ``vacuum(keep_last=n)``
      (commit-count retention, not Delta's hour-based RETAIN — the
      honest spelling of what the manifest retention window is);
      returns ``num_files_removed``

    Time travel in pass-through reads: ``FROM name VERSION AS OF n`` /
    ``name TIMESTAMP AS OF '2024-01-01 12:00:00'`` on a registered name
    resolves against that pinned snapshot (see _rewrite_time_travel).

    DML returns a 1-row ``num_affected_rows`` frame (Delta's contract);
    INSERT counts the appended batch. Every statement result (DML,
    CTAS, ALTER, ``OPTIMIZE``'s ``num_files_replaced``, ``VACUUM``'s
    ``num_files_removed``) is a nullable ``bigint`` column in a local
    relation built from the count on the driver, so collecting it runs
    no Spark job. The DML registry is process-scoped: a fresh process
    must re-``register()`` handles before writing by name (reads need no
    handle — the VIEW is durable).
    """
    m = _CREATE_TABLE_RE.match(text)
    if m:
        name = m.group("name").strip("`")
        with _DML_LOCK:
            exists = name.lower() in _DML_REGISTRY
        if exists:
            if re.match(r"^\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS", text,
                        re.I):
                return _count_frame(spark, "num_affected_rows", 0)
            raise ValueError(
                f"table {name!r} is already registered — use CREATE TABLE "
                "IF NOT EXISTS, or a different name")
        if not m.group("query"):
            raise ValueError(
                "CREATE TABLE ... USING dca_manifest requires AS <query> "
                "— the committed schema comes from the first commit "
                "(CTAS); to attach an EXISTING table directory, build a "
                "ManifestTable handle and register() it")
        opts: dict[str, str] = {}
        for part in _split_top_level(m.group("opts") or ""):
            km = re.match(
                r"^\s*(?P<k>[\w.]+)\s*=\s*'(?P<v>[^']*)'\s*$", part)
            if not km:
                raise ValueError(
                    f"unparseable OPTIONS entry {part!r} (expected "
                    "key='value')")
            opts[km.group("k").lower()] = km.group("v")
        allowed = {"keys", "precombine", "partition_by", "table_type",
                   "cluster_by", "cluster_method"}
        unknown = sorted(set(opts) - allowed)
        if unknown:
            raise ValueError(
                f"unknown OPTIONS key(s) {unknown}; supported: "
                f"{sorted(allowed)}")
        if "keys" not in opts:
            raise ValueError(
                "CREATE TABLE ... USING dca_manifest needs OPTIONS "
                "(keys='k1[,k2]') — every lake table is keyed")

        def _csv(s: str) -> tuple[str, ...]:
            return tuple(x.strip() for x in s.split(",") if x.strip())

        loc = m.group("loc")
        if not loc:
            # managed table: directory under the session warehouse,
            # Delta's CREATE-without-LOCATION behavior
            wh = re.sub(r"^file:/{0,2}(?=/)", "",
                        spark.conf.get("spark.sql.warehouse.dir"))
            loc = str(Path(wh) / name)
        if (Path(loc) / _MANIFEST_DIR).is_dir():
            raise ValueError(
                f"{loc!r} already contains a ManifestTable — attach it "
                "with ManifestTable(spark, path, ...).register(name) "
                "instead of CREATE TABLE")
        keys = _csv(opts["keys"])
        table = ManifestTable(
            spark, loc,
            keys=keys,
            precombine=opts.get("precombine", keys[0]),
            partition_by=_csv(opts.get("partition_by", "")),
            cluster_by=_csv(opts.get("cluster_by", "")),
            cluster_method=opts.get("cluster_method", "linear"),
            table_type=opts.get("table_type", "cow"),
        )
        df, n, _ = _pin(spark.sql(m.group("query")))
        table.write(df, "bulk_insert")
        table.register(name)
        return _count_frame(spark, "num_affected_rows", n)
    m = _ALTER_CONSTRAINT_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        if m.group("cname"):
            table.add_constraint(m.group("cname"), m.group("expr").strip())
        else:
            table.drop_constraint(
                m.group("dname"), if_exists=bool(m.group("ifex")))
        return _count_frame(spark, "num_affected_rows", 0)
    m = _DESCRIBE_HISTORY_RE.match(text)
    if m:
        return _dml_table(m.group("name")).history()
    m = _OPTIMIZE_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        if m.group("cols"):
            cols = [c.strip().strip("`")
                    for c in _split_top_level(m.group("cols"))]
            # ZORDER BY applies to THIS optimize only (Delta's contract):
            # compact() rewrites through the ordinary write path, which
            # consults cluster_by/cluster_method — override, restore
            saved = (table.cluster_by, table.cluster_method)
            table.cluster_by, table.cluster_method = cols, "zorder"
            try:
                n = table.compact()
            finally:
                table.cluster_by, table.cluster_method = saved
        else:
            n = table.compact()
        return _count_frame(spark, "num_files_replaced", n)
    m = _VACUUM_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        n = table.vacuum(
            keep_last=int(m.group("n")) if m.group("n") else 1)
        return _count_frame(spark, "num_files_removed", n)
    m = _INSERT_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        src = spark.sql(m.group("query"))
        cols = _split_top_level(m.group("cols")) if m.group("cols") else None
        batch, n, _ = _pin(_align_to_table(table, src, cols))
        if m.group("mode").upper() == "OVERWRITE":
            # full-content replacement as ONE atomic commit with real
            # delete capture (write_txn: delete every current key, land
            # the new rows) — never a bare directory swap, so CDC and
            # replica consumers see the overwrite as ordinary changes
            table.write_txn(upserts=batch, deletes=table.read())
        else:
            table.write(batch, "insert")
        return _count_frame(spark, "num_affected_rows", n)
    m = _DELETE_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        n = table.delete_where(m.group("pred") or F.lit(True))
        return _count_frame(spark, "num_affected_rows", n)
    m = _UPDATE_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        sets: dict[str, str] = {}
        for part in _split_top_level(m.group("sets")):
            col, eq, expr = part.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise ValueError(f"cannot parse UPDATE assignment {part!r}")
            sets[col.strip().strip("`")] = expr.strip()
        n = table.update_where(m.group("pred") or F.lit(True), sets)
        return _count_frame(spark, "num_affected_rows", n)
    m = _MERGE_HEAD_RE.match(text)
    if m:
        table = _dml_table(m.group("name"))
        on_cond, clause_texts = _split_merge_tail(m.group("rest"))
        clauses = [_parse_merge_clause(c) for c in clause_texts]
        src = m.group("src")
        source_df = spark.sql(
            f"SELECT * FROM {src}" if not src.startswith("(")
            else f"SELECT * FROM {src} AS __merge_src"
        )
        talias = (m.group("talias") or m.group("name")).strip("`")
        salias = (m.group("salias") or
                  (src.strip("`") if not src.startswith("(")
                   else "__merge_src"))
        # Fast path — the canonical upsert MERGE (unconditional UPDATE
        # SET * + INSERT *, ON equates exactly the record keys): the
        # source IS the upsert batch, so write() it directly with NO
        # target scan at all — the O(batch) plan a streaming upsert
        # needs; the general executor below would join the full table.
        kinds = sorted(c.kind for c in clauses)
        if (kinds == ["matched", "not_matched"]
                and all(c.cond is None and c.star for c in clauses)
                and {c.action for c in clauses} == {"update", "insert"}):
            pairs = re.split(r"\s+AND\s+", on_cond.strip(), flags=re.I)
            on_keys = set()
            for p in pairs:
                eq = re.match(
                    rf"^\s*(?:(?:{_IDENT})\s*\.\s*)?(?P<a>{_IDENT})\s*=\s*"
                    rf"(?:(?:{_IDENT})\s*\.\s*)?(?P<b>{_IDENT})\s*$",
                    p,
                )
                if (eq and eq.group("a").strip("`").lower()
                        == eq.group("b").strip("`").lower()):
                    on_keys.add(eq.group("a").strip("`").lower())
                else:
                    on_keys = None
                    break
            if on_keys == {k.lower() for k in table.keys}:
                fields = table.read().schema.fields
                have = {c.lower() for c in source_df.columns}
                missing = [f.name for f in fields
                           if f.name.lower() not in have]
                if missing:
                    raise ValueError(
                        f"MERGE source lacks table column(s) {missing} "
                        "(UPDATE SET * / INSERT * need every column)"
                    )
                batch, n, _ = _pin(source_df.select(*[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in fields
                ]))
                table.write(batch, "upsert")
                return _count_frame(spark, "num_affected_rows", n)
        n = _merge_general(
            table, source_df, talias, salias, on_cond, clauses)
        return _count_frame(spark, "num_affected_rows", n)
    rewritten, drops = _rewrite_time_travel(spark, text)
    try:
        # spark.sql resolves the pinned temp views at ANALYSIS time;
        # dropping them afterward leaves the returned frame intact
        return spark.sql(rewritten)
    finally:
        for v in drops:
            spark.catalog.dropTempView(v)
