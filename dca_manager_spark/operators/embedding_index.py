"""Persisted sign-LSH index over an embedding corpus — the vector-side
sibling of operators/dedup.CorpusIndex, closing the steady-state ingest
loop for embedding near-dup gating: build once over the kept corpus,
then every arriving batch pays only its own signatures + the bucket
join + candidate-only exact verification; the corpus is never
re-signed. After a batch is admitted, grow the index by O(batch).

The planes are md5-derived (operators/similarity._plane_weight_py),
so signatures are reproducible across engines AND across processes with
no stored model — but that also means a persisted index is only valid
for the plane family that built it. The params JSON carries an explicit
family tag, and every consumer checks it loudly (the r8 MinHash lesson:
two families' bucket hashes never collide, which silently disables
dedup instead of failing).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dca_manager_spark.operators.similarity import (
    _multi_probe,
    _sign_sig_frame,
    qcosine,
    qdot_arrow,
    qnorm,
)

EMBEDDING_LSH_FAMILY = "md5-planes-v1"


class EmbeddingIndex:
    """Two corpus-side artifacts — bucket signatures ``sigs``
    (__id, __table, __sig) and verification payloads ``vecs``
    (__id, __v, __n: the vector and its quantized squared norm) — plus
    the LSH parameters they were built with.

    ``save``/``load`` write two parquet datasets plus a params JSON
    (driver-local file IO, same shared-path assumption as
    CorpusIndex/io.manifest). Vector ids must be unique across the
    corpus and every admitted batch — the extend paths do not dedup ids.
    """

    PARAM_KEYS = ("num_planes", "num_tables")

    @staticmethod
    def check_family(params: dict, where: str) -> None:
        fam = params.get("family")
        if fam != EMBEDDING_LSH_FAMILY:
            raise ValueError(
                f"{where}: embedding index was built by plane family "
                f"{fam!r} but this code computes {EMBEDDING_LSH_FAMILY!r} — "
                "bucket signatures are incompatible; rebuild with "
                "build_embedding_index"
            )

    def __init__(self, sigs: DataFrame, vecs: DataFrame, params: dict) -> None:
        self.sigs = sigs
        self.vecs = vecs
        self.params = params

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        self.sigs.write.mode("overwrite").parquet(os.path.join(path, "sigs"))
        self.vecs.write.mode("overwrite").parquet(os.path.join(path, "vecs"))
        with open(os.path.join(path, "index_params.json"), "w") as fh:
            json.dump(self.params, fh, indent=1, sort_keys=True)

    @staticmethod
    def load(spark, path: str) -> "EmbeddingIndex":
        with open(os.path.join(path, "index_params.json")) as fh:
            params = json.load(fh)
        EmbeddingIndex.check_family(params, "EmbeddingIndex.load")
        return EmbeddingIndex(
            sigs=spark.read.parquet(os.path.join(path, "sigs")),
            vecs=spark.read.parquet(os.path.join(path, "vecs")),
            params=params,
        )

    def extend(self, admitted: DataFrame, id_col: str, vec_col: str) -> "EmbeddingIndex":
        """In-memory growth by one admitted batch (O(batch) plan work)."""
        EmbeddingIndex.check_family(self.params, "EmbeddingIndex.extend")
        batch = build_embedding_index(
            admitted, id_col, vec_col,
            **{k: self.params[k] for k in EmbeddingIndex.PARAM_KEYS},
        )
        return EmbeddingIndex(
            sigs=self.sigs.unionByName(batch.sigs),
            vecs=self.vecs.unionByName(batch.vecs),
            params=self.params,
        )

    @staticmethod
    def append(spark, path: str, admitted: DataFrame, id_col: str, vec_col: str) -> None:
        """Grow a PERSISTED index by one admitted batch: two O(batch)
        parquet appends under the stored parameters. Same single-writer
        crash contract as CorpusIndex.append: the two appends are not
        one atomic commit — after a failed append, rebuild or restore
        rather than retrying (re-appending duplicates signature rows and
        re-flags the duplicated ids against themselves); for atomic
        growth, store both frames in ManifestTables."""
        with open(os.path.join(path, "index_params.json")) as fh:
            params = json.load(fh)
        EmbeddingIndex.check_family(params, "EmbeddingIndex.append")
        batch = build_embedding_index(
            admitted, id_col, vec_col,
            **{k: params[k] for k in EmbeddingIndex.PARAM_KEYS},
        )
        batch.sigs.write.mode("append").parquet(os.path.join(path, "sigs"))
        batch.vecs.write.mode("append").parquet(os.path.join(path, "vecs"))


def build_embedding_index(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 4,
) -> EmbeddingIndex:
    """Sign all corpus vectors once: one pass for the per-table bucket
    signatures, one projection for the verification payloads."""
    sig = _sign_sig_frame(df, id_col, vec_col, num_planes, num_tables)
    sigs = sig.select("__id", "__table", "__sig")
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    return EmbeddingIndex(
        sigs=sigs,
        vecs=vecs,
        params={
            "num_planes": num_planes,
            "num_tables": num_tables,
            "family": EMBEDDING_LSH_FAMILY,
        },
    )


def embedding_incremental_filter(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    index: EmbeddingIndex,
    threshold: float = 0.4,
    probe_bits: int = 1,
) -> DataFrame:
    """Batch rows NOT near-duplicate (cosine >= threshold) of any indexed
    corpus vector — the admission gate of the steady-state vector-ingest
    loop. The batch side is signed and multi-probed; candidates are an
    equi join onto the index's bucket signatures (cost tracks bucket
    collisions, never batch x corpus); only candidates fetch the corpus
    verification payloads and pay the exact quantized cosine. Batch-
    internal duplicates are NOT resolved here (pair them with
    cosine_pairs_lsh first, or admit then extend — matching
    minhash_incremental_filter's contract).
    """
    EmbeddingIndex.check_family(index.params, "embedding_incremental_filter")
    num_planes = index.params["num_planes"]
    num_tables = index.params["num_tables"]
    bs = _multi_probe(
        _sign_sig_frame(batch, id_col, vec_col, num_planes, num_tables),
        probe_bits,
        num_planes,
    )
    corpus_sigs = index.sigs.select(
        F.col("__id").alias("__cid"), "__table", "__sig"
    )
    cand = (
        bs.join(corpus_sigs, on=["__table", "__sig"])
        .select(
            F.col("__id").alias("__bid"),
            F.col("__v").alias("__bv"),
            F.col("__n").alias("__bn"),
            "__cid",
        )
        .distinct()
        .join(
            index.vecs.select(
                F.col("__id").alias("__cid"),
                F.col("__v").alias("__cv"),
                F.col("__n").alias("__cn"),
            ),
            "__cid",
        )
    )
    dot = qdot_arrow()(F.col("__bv"), F.col("__cv"))
    flagged = (
        cand.withColumn("cosine", qcosine(dot, F.col("__bn"), F.col("__cn")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(flagged, on=id_col, how="left_anti")
