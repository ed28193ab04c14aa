"""Similarity search over embedding columns (array<float>).

Two paths, per the scale doctrine:
- **Brute-force cosine top-k** — the exact baseline. Per-pair work is a
  single array expression (zip_with product fold); the query side is tiny
  and broadcast, so the plan is a BroadcastNestedLoopJoin with vectorized
  per-row arithmetic and a TakeOrdered-style windowed top-k. Exact, and
  fine whenever |queries| x |corpus| fits compute.
- **Sign-LSH (random hyperplane) bucketed ANN** — the 100 TB path: hash
  every vector to a b-bit signature of dot-product signs against
  deterministic pseudo-random hyperplanes (md5-derived, so both the
  planes and the buckets are reproducible with no stored model);
  candidates = equi join on bucket; exact cosine only on candidates.

Determinism policy (oracle-exact): cosine is computed from INTEGER-quantized
element products — floor(x*y*1e12) per element is IEEE-exact in every
engine, the integer sum is order-independent, and the final
dot/sqrt(na)/sqrt(nb) is a fixed sequence of double ops. Bit-identical
between Spark and DuckDB.

Two bit-identical quantized-dot kernels, one per call site:
- the interpreted HOF fold ``qdot`` (and ``qnorm`` for every norm) in
  ``cosine_topk``, ``lsh_ann_topk``'s re-rank, and the IVF routing and
  re-rank of ``ivf_ann_topk`` and ``ivf_pq_rerank_topk``;
- the Arrow kernel ``qdot_arrow`` in the pair verifies of
  ``cosine_pairs``, ``cosine_pairs_lsh``, ``cosine_cross_lsh`` (and so
  ``decontaminate_embeddings``), ``embedding_index`` admission, and both
  the routing and the within-cell verify of ``semantic_dedup``.
Sign-LSH signatures always use ``sign_lsh_signature_arrow``.

One row rule: every Arrow UDF here (``qdot_arrow``, the signature, the
PQ encoders and LUT) computes only on rows ``_vector_rows`` accepts and
gives the others a null result instead of failing the batch. A null
signature never matches a bucket join, a null code or LUT scores null,
``qnorm`` is null on a null or non-finite vector and the fold ``qdot``
of two vectors of different lengths is null, so a null, ragged or
non-finite vector never ranks with a non-null cosine. The Arrow
kernel wins on wide pair streams; on the broadcast top-k and routing
shapes the Python-worker round trip costs more than the fold. Measured
on 4 cores (median of 7 and 5 alternating runs, results equal): moving
``similarity_cosine_topk`` to the Arrow dot took it from 0.567 s to
0.731 s at 400 vectors (0.883 s with the norm on Arrow too), and from
0.686 s to 0.741 s at 2000 vectors; ``similarity_ivf_ann`` went from
0.993 s to 1.231 s at 400 vectors.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SCALE = 1_000_000_000_000  # 1e12: float32 products keep full precision


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def qnorm(col: Column) -> Column:
    """Quantized squared norm: sum of floor(x*x*1e12) as long. Null for a
    null vector and for one with a null, NaN or Inf element (the rows
    ``_vector_rows`` rejects), so every ``qcosine`` through it is null:
    the fold alone would count a NaN element as 0."""

    def term(x: Column) -> Column:
        p = x * x * F.lit(SCALE)
        return F.when(p < F.lit(float("inf")), F.floor(p)).cast("long")

    return F.aggregate(
        F.transform(as_double_vec(col), term),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def qdot(a: Column, b: Column) -> Column:
    """Quantized dot product: sum of floor(x*y*1e12) as long."""
    return F.aggregate(
        F.zip_with(
            as_double_vec(a),
            as_double_vec(b),
            lambda x, y: F.floor(x * y * F.lit(SCALE)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def qcosine(dot_q: Column, norm_a: Column, norm_b: Column) -> Column:
    """Deterministic cosine from quantized integers: one division, two
    sqrts, one multiply — fixed double op sequence."""
    return dot_q.cast("double") / (
        F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double"))
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (self-matches excluded when ids collide).

    Returns (query_id, corpus_id, cosine, rank). Total tie-break on
    (cosine desc, corpus_id) keeps the result set unique.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qv"),
        qnorm(F.col(query_vec)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).alias("__cv"),
        qnorm(F.col(corpus_vec)).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine", qcosine(qdot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")))
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage format for
    embedding corpora at 100 TB (4x smaller than float32, SIMD-friendly
    dot products downstream): scale = max|x|, q_i = floor(x_i/scale*127
    + 0.5) in [-127, 127] as tinyint; dequantize as q*scale/127, with
    reconstruction error bounded by scale/254 per element. Zero vectors
    quantize to zeros with scale 0. Pure JVM expressions; the rounding
    is an explicit floor(+0.5) so every engine reproduces the exact same
    codes (round() tie rules differ across engines)."""
    v = as_double_vec(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v,
        lambda x: F.when(
            F.col(scale_col) > 0,
            F.floor(x / F.col(scale_col) * 127 + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x_i ~= q_i * scale / 127."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda q: q.cast("double") * F.col(scale_col) / F.lit(127.0),
        ),
    )


def cosine_topk_int8(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the cheap
    scoring pass quantization buys: the dot product is an integer
    sum of tinyint products (SIMD-friendly, 4x less memory traffic than
    float32), and the per-vector scales cancel out of the cosine up to
    quantization error. Same plan shape as :func:`cosine_topk`
    (broadcast queries x corpus scan, windowed top-k); ranking agrees
    with the exact float path to within the int8 resolution — use as
    the first pass and exact-re-rank the shortlist if needed."""
    qz = quantize_embeddings(queries, vec_col)
    cz = quantize_embeddings(corpus, vec_col)

    def inorm(q: Column) -> Column:
        return F.aggregate(
            q, F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long") * x.cast("long"),
        )

    qd = qz.select(
        F.col(query_id).alias("__qid"),
        F.col("q_embedding").alias("__qv"),
        inorm(F.col("q_embedding")).alias("__qn"),
    )
    cd = cz.select(
        F.col(corpus_id).alias("__cid"),
        F.col("q_embedding").alias("__cv"),
        inorm(F.col("q_embedding")).alias("__cn"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("__qv"), F.col("__cv"),
            lambda a, b: a.cast("long") * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        cd.crossJoin(F.broadcast(qd))
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine", qcosine(dot, F.col("__qn"), F.col("__cn")))
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def qdot_arrow() -> "F.Column":
    """Arrow-vectorized quantized dot product: a scalar pandas_udf that
    computes sum(floor(x*y*1e12)) per row over whole Arrow batches with
    NumPy. BIT-IDENTICAL to the expression form ``qdot`` (float32->float64
    widening, IEEE double multiply, exact floor, exact int64 sum) but ~5x
    faster on wide pair joins — the one place Python earns its seat in the
    row path.

    Row contract: ``_vector_rows`` on both sides, so null when either
    side is null, the lengths differ, or an element is null, NaN or Inf;
    0 for two empty vectors. Rows are grouped by width and each group is
    one vectorized pass (a uniform batch is one group). The one
    difference from the fold: a row with a NaN/Inf element is null here,
    where the fold saturates to a number (its ``qnorm`` is null, so the
    cosine is null in both)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _qdot(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.zeros(len(a), dtype=np.int64)
        valid = np.zeros(len(a), dtype=bool)
        for d in {len(x) for x in a if x is not None}:
            A, ok_a = _vector_rows(a, d)
            B, ok_b = _vector_rows(b, d)
            both = ok_a & ok_b
            P = np.floor(A[both[ok_a]] * B[both[ok_b]] * float(SCALE))
            out[both] = P.astype(np.int64).sum(axis=1)
            valid |= both
        return pd.Series(pd.arrays.IntegerArray(out, ~valid))

    return _qdot


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-dup pairs: all (a < b) with cosine >= threshold.
    Brute force (n^2/2) — the exact baseline; use lsh_ann buckets first at
    scale."""
    from dca_manager_spark.partitioning import spread

    # Round-robin to the cluster width: the O(n^2/2) pair stream
    # evaluates in the stream-side partitions of the BNLJ, which inherit
    # the corpus scan's width (a no-op once the input's leaf bytes
    # already scan as that many splits — see partitioning.spread).
    base = spread(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    a, b = base.alias("a"), base.alias("b")
    dot = qdot_arrow()(F.col("a.__v"), F.col("b.__v"))
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .withColumn("cosine", qcosine(dot, F.col("a.__n"), F.col("b.__n")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"), "cosine"
        )
    )


def _sign_sig_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """(__id, __v, __n, __table, __sig): one row per (vector, LSH table)
    with the table's sign signature — the shared front half of every
    bucketed matcher."""
    sigs = F.array(
        *[
            sign_lsh_signature_arrow(num_planes, plane_offset=t * 1009)(
                F.col(vec_col)
            )
            for t in range(max(num_tables, 1))
        ]
    )
    return df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
        F.posexplode(sigs).alias("__table", "__sig"),
    )


def _multi_probe(sig: DataFrame, probe_bits: int, num_planes: int) -> DataFrame:
    """Expand ONE join side's signatures with every XOR mask of popcount
    <= probe_bits (asymmetric multi-probe; identity mask included)."""
    if probe_bits <= 0:
        return sig
    from itertools import combinations

    masks = [0] + [
        sum(1 << p for p in combo)
        for k in range(1, probe_bits + 1)
        for combo in combinations(range(num_planes), k)
    ]
    return sig.select(
        "__id",
        "__v",
        "__n",
        "__table",
        F.explode(
            F.array(*[F.col("__sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("__sig"),
    )


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_planes: int = 8,
    num_tables: int = 4,
    probe_bits: int = 0,
) -> DataFrame:
    """Embedding near-dup pairs, scale path: candidates are (a < b) pairs
    sharing a sign-LSH bucket in ANY of ``num_tables`` independent tables;
    exact quantized cosine verifies only those candidates against the
    threshold. Zero false positives by construction (every emitted pair is
    exact-verified); recall is the standard hyperplane-LSH curve — for a
    pair at cosine c, P(caught) = 1 - (1 - p^b)^T with p = 1 - acos(c)/pi,
    so tune (b=num_planes, T=num_tables) to the dedup threshold: 8x4
    catches ~75% at c=0.9 and intentionally lets low-similarity pairs go.

    Plan shape: per-table signatures -> equi self-join on (table, sig)
    with the a<b inequality as a cheap post-filter inside the equi join,
    candidate distinct, then per-candidate exact cosine. Cost tracks
    sum(bucket_size^2) per table, never corpus^2 — unlike ``cosine_pairs``
    (the exact bounded-set baseline), this never materializes an all-pairs
    theta self-join, so it survives a 100x corpus.

    ``probe_bits``: multi-probe — one join side also emits its signature
    XOR every mask of popcount <= probe_bits, so two vectors whose table
    signatures differ by up to that many bits still become candidates.
    probe_bits=1 at 8x4 roughly triples recall at moderate thresholds for
    a 9x expansion of ONE side's bucket rows (asymmetric: the other side
    stays raw, so pairs are not double-expanded).
    """
    sig = _sign_sig_frame(df, id_col, vec_col, num_planes, num_tables)
    probed = _multi_probe(sig, probe_bits, num_planes)
    a, b = probed.alias("a"), sig.alias("b")
    cand = (
        a.join(b, on=["__table", "__sig"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("__ida"),
            F.col("a.__v").alias("__va"),
            F.col("a.__n").alias("__na"),
            F.col("b.__id").alias("__idb"),
            F.col("b.__v").alias("__vb"),
            F.col("b.__n").alias("__nb"),
        )
        .distinct()
    )
    dot = qdot_arrow()(F.col("__va"), F.col("__vb"))
    return (
        cand.withColumn("cosine", qcosine(dot, F.col("__na"), F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"), "cosine")
    )


# ---------------------------------------------------------------------------
# Sign-LSH bucketed ANN (the scale path)
# ---------------------------------------------------------------------------
#
# Hyperplanes are md5-derived (not xxhash64): md5 exists in every engine
# (Spark, DuckDB, Python/NumPy), so the planes — and therefore the buckets
# and the final candidate sets — are oracle-checkable cross-engine. The
# per-plane dot is INTEGER-quantized (floor(x*w*1e12) summed as int64), so
# the bit is order-of-summation-independent and bit-identical everywhere.


def _plane_weight_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component w(plane, dim) in
    [-1, 1): the md5-hex prefix of 'p{plane},{dim}' scaled — the formula
    the DuckDB oracles recompute in SQL. No stored model."""
    import hashlib

    h = int(hashlib.md5(f"p{plane},{dim}".encode()).hexdigest()[:8], 16)
    return (h % 2_000_003) / 1_000_003.0 - 1.0


def sign_lsh_signature_arrow(num_planes: int = 16, plane_offset: int = 0):
    """b-bit random-hyperplane signature as a long: bit p = 1 iff the
    quantized dot(vec, plane_{offset+p}) > 0, with plane weights from
    ``_plane_weight_py``. ``plane_offset`` selects an independent plane
    set (multi-table OR-amplification). One pandas_udf call computes the
    whole signature per row via a NumPy (batch x planes x dim) quantized
    product — floor((x*w)*1e12) per element, int64 sum, sign —
    BIT-IDENTICAL to the DuckDB oracle's SQL recomputation.

    Rows are grouped by width (a uniform batch is one vectorized pass).
    A null vector, or one with a null, NaN or Inf element, gets a null
    signature (``_vector_rows``), which matches no bucket."""
    from pyspark.sql.functions import pandas_udf

    cache: dict[int, "np.ndarray"] = {}

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        out = np.zeros(len(v), dtype=np.int64)
        valid = np.zeros(len(v), dtype=bool)
        for dim in {len(x) for x in v if x is not None}:
            A, ok = _vector_rows(v, dim)  # (ok.sum(), dim)
            W = cache.get(dim)
            if W is None:
                W = np.array(
                    [
                        [_plane_weight_py(plane_offset + p, i) for i in range(dim)]
                        for p in range(num_planes)
                    ],
                    dtype=np.float64,
                )
                cache[dim] = W
            q = (
                np.floor((A[:, None, :] * W[None, :, :]) * float(SCALE))
                .astype(np.int64)
                .sum(axis=2)
            )  # (N, P)
            out[ok] = ((q > 0).astype(np.int64) << np.arange(num_planes, dtype=np.int64)).sum(axis=1)
            valid |= ok
        return pd.Series(pd.arrays.IntegerArray(out, ~valid))

    return _sig


class IvfSeeds(NamedTuple):
    """A trained IVF coarse quantizer: row i of ``centroids`` (an
    n_cells x dim ndarray) is cell i's centroid. ``train_ivf_seeds``
    returns one; centroids trained elsewhere go in as
    ``IvfSeeds(np.vstack(kmeans_model.clusterCenters()))``."""

    centroids: np.ndarray


def _ivf_seeds(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_cells: int,
    seeds: IvfSeeds | None,
) -> DataFrame:
    """(__cell, __seed_v, __seed_n): the coarse quantizer of every IVF
    path. Trained ``seeds`` become an Arrow-built local relation, so
    broadcasting them runs no job; the default is the ``n_cells``
    lowest-id corpus vectors, numbered from 0 in id order."""
    if seeds is None:
        # TakeOrderedAndProject for the n_cells lowest ids (distributed
        # top-n, no global window over the corpus); the row_number window
        # then runs on an n_cells-row frame only.
        frame = (
            corpus.select(F.col(corpus_id), F.col(vec_col))
            .orderBy(F.col(corpus_id))
            .limit(n_cells)
            .withColumn(
                "__cell", F.row_number().over(Window.orderBy(F.col(corpus_id))) - 1
            )
            .select("__cell", F.col(vec_col).alias("__seed_v"))
        )
    else:
        from dca_manager_spark.io.manifest import _local_frame

        frame = _local_frame(
            corpus.sparkSession,
            StructType.fromDDL("__cell int, __seed_v array<double>"),
            list(enumerate(np.asarray(seeds.centroids, dtype=np.float64).tolist())),
        )
    return frame.withColumn("__seed_n", qnorm(F.col("__seed_v")))


def _route(
    df: DataFrame,
    seeds: DataFrame,
    id_alias: str,
    keep: int,
    dot,
    *carry: Column,
) -> DataFrame:
    """Rank each vector's cells by quantized cosine (sim desc, cell asc)
    and keep the first ``keep``. ``df`` carries (id_alias, __v, __n),
    ``seeds`` comes from ``_ivf_seeds``, ``dot`` is the call site's
    quantized-dot kernel, and ``carry`` columns are computed per
    (vector, seed) pair beside the similarity."""
    scored = df.crossJoin(F.broadcast(seeds)).select(
        "*",
        qcosine(
            dot(F.col("__v"), F.col("__seed_v")), F.col("__n"), F.col("__seed_n")
        ).alias("__sim"),
        *carry,
    )
    w = Window.partitionBy(id_alias).orderBy(F.col("__sim").desc(), F.col("__cell"))
    return scored.withColumn("__cr", F.row_number().over(w)).filter(
        F.col("__cr") <= keep
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seeds: IvfSeeds | None = None,
) -> DataFrame:
    """IVF-style ANN (the second scale path besides sign-LSH): corpus
    vectors are COARSE-QUANTIZED to their nearest of ``n_cells`` centroid
    seeds; each query probes its ``n_probe`` nearest cells; exact
    quantized cosine re-ranks only the probed cells' members.

    Scale shape: seeds are tiny and BROADCAST to both assignment passes
    (no shuffle to quantize); the candidate join is an equi join on the
    cell id; per-query work is |probed cells| x avg cell size instead of
    |corpus|. n_probe = n_cells degrades gracefully to exact brute force.

    ``seeds``: optional trained ``IvfSeeds`` (``train_ivf_seeds``, or
    k-means centroids trained offline). Default = the ``n_cells``
    lowest-id corpus vectors: a data-deterministic quantizer (no training
    step, identical in every engine) so the whole operator is
    oracle-checkable; swap in learned centroids for better cell balance
    at identical plan shape. Assignment ties break on cell id (total
    order), so results are exact-reproducible either way. A query or
    corpus row whose cosine is null (a null, ragged or non-finite
    vector) takes no part in the result.
    """
    seeds = _ivf_seeds(corpus, corpus_id, vec_col, n_cells, seeds)
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    assigned = _route(c, seeds, "__cid", 1, qdot).select(
        F.col("__cid"), F.col("__v").alias("__cv"), F.col("__n").alias("__cn"), "__cell"
    )
    probes = _route(q, seeds, "__qid", max(n_probe, 1), qdot).select(
        F.col("__qid"), F.col("__v").alias("__qv"), F.col("__n").alias("__qn"), "__cell"
    )
    cand = (
        assigned.join(F.broadcast(probes), "__cell")
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__qv", "__qn", "__cid", "__cv", "__cn")
        .distinct()
    )
    scored = cand.withColumn(
        "cosine",
        qcosine(qdot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")),
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cosine").isNotNull())
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def _lloyd_kmeans(S, k: int, seed: int, max_iter: int, init: str = "random"):
    """Deterministic numpy Lloyd iterations over a driver-side sample —
    the shared trainer behind train_pq_codebooks (per subspace) and
    train_ivf_seeds (full vectors).

    ``init="random"``: seeded draw without replacement (the PQ
    subspace recipe — residual subvectors have no separated cluster
    structure to recover, and this keeps PQ codebooks bit-identical to
    the pre-r16 trainer). ``init="maxmin"``: seeded first point, then
    greedy farthest-point — recovers well-separated clusters the way a
    kmeans|| init does, which matters for IVF cell balance. Empty
    clusters are reseeded by greedy farthest-point against the UPDATED
    centroids (distances recomputed after the mean updates, and each
    reseeded point joins the reference set so two empty clusters can
    never both land in the same far region). Pure argmax/argmin over a
    fixed sample — deterministic."""
    rng = np.random.default_rng(seed)
    if init == "maxmin":
        first = int(rng.integers(S.shape[0]))
        chosen = [first]
        dmin = ((S - S[first]) ** 2).sum(axis=1)
        for _ in range(k - 1):
            nxt = int(dmin.argmax())
            chosen.append(nxt)
            dmin = np.minimum(dmin, ((S - S[nxt]) ** 2).sum(axis=1))
        cents = S[np.asarray(chosen)].copy()
    else:
        cents = S[rng.choice(S.shape[0], size=k, replace=False)].copy()
    for _ in range(max_iter):
        d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        empties = []
        for c in range(k):
            pts = S[assign == c]
            if len(pts):
                cents[c] = pts.mean(axis=0)
            else:
                empties.append(c)
        if empties:
            nonempty = [c for c in range(k) if c not in empties]
            if nonempty:
                ref = cents[np.asarray(nonempty)]
                dmin = (
                    ((S[:, None, :] - ref[None, :, :]) ** 2)
                    .sum(axis=2)
                    .min(axis=1)
                )
            else:
                dmin = np.full(S.shape[0], np.inf)
            for c in empties:
                far = int(dmin.argmax())
                cents[c] = S[far]
                dmin = np.minimum(dmin, ((S - S[far]) ** 2).sum(axis=1))
    return cents


def _train_sample(
    corpus: DataFrame,
    vec_col: str,
    sample_rows: int,
    sample_id_col: str | None,
    salt: str,
):
    """The trainers' bounded driver-side sample as a float64 (n x dim)
    matrix: the first ``sample_rows`` vectors, md5(``salt`` + id)-ranked
    when ``sample_id_col`` is given (layout-independent), in plan order
    otherwise. ``dim`` is the most common length among the sample's
    non-null vectors and only the rows ``_vector_rows`` accepts are kept,
    so a null, ragged or non-finite vector neither fails nor skews the
    fit."""
    proj = corpus.select(
        as_double_vec(F.col(vec_col)).alias("v"),
        *([F.col(sample_id_col).cast("string").alias("__sid")]
          if sample_id_col else []),
    )
    if sample_id_col:
        rank = F.md5(F.concat(F.lit(salt), F.col("__sid")))
        sample = proj.orderBy(rank, F.col("__sid")).limit(sample_rows)
    else:
        sample = proj.limit(sample_rows)
    vals = [r["v"] for r in sample.select("v").collect()]
    widths = Counter(len(x) for x in vals if x is not None).most_common(1)
    X, _ = _vector_rows(vals, widths[0][0] if widths else 0)
    return X


def train_ivf_seeds(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 13,
    max_iter: int = 10,
    sample_rows: int = 4096,
    sample_id_col: str | None = None,
) -> IvfSeeds:
    """Train IVF centroids and return them as the ``IvfSeeds`` every IVF
    path accepts (``seeds=``). Learned centroids balance cell sizes far
    better than the deterministic lowest-id default (which exists for
    oracle reproducibility) — use this for production recall/latency.

    Training is the SAME bounded recipe as train_pq_codebooks: a
    ``_train_sample`` of at most ``sample_rows`` vectors and seeded
    numpy Lloyd iterations driver-side. A pyspark.ml KMeans fit launched
    ~2 Spark jobs per iteration REGARDLESS of data size (~2-3s of pure
    job-launch latency on a tiny corpus, and the same at 100 TB where
    one would train on a sample anyway); centroids only need a
    distribution sketch, so sample -> tiny driver model -> broadcast is
    the standard recipe at any scale."""
    X = _train_sample(corpus, vec_col, sample_rows, sample_id_col, "ivf-train")
    if X.shape[0] < n_cells:
        raise ValueError(
            f"need at least n_cells ({n_cells}) sample vectors, got {X.shape[0]}"
        )
    return IvfSeeds(_lloyd_kmeans(X, n_cells, seed, max_iter, init="maxmin"))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ANY of
    ``num_tables`` independent hash tables (OR-amplification: recall rises
    geometrically with tables at linear cost — each table uses its own
    hash-derived plane set); exact quantized cosine ranks the deduplicated
    candidates. A null, ragged or non-finite vector takes no part: its
    signature is null or its cosine is null."""
    q = _sign_sig_frame(
        queries, query_id, vec_col, num_planes, num_tables
    ).withColumnsRenamed({"__id": "__qid", "__v": "__qv", "__n": "__qn"})
    c = _sign_sig_frame(
        corpus, corpus_id, vec_col, num_planes, num_tables
    ).withColumnsRenamed({"__id": "__cid", "__v": "__cv", "__n": "__cn"})
    cand = (
        c.join(F.broadcast(q), on=["__table", "__sig"])
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__qv", "__qn", "__cid", "__cv", "__cn")
        .distinct()
    )
    scored = cand.withColumn(
        "cosine",
        qcosine(qdot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")),
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cosine").isNotNull())
        .select(
            F.col("__qid").alias(query_id), F.col("__cid").alias(corpus_id), "cosine", "rank"
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

class PQCodebooks(NamedTuple):
    """Trained product-quantization codebooks: ``books`` holds m
    codebooks, codebook j a (k x dim/m) array of subspace-j centroids
    (nested lists work too). ``residual`` says what they were trained
    on: True for vector-minus-centroid residuals (``train_pq_codebooks``
    with ``residual_seeds``), which is how ``ivf_pq_rerank_topk`` then
    encodes the corpus; False for raw vectors."""

    books: list
    residual: bool


def _nearest_seed_matrix(centroids, X):
    """Per-row nearest (max-cosine, lowest-cell tie-break) row of
    ``centroids`` (an ``IvfSeeds.centroids`` matrix) for each row of X
    — BIT-IDENTICAL to the ivf cell routing's rule: the similarity is
    the same quantized cosine ``_route`` ranks by (per-element
    floor(x*y*SCALE) integer sums, then dot/(sqrt(na)*sqrt(nb)) in
    float64), not a plain float cosine — so a near-tie vector
    residualizes against exactly the centroid encode-time routing will
    assign it to. The integer sums stay exact in float64: each floored
    term is <= |x*y|*1e12 and dims*1e12 is far below 2^53. argmax takes
    the first maximum = lowest cell id, matching the routing's
    (sim desc, cell asc) tie-break."""
    C = np.asarray(centroids, dtype=np.float64)
    s = float(SCALE)
    qd = np.floor(X[:, None, :] * C[None, :, :] * s).sum(axis=2)
    xn = np.floor(X * X * s).sum(axis=1)
    cn = np.floor(C * C * s).sum(axis=1)
    denom = np.sqrt(xn)[:, None] * np.sqrt(cn)[None, :]
    sims = np.divide(qd, denom, out=np.zeros_like(qd), where=denom > 0)
    return C[sims.argmax(axis=1)]


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 13,
    max_iter: int = 10,
    sample_rows: int = 4096,
    sample_id_col: str | None = None,
    residual_seeds: IvfSeeds | None = None,
) -> PQCodebooks:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subvectors and each subspace gets its own ``k``-way
    k-means codebook. Returns ``PQCodebooks`` (m arrays of k x dim/m) — a
    tiny driver-side model, like ``train_ivf_seeds``'s ``IvfSeeds``.

    ``residual_seeds`` (the standard FAISS IVF-PQ recipe): pass the
    ``IvfSeeds`` and the codebooks are trained on RESIDUALS —
    each sample vector minus its nearest (max-cosine) centroid. Residual
    vectors cluster far tighter than raw vectors (the coarse quantizer
    has already explained the cell-level structure), so the same m x k
    budget spends its resolution on what ADC actually scores; measured
    recall@10 of the composed IVF->PQ->rerank path rises from ~0.52 to
    >=0.7 on the synthetic embeddings. Train + encode must agree on the
    seeds; the result has ``residual=True``.

    Training is a BOUNDED driver-side ``_train_sample`` (at most
    ``sample_rows`` vectors; ``dim`` is its most common vector length)
    + numpy Lloyd iterations per subspace — deliberately NOT m
    Spark-ML fits: each MLlib fit costs ~1s of job overhead regardless
    of size (m=16 measured 12-23s), while codebooks only need a
    distribution sketch — the standard PQ training recipe at any corpus
    size is sample -> tiny driver model -> broadcast.

    Sampling: with ``sample_id_col`` set, the sample is the
    ``sample_rows`` rows with the smallest md5(id) rank — a
    layout-independent uniform draw (TakeOrderedAndProject: per-task
    top-k heaps, never a full sort), so the codebook sample stays
    corpus-representative at any scale and the training is deterministic
    regardless of partitioning. Without it, the first ``sample_rows``
    rows in plan order are taken (``limit``) — deterministic only for a
    deterministic input order, and biased toward the leading partitions
    on a sorted/partitioned corpus; prefer passing an id column."""
    X = _train_sample(corpus, vec_col, sample_rows, sample_id_col, "pq-train")
    dim = X.shape[1]
    if m < 1 or dim % m:
        raise ValueError(f"m ({m}) must divide the embedding dim ({dim})")
    if X.shape[0] < k:
        raise ValueError(
            f"need at least k ({k}) sample vectors, got {X.shape[0]}"
        )
    if residual_seeds is not None:
        X = X - _nearest_seed_matrix(residual_seeds.centroids, X)
    sub = dim // m
    # Seeded Lloyd per subspace — shared with train_ivf_seeds; the
    # empty-cluster reseeding rationale lives on _lloyd_kmeans.
    books = [
        _lloyd_kmeans(X[:, j * sub : (j + 1) * sub], k, seed + j, max_iter)
        for j in range(m)
    ]
    return PQCodebooks(books, residual_seeds is not None)


def _vector_rows(v, dim: int):
    """(X, ok): the row rule every Arrow UDF here shares. ``ok`` marks
    the rows of ``v`` (a batch Series or a list of collected vectors)
    holding a ``dim``-long vector of finite elements (a null element
    arrives as NaN or None) and X stacks them as float64 (ok.sum() x
    dim). A UDF computes on X only and gives the other rows a null
    result, leaving the rest of its batch alone."""
    ok = np.array([x is not None and len(x) == dim for x in v], dtype=bool)
    X = np.array(
        [x for x, good in zip(v, ok) if good], dtype=np.float64
    ).reshape(int(ok.sum()), dim)
    finite = np.isfinite(X).all(axis=1)
    ok[ok] = finite
    return X[finite], ok


def _scatter(ok, values: list) -> list:
    """``values`` (one per ``ok`` row) placed at the ok rows; None
    (null) at the rest."""
    out: list = [None] * len(ok)
    for i, x in zip(ok.nonzero()[0], values):
        out[i] = x
    return out


def _pq_encode_udf(codebooks: PQCodebooks):
    """Arrow-vectorized PQ encoder: numpy nearest-centroid per subspace.

    NOT expressed as JVM column expressions on purpose: the m x k
    literal-array score tree (even in array-argmax form) blows past the
    whole-stage-codegen method limit, falls back to interpreted
    evaluation, and measured ~20x slower than this Arrow batch path
    (9s to encode 500 rows). Same lesson as sign_lsh_signature_arrow:
    per-row trees that scale with model size belong in numpy."""
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in codebooks.books]
    half = [0.5 * (b * b).sum(axis=1) for b in B]
    m = len(B)
    sub = B[0].shape[1]

    @pandas_udf("code array<int>, norm2 double")
    def enc(v: pd.Series) -> pd.DataFrame:
        X, ok = _vector_rows(v, m * sub)
        codes = np.empty((len(X), m), dtype=np.int32)
        n2 = np.zeros(len(X))
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            # argmax of sub.c - |c|^2/2 == nearest centroid (first-match
            # tie-break, matching array-argmax semantics)
            cj = (S @ B[j].T - half[j]).argmax(axis=1)
            codes[:, j] = cj
            n2 += (2.0 * half[j])[cj]
        return pd.DataFrame(
            {
                "code": _scatter(ok, codes.tolist()),
                "norm2": _scatter(ok, n2.tolist()),
            }
        )

    return enc


def _pq_encode_residual_udf(codebooks: PQCodebooks):
    """Residual PQ encoder (FAISS IVF-PQ shape): takes (vector, assigned
    cell centroid) and codes v - c; ``norm2`` is |c + r_hat|^2 — the
    FULL reconstruction's squared norm, so downstream cosine denominators
    stay consistent with ADC's q.(c + r_hat) numerator."""
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in codebooks.books]
    half = [0.5 * (b * b).sum(axis=1) for b in B]
    m = len(B)
    sub = B[0].shape[1]

    @pandas_udf("code array<int>, norm2 double")
    def enc(v: pd.Series, cent: pd.Series) -> pd.DataFrame:
        X, ok = _vector_rows(v, m * sub)
        C, ok_c = _vector_rows(cent, m * sub)
        both = ok & ok_c
        X, C, ok = X[both[ok]], C[both[ok_c]], both
        R = X - C
        recon = C.copy()
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = R[:, j * sub : (j + 1) * sub]
            cj = (S @ B[j].T - half[j]).argmax(axis=1)
            codes[:, j] = cj
            recon[:, j * sub : (j + 1) * sub] += B[j][cj]
        return pd.DataFrame(
            {
                "code": _scatter(ok, codes.tolist()),
                "norm2": _scatter(ok, (recon * recon).sum(axis=1).tolist()),
            }
        )

    return enc


def pq_encode(
    df: DataFrame,
    codebooks: PQCodebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    norm_col: str = "pq_norm2",
) -> DataFrame:
    """Encode vectors as ``m`` small codebook indices (array<int>) plus
    the reconstruction squared norm (for cosine scoring downstream).
    Arrow-batched numpy (see ``_pq_encode_udf`` for why not JVM
    expressions), map-only: at 100 TB this is a single scan with no
    shuffle. PQ at m=8 subvectors of int8-range codes is a 32x storage
    compression of a 64-dim float32 embedding column. A null vector, one
    whose length is not the codebooks' dimension, or one with a null or
    non-finite element gets a null code and norm."""
    enc = _pq_encode_udf(codebooks)
    out = df.withColumn("__pq", enc(F.col(vec_col)))
    return (
        out.withColumn(code_col, F.col("__pq.code"))
        .withColumn(norm_col, F.col("__pq.norm2"))
        .drop("__pq")
    )


def _pq_queries(
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    codebooks: PQCodebooks,
) -> DataFrame:
    """(__qid, __lut, __qn2): the exact query side of ADC — each query's
    (m x k) LUT of subvector-centroid dots and its plain squared norm.
    The LUT is Arrow-batched: the m x k expression tree hits the same
    codegen wall as the encoder."""
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in codebooks.books]
    m = len(B)
    sub = B[0].shape[1]

    @pandas_udf("array<array<double>>")
    def lut_udf(v: pd.Series) -> pd.Series:
        X, ok = _vector_rows(v, m * sub)
        tables = [X[:, j * sub : (j + 1) * sub] @ B[j].T for j in range(m)]
        luts = [[list(tables[j][i]) for j in range(m)] for i in range(len(X))]
        return pd.Series(_scatter(ok, luts), dtype=object)

    qv = as_double_vec(F.col(vec_col))
    qn2 = F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x)
    return queries.select(
        F.col(query_id).alias("__qid"),
        lut_udf(F.col(vec_col)).alias("__lut"),
        qn2.alias("__qn2"),
    )


def _adc_cosine(base: Column) -> Column:
    """ADC cosine of a (query, code) row: (``base`` + sum_j
    __lut[j][__code_j]) / sqrt(__qn2 * __cn2), or 0 for a zero norm;
    null when the code or the LUT is null (the PQ UDFs' null, ragged
    or non-finite vector), so the callers' top-k drops the row.

    The callers drop null scores ABOVE their rank window, not null
    codes and LUTs below the join: a filter on a Python UDF's output
    is pushed below its projection and evaluates the UDF twice."""
    adc = F.aggregate(
        F.zip_with(
            F.col("__code"),
            F.col("__lut"),
            lambda cj, lj: F.element_at(lj, cj + 1),
        ),
        base,
        lambda acc, x: acc + x,
    )
    denom = F.sqrt(F.col("__qn2") * F.col("__cn2"))
    return F.when(denom > 0, adc / denom).when(adc.isNotNull(), F.lit(0.0))


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    codebooks: PQCodebooks,
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k by ASYMMETRIC distance computation: the
    corpus is scored through its PQ codes only — per (query, corpus)
    pair the dot product is ``m`` lookup-table reads + adds instead of
    ``dim`` multiplies, and the corpus row carries m ints instead of dim
    floats (the memory-bandwidth win PQ exists for). The query side
    stays exact: each query precomputes its (m x k) LUT of
    subvector-centroid dots ONCE (``_pq_queries``), then
    ``cos ~ sum_j LUT[j][code_j] / (|q| * |reconstruction|)``.

    Same broadcast-queries x corpus-scan plan shape as ``cosine_topk``
    (whitelisted brute-force family); at scale compose with IVF routing
    (IVF-PQ: coarse cells prune the scan, ADC scores the survivors).
    Returns (query_id, corpus_id, cosine_pq, rank); ranking error is
    bounded by quantization distortion — re-rank the shortlist with
    exact dots when exactness matters. A corpus row or query whose
    vector gets a null PQ code or LUT takes no part."""
    enc = pq_encode(corpus, codebooks, vec_col).select(
        F.col(corpus_id).alias("__cid"),
        F.col("pq_code").alias("__code"),
        F.col("pq_norm2").alias("__cn2"),
    )
    q = _pq_queries(queries, query_id, vec_col, codebooks)
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("__qid") != F.col("__cid"))
        .withColumn("cosine_pq", _adc_cosine(F.lit(0.0)))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("cosine_pq").desc(), F.col("__cid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cosine_pq").isNotNull())
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine_pq",
            "rank",
        )
    )


def cosine_cross_lsh(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_planes: int = 8,
    num_tables: int = 4,
    probe_bits: int = 0,
) -> DataFrame:
    """Cross-set near-dup pairs: (left, right) vectors sharing a sign-LSH
    bucket in ANY table, exact-verified at cosine >= ``threshold``.

    The two-corpus sibling of :func:`cosine_pairs_lsh` (same planes,
    buckets, probe scheme, quantized verify — zero false positives, the
    standard hyperplane-LSH recall curve) for set-vs-set problems:
    benchmark decontamination (training corpus vs eval embeddings),
    cross-snapshot dedup, catalog linkage. Candidates come from an equi
    join on (table, signature) — LEFT side multi-probed, RIGHT side raw,
    so cost tracks cross-bucket collisions, never |left| x |right|.
    Returns one row per verified pair: (left_id, right_id, cosine).
    """
    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id must differ (both {left_id!r}): the output "
            "carries one column per side — rename one input id first"
        )
    ls = _multi_probe(
        _sign_sig_frame(left, left_id, vec_col, num_planes, num_tables),
        probe_bits,
        num_planes,
    ).alias("a")
    rs = _sign_sig_frame(right, right_id, vec_col, num_planes, num_tables).alias("b")
    cand = (
        ls.join(rs, on=["__table", "__sig"])
        .select(
            F.col("a.__id").alias("__ida"),
            F.col("a.__v").alias("__va"),
            F.col("a.__n").alias("__na"),
            F.col("b.__id").alias("__idb"),
            F.col("b.__v").alias("__vb"),
            F.col("b.__n").alias("__nb"),
        )
        .distinct()
    )
    dot = qdot_arrow()(F.col("__va"), F.col("__vb"))
    return (
        cand.withColumn("cosine", qcosine(dot, F.col("__na"), F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("__ida").alias(left_id),
            F.col("__idb").alias(right_id),
            "cosine",
        )
    )


def decontaminate_embeddings(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_id: str,
    eval_id: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_planes: int = 8,
    num_tables: int = 4,
    probe_bits: int = 1,
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop every corpus row
    whose vector is near-duplicate (cosine >= threshold) of ANY eval-set
    vector — the semantic sibling of the n-gram scrub in
    operators/dedup.ngram_decontaminate, catching paraphrases and
    re-encodings that exact n-grams miss. Returns the surviving corpus
    rows unchanged.

    Plan: cross-set LSH candidates + exact verify (see cosine_cross_lsh)
    -> distinct contaminated corpus ids -> one LEFT ANTI join. The eval
    set is typically tiny next to the corpus, so it takes the LEFT
    (multi-probed) side: the XOR probe is symmetric — eval_sig ^ m ==
    corpus_sig iff corpus_sig ^ m == eval_sig — so the candidate set is
    identical either way, but probing the small side keeps the corpus
    signature frame at num_tables rows/vector instead of multiplying it
    by the probe masks (9x at 1 bit over 8 planes). Recall follows the
    LSH curve — at the default 8x4+1-probe a cosine-0.9 contaminant is
    caught with P ~ 0.97 per the hyperplane formula; raise num_tables
    for stricter guarantees (cost is linear in tables).
    """
    hits = cosine_cross_lsh(
        eval_set,
        corpus,
        eval_id,
        corpus_id,
        vec_col,
        threshold,
        num_planes,
        num_tables,
        probe_bits,
    )
    flagged = hits.select(F.col(corpus_id)).distinct()
    return corpus.join(flagged, on=corpus_id, how="left_anti")


def ivf_pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    codebooks: PQCodebooks,
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 64,
    seeds: IvfSeeds | None = None,
) -> DataFrame:
    """The composed PRODUCTION ANN serving plan — IVF routing -> PQ/ADC
    shortlist -> exact re-rank — in one DataFrame pipeline:

    1. ROUTE: corpus rows coarse-quantize to their nearest of
       ``n_cells`` broadcast seeds; queries probe their ``n_probe``
       nearest cells. Candidate generation is an equi join on the cell
       id — per-query work is the probed cells' members, never |corpus|.
    2. SHORTLIST: probed members are scored through their PQ codes only
       (asymmetric distance: m LUT reads + adds per pair; the candidate
       stream carries m small ints, not dim floats — the memory-
       bandwidth win that makes the scan feasible at 100 TB), and each
       query keeps its ``shortlist`` best.
    3. RE-RANK: the tiny (|Q| x shortlist) id list joins BACK to the
       corpus for exact vectors — broadcast hash join keyed on the
       corpus id, touching full-width vectors only for shortlisted rows
       — and exact quantized cosine (identical scoring to cosine_topk)
       produces the final top-``k``.

    Recall factorizes as (true neighbor in a probed cell) x (survives
    the ADC shortlist); the exact re-rank removes all within-shortlist
    ordering error, so ``shortlist`` is the recall/cost dial that pure
    ADC@k lacks. Deterministic end-to-end: seed/cell/rank ties all break
    on ids.

    ``seeds`` defaults to the ``n_cells`` lowest-id corpus vectors
    (data-deterministic, oracle-checkable — same contract as
    ivf_ann_topk); pass train_ivf_seeds output in production.
    ``codebooks`` come from train_pq_codebooks.

    ``codebooks.residual`` (the standard FAISS IVF-PQ recipe): the
    PQ stage codes each corpus vector's RESIDUAL against its routed
    cell centroid — ``ADC = q.c + sum_j LUT[j][code_j]`` with the exact
    per-(query, probed-cell) ``q.c`` term computed once in the routing
    pass, and the stored norm is the full reconstruction's
    ``|c + r_hat|^2``. Residuals are far tighter-distributed than raw
    vectors, so the same m x k code budget roughly doubles shortlist
    fidelity (measured recall@10 0.52 -> >=0.7 on the synthetic
    embeddings). Such codebooks come from
    ``train_pq_codebooks(..., residual_seeds=seeds)`` with the SAME
    seeds; raw-trained codebooks score raw-vector codes (the
    pq_ann_topk convention).
    """
    residual = codebooks.residual
    seeds = _ivf_seeds(corpus, corpus_id, vec_col, n_cells, seeds)

    # --- corpus side: one scan -> (cid, cell, code, cn2); no vectors ---
    c_base = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    c_cells = _route(c_base, seeds, "__cid", 1, qdot).select("__cid", "__cell")
    if residual:
        # Encode each row's residual against its ROUTED cell's centroid
        # (broadcast seed fetch keyed on the cell id — structural
        # agreement between routing and residualization).
        c_enc_in = (
            c_base.select("__cid", "__v")
            .join(c_cells, "__cid")
            .join(
                F.broadcast(seeds.select("__cell", "__seed_v")), "__cell"
            )
        )
        enc = _pq_encode_residual_udf(codebooks)
        c_enc = c_enc_in.select(
            "__cid",
            "__cell",
            enc(F.col("__v"), F.col("__seed_v")).alias("__pq"),
        ).select(
            "__cid",
            "__cell",
            F.col("__pq.code").alias("__code"),
            F.col("__pq.norm2").alias("__cn2"),
        )
    else:
        c_enc = (
            pq_encode(corpus, codebooks, vec_col)
            .select(
                F.col(corpus_id).alias("__cid"),
                F.col("pq_code").alias("__code"),
                F.col("pq_norm2").alias("__cn2"),
            )
            .join(c_cells, "__cid")
        )

    # --- query side: probes + per-query LUT ---
    q_base = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    # __qc (plain-double q.c, the ADC base term in residual mode) is
    # computed inside the routing pass, per (query, seed) pair, on
    # purpose: there the window's exchange carries one double per pair.
    # Adding it after _route would evaluate it on n_probe rows instead of
    # n_cells, but would drag both vectors (__v, __seed_v) of every pair
    # through that exchange.
    qc = F.aggregate(
        F.zip_with(
            as_double_vec(F.col("__v")),
            as_double_vec(F.col("__seed_v")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).alias("__qc")
    q_probes = _route(
        q_base, seeds, "__qid", max(n_probe, 1), qdot, *([qc] if residual else [])
    ).select("__qid", "__cell", *(["__qc"] if residual else []))
    q_model = _pq_queries(queries, query_id, vec_col, codebooks).join(
        q_probes, "__qid"
    )

    # --- ADC over routed candidates -> per-query shortlist of ids ---
    # residual mode: q.(c + r_hat) = q.c (exact, from routing) + the LUT
    # sum over residual codes
    adc = _adc_cosine(F.col("__qc") if residual else F.lit(0.0))
    # No distinct: each corpus row lives in exactly ONE cell
    # (routing keeps 1 on the corpus side), so a (query, corpus) pair
    # can meet through at most one probed cell — deduplicating here
    # would shuffle the largest intermediate of the job for nothing.
    cand = (
        c_enc.join(F.broadcast(q_model), "__cell")
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid", adc.alias("__adc"))
    )
    ws = Window.partitionBy("__qid").orderBy(
        F.col("__adc").desc(), F.col("__cid")
    )
    short = (
        cand.withColumn("__sr", F.row_number().over(ws))
        .filter((F.col("__sr") <= shortlist) & F.col("__adc").isNotNull())
        .select("__qid", "__cid")
    )

    # --- exact re-rank: shortlist ids fetch exact vectors ---
    rer = (
        c_base.join(F.broadcast(short), "__cid")
        .join(
            F.broadcast(
                q_base.select(
                    "__qid",
                    F.col("__v").alias("__qv"),
                    F.col("__n").alias("__qn"),
                )
            ),
            "__qid",
        )
        .withColumn(
            "cosine",
            qcosine(
                qdot(F.col("__qv"), F.col("__v")),
                F.col("__qn"),
                F.col("__n"),
            ),
        )
    )
    wk = Window.partitionBy("__qid").orderBy(
        F.col("cosine").desc(), F.col("__cid")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def probe_recall_curve(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    codebooks: PQCodebooks,
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    probes: tuple[int, ...] = (1, 2, 4, 8),
    shortlist: int = 64,
    seeds: IvfSeeds | None = None,
) -> list[dict]:
    """The IVF-PQ recall/cost DIAL, measured (VERDICT r11 #8): run the
    SAME serving plan (:func:`ivf_pq_rerank_topk` — identical shape at
    every setting, only the rank cutoff changes) at each ``n_probe``
    and score recall@k against the exact brute-force top-k over the
    same frames. Returns one dict per setting: {"n_probe", "recall"} —
    the cost axis is n_probe itself (ADC work is linear in the probed
    cells' member count by construction). Probing p+1 cells scores a
    SUPERSET of the candidates p cells score, so recall rises with
    probes on any corpus whose true neighbors spread across cells (the
    test pins a measured monotone curve on unstructured vectors; on
    well-separated clusters the curve is flat at the routing ceiling —
    probe=1 already finds the right cell).

    A MODEL-SELECTION helper, not a serving operator: it runs
    len(probes)+1 bounded jobs (queries-sized results each) and
    collects only (id, id) pairs. Use it to pick the cheapest n_probe
    meeting a recall target; serve with ivf_pq_rerank_topk at that
    setting."""
    exact = {
        (r[0], r[1])
        for r in cosine_topk(
            queries, corpus, query_id, corpus_id,
            query_vec=vec_col, corpus_vec=vec_col, k=k,
        )
        .select(query_id, corpus_id)
        .collect()
    }
    if not exact:
        raise ValueError("no exact top-k pairs — empty queries or corpus?")
    out = []
    for p in probes:
        got = [
            (r[0], r[1])
            for r in ivf_pq_rerank_topk(
                queries, corpus, query_id, corpus_id, codebooks,
                vec_col=vec_col, k=k, n_cells=n_cells, n_probe=p,
                shortlist=shortlist, seeds=seeds,
            )
            .select(query_id, corpus_id)
            .collect()
        ]
        hits = sum(pair in exact for pair in got)
        out.append({"n_probe": int(p), "recall": hits / len(exact)})
    return out


def semantic_dedup(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int = 16,
    seeds: IvfSeeds | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — public): cluster the
    embedding space coarsely, find near-duplicate pairs WITHIN each
    cluster only, and keep one canonical document per duplicate group —
    the semantic sibling of MinHash dedup, catching paraphrases and
    re-encodings whose n-grams share nothing. Returns the surviving
    corpus rows annotated with ``cluster_size``.

    Plan (the paper's cost model, Spark-shaped):

    1. ROUTE: every vector coarse-quantizes to its nearest of
       ``n_cells`` broadcast centroids (same deterministic lowest-id
       default and quantized-cosine tie-break as ivf_ann_topk — or pass
       train_ivf_seeds output);
    2. PAIR: a self equi join ON THE CELL ID — candidate pairs exist
       only within a cell, so pair work is O(sum |cell|^2), never
       O(n^2); exact quantized cosine >= ``threshold`` verifies.
       Scale ``n_cells`` with the corpus (the paper uses ~100k clusters
       for web scale) to keep cells bounded; a skewed embedding space
       concentrates cost in the hot cell — compose with
       cosine_pairs_lsh inside giant cells if routing cannot be made
       finer.
    3. CLUSTER + KEEP: near-dup pairs feed the O(log n)
       large-star/small-star connected components and the smallest-id
       canonical survivor policy (dedup.dedup_keep_canonical), exactly
       like the MinHash pipeline — one dedup semantics across both
       modalities.

    Deterministic end-to-end (routing, cosine, and survivor ties all
    break on ids), so the whole pipeline is oracle-checkable."""
    from dca_manager_spark.operators.dedup import dedup_keep_canonical

    base = corpus.select(
        F.col(corpus_id).alias("__id"),
        F.col(vec_col).alias("__v"),
        qnorm(F.col(vec_col)).alias("__n"),
    )
    seeds = _ivf_seeds(corpus, corpus_id, vec_col, n_cells, seeds)
    # Both dot products below are the ARROW twin of qdot (bit-identical
    # — see qdot_arrow): the routing crossJoin scores |corpus| x n_cells
    # rows and the within-cell verify O(sum |cell|^2) rows, and the
    # interpreted per-element HOF fold was ~1s per stage at bench scale
    # on those row counts (r17); the numpy batch path does the same
    # IEEE ops in vectorized form.
    qdot_a = qdot_arrow()
    assigned = _route(base, seeds, "__id", 1, qdot_a).select(
        "__id", "__cell", "__v", "__n"
    )
    a = assigned.select(
        F.col("__id").alias("id_a"),
        F.col("__cell").alias("__c"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = assigned.select(
        F.col("__id").alias("id_b"),
        F.col("__cell").alias("__c"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "__c")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            qcosine(
                qdot_a(F.col("__va"), F.col("__vb")),
                F.col("__na"),
                F.col("__nb"),
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    return dedup_keep_canonical(corpus, pairs, corpus_id)
