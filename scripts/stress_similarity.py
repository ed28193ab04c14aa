"""Embedding-pair-dedup stress probe beyond the test SFs (SCALE.md).

Builds a corpus of REPLICAS x sf0.1 embeddings (each replica is a tiny
deterministic perturbation of its base, so true near-dup pairs exist at
every similarity level), then times the sign-LSH candidate path
(cosine_pairs_lsh, the catalog's scale shape) and reports the candidate
count against the all-pairs count — the number that must stay
sub-quadratic for the operator to survive 100x.

Section 2 (VERDICT r11 #9 — the 100 TB serving claim): a 1M-vector
clustered synthetic corpus goes through the COMPOSED production ANN
plan (ivf_pq_rerank_topk: IVF route -> residual PQ/ADC shortlist ->
exact re-rank) end-to-end, with recall@10 measured against exact brute
force for a query panel and a wall-clock budget — the same backing
stress_spans.py gives span dedup.

Usage: python scripts/stress_similarity.py [replicas=20] [probe_bits=1]
       [ann_n=1000000] [ann_budget_s=300]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from dca_manager_spark.io.readers import load_table  # noqa: E402
from dca_manager_spark.operators.similarity import cosine_pairs_lsh  # noqa: E402
from dca_manager_spark.session import get_bench_session  # noqa: E402


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    probe_bits = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_bench_session("similarity-stress")
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )
    n_base = base.count()
    # Replica r scales every element by (1 + r/1e4): cosine(base, replica)
    # = 1.0 exactly in real arithmetic, ~0.9999+ in float — guaranteed
    # high-similarity pairs without external data.
    corpus = (
        base.crossJoin(spark.range(replicas).select(F.col("id").alias("__rep")))
        .select(
            (F.col("vec_id") * replicas + F.col("__rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (
                    x.cast("double") * (1.0 + F.col("__rep").cast("double") / 1e4)
                ).cast("float"),
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    n = corpus.count()
    all_pairs = n * (n - 1) // 2
    print(f"corpus: {n} vectors ({n_base} bases x {replicas} replicas); "
          f"all-pairs = {all_pairs:,}")

    t0 = time.perf_counter()
    pairs = cosine_pairs_lsh(
        corpus, "vec_id", "embedding", threshold=0.9,
        num_planes=8, num_tables=4, probe_bits=probe_bits,
    ).localCheckpoint()
    n_pairs = pairs.count()
    t_lsh = time.perf_counter() - t0

    # Candidate volume = the rows entering exact verification; recompute
    # the candidate stage alone for the scale report.
    frac = n_pairs / all_pairs if all_pairs else 0.0
    print(f"sign-LSH (8x4, probe={probe_bits}): {n_pairs:,} verified pairs "
          f"in {t_lsh:.1f}s — {frac:.2e} of all-pairs")
    # Planted ground truth: each base contributes replicas*(replicas-1)/2
    # same-base pairs at cosine ~1.0.
    planted = n_base * replicas * (replicas - 1) // 2
    same_base = pairs.filter(
        (F.col("id_a") / replicas).cast("long")
        == (F.col("id_b") / replicas).cast("long")
    ).count()
    print(f"planted same-base pairs: {planted:,}; recovered: {same_base:,} "
          f"({same_base / planted:.1%} recall at cosine~1.0)")

    # ------------------------------------------------------------------
    # Section 2: 1M-vector IVF-PQ-rerank end-to-end (VERDICT r11 #9)
    # ------------------------------------------------------------------
    import numpy as np

    from dca_manager_spark.operators.similarity import (
        IvfSeeds,
        cosine_topk,
        ivf_pq_rerank_topk,
        train_pq_codebooks,
    )

    ann_n = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    ann_budget = float(sys.argv[4]) if len(sys.argv) > 4 else 300.0
    dim, n_cells, n_queries = 32, 64, 16
    rng = np.random.default_rng(29)
    centers = rng.normal(size=(n_cells, dim)) * 4.0

    # Vector i = center[i % n_cells] + deterministic hash noise — built
    # with pure JVM expressions, so the 1M-row corpus never exists on
    # the driver and generation parallelizes like any scan.
    center_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centers
    ])
    noise = lambda j: (
        (F.xxhash64(F.col("id"), F.lit(j)) % 1000).cast("double") / 1000.0
        - 0.5
    ) * 0.8
    corpus1m = (
        spark.range(ann_n)
        .select(
            F.col("id").alias("nid"),
            F.array(*[
                (
                    F.element_at(
                        F.element_at(center_lit, (F.col("id") % n_cells + 1).cast("int")),
                        j + 1,
                    )
                    + noise(j)
                ).cast("double")
                for j in range(dim)
            ]).alias("embedding"),
        )
        .localCheckpoint()
    )
    n_corpus = corpus1m.count()
    q1m = corpus1m.filter(F.col("nid") < n_queries).select(
        F.col("nid").alias("qid"), "embedding"
    )
    seeds = IvfSeeds(centers)
    t0 = time.perf_counter()
    books = train_pq_codebooks(
        corpus1m, "embedding", m=8, k=16, sample_id_col="nid",
        residual_seeds=seeds,
    )
    t_train = time.perf_counter() - t0
    t0 = time.perf_counter()
    approx = {
        (r["qid"], r["nid"])
        for r in ivf_pq_rerank_topk(
            q1m, corpus1m, "qid", "nid", books, k=10, n_cells=n_cells,
            n_probe=8, shortlist=64, seeds=seeds,
        ).collect()
    }
    t_serve = time.perf_counter() - t0
    t0 = time.perf_counter()
    exact = {
        (r["qid"], r["nid"])
        for r in cosine_topk(q1m, corpus1m, "qid", "nid", k=10).collect()
    }
    t_exact = time.perf_counter() - t0
    recall = len(approx & exact) / len(exact)
    print(f"ANN 1M: {n_corpus:,} vectors, PQ train {t_train:.1f}s, "
          f"IVF-PQ-rerank {t_serve:.1f}s for {n_queries} queries "
          f"(exact brute force: {t_exact:.1f}s), recall@10 = {recall:.3f}")
    ok = True
    if recall < 0.6:
        print(f"FAIL: 1M ANN recall {recall:.3f} below 0.6 floor")
        ok = False
    if t_serve + t_train > ann_budget:
        print(f"FAIL: train+serve {t_train + t_serve:.1f}s exceeds "
              f"budget {ann_budget:.0f}s")
        ok = False
    print("PASS" if ok else "FAIL")
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
