"""Semantic tests for similarity search: exact top-k correctness against a
NumPy oracle, and LSH-ANN candidate quality."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dca_manager_spark.operators.similarity import cosine_pairs, cosine_topk, lsh_ann_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    out = cosine_topk(
        emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "query_id",
        "neighbor_id",
        k=5,
    ).collect()

    for qid in range(3):
        got = [r.neighbor_id for r in sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank
        )]
        q = vecs[qid]
        sims = {
            cid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            for cid, v in vecs.items()
            if cid != qid
        }
        want = [cid for cid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
        assert got == want, f"query {qid}: {got} != numpy {want}"


def test_cosine_topk_scores_sane(emb):
    out = cosine_topk(
        emb.filter(F.col("vec_id") < 2).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "query_id",
        "neighbor_id",
        k=10,
    ).collect()
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in out)
    # ranks are dense 1..10 per query and ordered by descending cosine
    for qid in (0, 1):
        rs = sorted((r for r in out if r.query_id == qid), key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 11))
        assert all(rs[i].cosine >= rs[i + 1].cosine for i in range(len(rs) - 1))


def test_cosine_pairs_symmetric_threshold(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0]),   # ~1.0 cosine with 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = {(r.id_a, r.id_b): r.cosine for r in cosine_pairs(df, "vec_id", threshold=0.9).collect()}
    assert set(out) == {(0, 1)}
    assert out[(0, 1)] > 0.99


def test_lsh_ann_subset_of_exact_order(emb):
    """LSH results must be correctly ranked by the same exact cosine; every
    returned neighbor's score must match the brute-force score."""
    exact = cosine_topk(
        emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "query_id",
        "neighbor_id",
        k=1000000,
    ).collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}

    approx = lsh_ann_topk(
        emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "query_id",
        "neighbor_id",
        k=5,
        num_planes=8,
    ).collect()
    assert approx, "LSH returned no candidates at 8 planes"
    for r in approx:
        assert exact_scores[(r.query_id, r.neighbor_id)] == r.cosine


def test_arrow_and_expr_cosine_identical(spark, emb):
    """The Arrow kernel qdot_arrow returns exactly what the expression
    fold qdot returns, row by row: the same bits on every pair of 60 real
    embeddings, null for a null side, a null element or a ragged pair, 0
    for two empty vectors. Checked on the pairs alone (one equal-width
    batch) and with the edge rows in the same batch, where one malformed
    row must not fail the others. NaN/Inf elements are not covered: there
    qdot_arrow returns null and the fold saturates."""
    from dca_manager_spark.operators.similarity import qdot, qdot_arrow

    small = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    pairs = (
        small.alias("a")
        .join(small.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.format_string("%d-%d", "a.vec_id", "b.vec_id").alias("tag"),
            F.col("a.embedding").alias("va"),
            F.col("b.embedding").alias("vb"),
        )
    )
    edge = spark.createDataFrame(
        [
            ("null", None, [1.0, 2.0]),
            ("null_elem", [1.0, None], [1.0, 2.0]),
            ("ragged", [1.0, 2.0, 3.0], [1.0, 2.0]),
            ("empty", [], []),
            ("narrow", [0.5, -0.25], [2.0, 1.0]),
        ],
        "tag string, va array<float>, vb array<float>",
    )

    def both(df):
        return {
            r.tag: (r.fold, r.arrow)
            for r in df.select(
                "tag",
                qdot(F.col("va"), F.col("vb")).alias("fold"),
                qdot_arrow()(F.col("va"), F.col("vb")).alias("arrow"),
            ).collect()
        }

    alone = both(pairs)
    mixed = both(pairs.unionByName(edge).coalesce(1))
    assert len(alone) == 60 * 59 // 2 and len(mixed) == len(alone) + 5
    assert all(fold == arrow for fold, arrow in alone.values())
    assert all(fold == arrow for fold, arrow in mixed.values())
    assert all(mixed[t] == alone[t] for t in alone)
    assert mixed["null"] == mixed["null_elem"] == mixed["ragged"] == (None, None)
    assert mixed["empty"] == (0, 0)
    assert mixed["narrow"] == (750_000_000_000, 750_000_000_000)


def test_lsh_multi_table_recall_geq_single(emb):
    """OR-amplification: candidates found by 3 tables must be a superset
    of the single-table candidates (same plane set for table 0)."""
    qdf = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    cdf = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    one = {(r.query_id, r.neighbor_id)
           for r in lsh_ann_topk(qdf, cdf, "query_id", "neighbor_id", k=10**6,
                                 num_planes=10, num_tables=1).collect()}
    three = {(r.query_id, r.neighbor_id)
             for r in lsh_ann_topk(qdf, cdf, "query_id", "neighbor_id", k=10**6,
                                   num_planes=10, num_tables=3).collect()}
    assert one <= three
    assert len(three) >= len(one)


def test_ivf_ann_probe_all_equals_brute_force(spark):
    """Probing every cell degrades IVF gracefully to the exact result."""
    from dca_manager_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    c = emb.selectExpr("vec_id AS neighbor_id", "embedding")
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(q, c, "query_id", "neighbor_id", k=5).collect()
    }
    probed_all = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_ann_topk(
            q, c, "query_id", "neighbor_id", k=5, n_cells=8, n_probe=8
        ).collect()
    }
    assert probed_all == exact


def test_ivf_ann_recall_and_learned_seeds(spark):
    """Partial probing keeps recall well above random, and externally
    learned centroids (k-means or any centroid matrix, as IvfSeeds) slot
    into the same plan."""
    from dca_manager_spark.operators.similarity import (
        IvfSeeds,
        cosine_topk,
        ivf_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 20").selectExpr("vec_id AS query_id", "embedding")
    c = emb.selectExpr("vec_id AS neighbor_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, c, "query_id", "neighbor_id", k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_ann_topk(
            q, c, "query_id", "neighbor_id", k=5, n_cells=8, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # 4/8 cells probed

    # injected seeds: any centroid matrix — here 8 spread-out corpus
    # vectors standing in for trained centroids
    seeds = IvfSeeds(np.vstack([
        r.embedding
        for r in emb.filter("vec_id % 60 = 0").orderBy("vec_id").limit(8).collect()
    ]))
    with_seeds = ivf_ann_topk(
        q, c, "query_id", "neighbor_id", k=5, n_probe=4, seeds=seeds
    )
    assert with_seeds.count() == 20 * 5


def test_ivf_trained_seeds_end_to_end(spark):
    """k-means-trained centroids (train_ivf_seeds) drive the same IVF plan
    and reach at least the recall of the deterministic lowest-id seeds."""
    from dca_manager_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        train_ivf_seeds,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 20").selectExpr("vec_id AS query_id", "embedding")
    c = emb.selectExpr("vec_id AS neighbor_id", "embedding")
    seeds = train_ivf_seeds(c, n_cells=8)
    assert seeds.centroids.shape == (8, 64)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, c, "query_id", "neighbor_id", k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_ann_topk(
            q, c, "query_id", "neighbor_id", k=5, n_probe=4, seeds=seeds
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_cosine_pairs_lsh_zero_fp_and_subset(spark, emb):
    """The LSH pair-dedup path must emit ONLY pairs the exact baseline
    emits (zero false positives — every candidate is exact-verified), with
    identical cosine bits on the shared pairs."""
    from dca_manager_spark.operators.similarity import cosine_pairs_lsh

    bounded = emb.filter(F.col("vec_id") < 300)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in cosine_pairs(bounded, "vec_id", threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine
           for r in cosine_pairs_lsh(bounded, "vec_id", threshold=0.4).collect()}
    assert set(lsh) <= set(exact), "LSH emitted a pair failing the exact threshold"
    for k in lsh:
        assert lsh[k] == exact[k], f"cosine bits differ on {k}"


def test_cosine_pairs_lsh_recall_rises_with_tables(spark, emb):
    """OR-amplification: more independent tables can only add candidates,
    so recall is monotone in num_tables (and with planted near-identical
    vectors, multi-table catches them)."""
    from dca_manager_spark.operators.similarity import cosine_pairs_lsh

    base = [r.embedding for r in emb.limit(20).collect()]
    # Plant 10 near-identical pairs (cosine ~0.9999): ids 2i / 2i+1.
    rows = []
    for i, v in enumerate(base[:10]):
        bumped = [x * 1.0001 + 0.0001 for x in v]
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in bumped]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    planted = {(2 * i, 2 * i + 1) for i in range(10)}

    def pairs(tables):
        got = cosine_pairs_lsh(df, "vec_id", threshold=0.9,
                               num_planes=8, num_tables=tables).collect()
        return {(r.id_a, r.id_b) for r in got}

    one, four = pairs(1), pairs(4)
    assert one <= four, "adding tables must never drop candidates"
    assert len(four & planted) >= 9, (
        f"8x4 LSH should catch near-identical pairs: got {len(four & planted)}/10"
    )


def test_cosine_pairs_lsh_multiprobe_monotone_no_fp(spark, emb):
    """1-bit multi-probe must be a superset of no-probe (masks include the
    identity), still zero false positives, and strictly sub-quadratic in
    candidates (the probe side expands 9x, the raw side doesn't)."""
    from dca_manager_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

    bounded = emb.filter(F.col("vec_id") < 300)
    exact = {(r.id_a, r.id_b)
             for r in cosine_pairs(bounded, "vec_id", threshold=0.4).collect()}
    p0 = {(r.id_a, r.id_b)
          for r in cosine_pairs_lsh(bounded, "vec_id", threshold=0.4).collect()}
    p1 = {(r.id_a, r.id_b)
          for r in cosine_pairs_lsh(bounded, "vec_id", threshold=0.4,
                                    probe_bits=1).collect()}
    assert p0 <= p1, "identity mask missing: probe dropped base candidates"
    assert p1 <= exact, "probe introduced a false positive"


def test_quantize_embeddings_roundtrip_bound(spark, emb):
    """Int8 quantization: codes in [-127, 127], zero vectors -> zeros
    with scale 0, and the per-element reconstruction error is within the
    symmetric-quantization bound scale/254 (+ float slack)."""
    from dca_manager_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 4)], "vec_id long, embedding array<double>"
    )
    q = dequantize_embeddings(
        quantize_embeddings(base.unionByName(zero)), out_col="deq"
    ).collect()
    for r in q:
        assert all(-127 <= c <= 127 for c in r.q_embedding)
        if r.vec_id == 999_999:
            assert r.q_scale == 0 and all(c == 0 for c in r.q_embedding)
            continue
        bound = r.q_scale / 254 * (1 + 1e-9)
        for x, d in zip(r.embedding, r.deq):
            assert abs(float(x) - d) <= bound, (r.vec_id, x, d, bound)


def test_cosine_topk_int8_agrees_with_exact(spark, emb):
    """The int8 scoring pass must agree with the exact float path at
    shortlist granularity: strong top-10 overlap, and every int8 cosine
    within the quantization error of its exact value."""
    from dca_manager_spark.operators.similarity import cosine_topk, cosine_topk_int8

    q = emb.filter(F.col("vec_id") < 30).selectExpr("vec_id AS query_id", "embedding")
    c = emb.selectExpr("vec_id AS neighbor_id", "embedding")
    exact = cosine_topk(q, c, "query_id", "neighbor_id", k=10).collect()
    quant = cosine_topk_int8(q, c, "query_id", "neighbor_id", k=10).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    qn = {}
    for r in quant:
        qn.setdefault(r.query_id, set()).add(r.neighbor_id)
    overlaps = [len(ex[k] & qn[k]) / len(ex[k]) for k in ex]
    assert sum(overlaps) / len(overlaps) >= 0.8, sum(overlaps) / len(overlaps)
    # int8 cosine close to exact cosine on the shared pairs
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in quant:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert abs(r.cosine - exact_cos[key]) < 0.02, (key, r.cosine, exact_cos[key])


def test_pq_adc_recall_and_rerank(spark, sf_dir):
    """PQ/ADC shortlist recall clears the floor, and the production
    composition — PQ shortlist -> exact re-rank — recovers most of the
    exact top-10 at a fraction of the full-scan arithmetic."""
    from dca_manager_spark.operators.similarity import (
        cosine_topk,
        pq_ann_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.select(F.col("vec_id").alias("nid"), "embedding")
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    books = train_pq_codebooks(c, m=16, k=16, max_iter=5)
    exact = {
        (r.qid, r.nid)
        for r in cosine_topk(q, c, "qid", "nid", k=10).collect()
    }
    top10 = {
        (r.qid, r.nid)
        for r in pq_ann_topk(q, c, "qid", "nid", books, k=10).collect()
    }
    assert len(top10 & exact) / len(exact) >= 0.25
    # shortlist 50 then exact re-rank: recall jumps well above the raw
    # top-10 — the IVF-PQ/re-rank production pattern
    shortlist = pq_ann_topk(q, c, "qid", "nid", books, k=50).select(
        "qid", "nid"
    )
    rer = shortlist.join(
        c.withColumnRenamed("nid", "__n"), F.col("nid") == F.col("__n")
    )
    reranked = {
        (r.qid, r.nid)
        for r in cosine_topk(
            q,
            rer.select(F.col("nid"), "embedding").distinct(),
            "qid",
            "nid",
            k=10,
        ).collect()
    }
    # re-rank can only pick from the shortlist; measure against exact
    short_recall = len(top10 & exact) / len(exact)
    rerank_recall = len(reranked & exact) / len(exact)
    assert rerank_recall >= short_recall
    assert rerank_recall >= 0.5, f"re-rank recall {rerank_recall}"


def test_pq_encode_is_layout_independent(spark):
    """With FIXED codebooks the code assignment is a pure row function:
    repartitioning must not change a single code."""
    from dca_manager_spark.operators.similarity import PQCodebooks, pq_encode

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = PQCodebooks(
        [[[0.1 * c + 0.01 * d for d in range(4)] for c in range(5)]] * 2,
        residual=False,
    )
    a = {
        r.vec_id: tuple(r.pq_code)
        for r in pq_encode(df, books).collect()
    }
    b = {
        r.vec_id: tuple(r.pq_code)
        for r in pq_encode(df.repartition(7), books).collect()
    }
    assert a == b
    assert all(len(c) == 2 for c in a.values())

    # Row contract of all three PQ UDFs: a null or ragged vector gets a
    # null code / norm / LUT; the valid row in the same batch keeps its
    # code.
    from dca_manager_spark.operators.similarity import (
        _pq_encode_residual_udf,
        _pq_queries,
    )

    bad = spark.createDataFrame(
        [(1, rows[1][1]), (2, None), (3, [0.5] * 5)],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    enc = {r.vec_id: r for r in pq_encode(bad, books).collect()}
    assert tuple(enc[1].pq_code) == a[1] and enc[1].pq_norm2 is not None
    assert [(enc[i].pq_code, enc[i].pq_norm2) for i in (2, 3)] == [(None, None)] * 2
    res = {
        r.vec_id: r.pq
        for r in bad.select(
            "vec_id",
            _pq_encode_residual_udf(books)(
                F.col("embedding"), F.array([F.lit(0.0)] * 8)
            ).alias("pq"),
        ).collect()
    }
    assert tuple(res[1].code) == a[1]
    assert [(res[i].code, res[i].norm2) for i in (2, 3)] == [(None, None)] * 2
    lut = {
        r["__qid"]: r["__lut"]
        for r in _pq_queries(bad, "vec_id", "embedding", books).collect()
    }
    assert len(lut[1]) == 2 and lut[2] is None and lut[3] is None
    # ... and ADC top-k drops those rows on both sides: the valid query
    # ranks the valid corpus exactly as without them.
    from dca_manager_spark.operators.similarity import pq_ann_topk

    corpus = df.union(bad.filter("vec_id > 1").selectExpr("vec_id + 100", "embedding"))
    got = pq_ann_topk(bad, corpus, "vec_id", "vec_id", books, k=3).collect()
    clean = pq_ann_topk(bad.filter("vec_id = 1"), df, "vec_id", "vec_id", books, k=3)
    assert sorted(got) == sorted(clean.collect()) and len(got) == 3


def test_pq_dim_divisibility_is_loud(spark):
    from dca_manager_spark.operators.similarity import train_pq_codebooks

    df = spark.createDataFrame(
        [(1, [0.1] * 10)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divide"):
        train_pq_codebooks(df, m=3)


def test_cosine_cross_lsh_zero_fp_and_exact_copies_caught(spark):
    """Cross-set LSH: every emitted pair is exact-verified (zero false
    positives vs a brute-force numpy check), and an exact copy across
    the sets is ALWAYS caught (identical vectors share every bucket)."""
    import numpy as np

    from dca_manager_spark.operators.similarity import cosine_cross_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16)).astype("float32")
    left_rows = [(i, base[i].tolist()) for i in range(6)]
    # right: exact copies of 0 and 3, plus two unrelated vectors
    right_rows = [
        (100, base[0].tolist()),
        (103, base[3].tolist()),
        (110, rng.normal(size=16).astype("float32").tolist()),
        (111, rng.normal(size=16).astype("float32").tolist()),
    ]
    left = spark.createDataFrame(left_rows, "lid long, embedding array<float>")
    right = spark.createDataFrame(right_rows, "rid long, embedding array<float>")
    got = cosine_cross_lsh(
        left, right, "lid", "rid", threshold=0.9, num_planes=8, num_tables=4,
        probe_bits=1,
    ).collect()
    pairs = {(r.lid, r.rid) for r in got}
    assert (0, 100) in pairs and (3, 103) in pairs
    # zero false positives: brute-force cosines of all emitted pairs >= 0.9
    L = {i: np.asarray(v, dtype=np.float64) for i, v in left_rows}
    R = {i: np.asarray(v, dtype=np.float64) for i, v in right_rows}
    for r in got:
        a, b = L[r.lid], R[r.rid]
        c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert c >= 0.9 - 1e-9


def test_cosine_cross_lsh_rejects_same_id_name(spark):
    from dca_manager_spark.operators.similarity import cosine_cross_lsh

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="must differ"):
        cosine_cross_lsh(df, df, "vec_id", "vec_id")


def test_decontaminate_embeddings_drops_copies_keeps_rest(spark):
    import numpy as np

    from dca_manager_spark.operators.similarity import decontaminate_embeddings

    rng = np.random.default_rng(11)
    base = rng.normal(size=(5, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, base[i].tolist(), f"doc{i}") for i in range(5)],
        "cid long, embedding array<float>, payload string",
    )
    eval_set = spark.createDataFrame(
        [(900, base[2].tolist()), (901, base[4].tolist())],
        "eid long, embedding array<float>",
    )
    out = decontaminate_embeddings(
        corpus, eval_set, "cid", "eid", threshold=0.95, probe_bits=1
    )
    rows = {r.cid: r.payload for r in out.collect()}
    assert set(rows) == {0, 1, 3}
    assert rows[0] == "doc0"  # rows pass through unchanged


def test_ivf_pq_rerank_degrades_to_exact(spark, sf_dir):
    """With full probing (n_probe = n_cells) and an unbounded shortlist,
    the composed IVF->PQ->rerank pipeline must return EXACTLY the
    brute-force cosine_topk result — same ids, same ranks, same scores
    (the exact re-rank scores with the identical quantized cosine).
    Pins that routing and shortlisting only ever PRUNE, never alter
    scoring."""
    from dca_manager_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_rerank_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    c = emb.select(F.col("vec_id").alias("nid"), "embedding")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    books = train_pq_codebooks(c, m=16, k=16, max_iter=3)
    exact = sorted(
        (r.qid, r.nid, r.cosine, r.rank)
        for r in cosine_topk(q, c, "qid", "nid", k=5).collect()
    )
    composed = sorted(
        (r.qid, r.nid, r.cosine, r.rank)
        for r in ivf_pq_rerank_topk(
            q, c, "qid", "nid", books,
            k=5, n_cells=8, n_probe=8, shortlist=n,
        ).collect()
    )
    assert composed == exact


def test_ivf_pq_rerank_recall_floor(spark, sf_dir):
    """Production parameters (residual-trained codebooks, 8/16 probes,
    shortlist 64): recall@10 vs exact clears 0.7 (measured 0.70-0.76
    across SFs; VERDICT r10 #4), and every query returns exactly k rows
    with contiguous ranks. Factorization measured on this data: the ADC
    shortlist is lossless at 64 (recall == routing ceiling), so probes
    are the recall dial; residual coding buys shortlist fidelity on
    clustered corpora (see test_residual_pq_beats_raw_on_clustered)."""
    from dca_manager_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_rerank_topk,
        train_ivf_seeds,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.select(F.col("vec_id").alias("nid"), "embedding")
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    seeds = train_ivf_seeds(c, n_cells=16, seed=13)
    books = train_pq_codebooks(
        c, m=16, k=16, max_iter=10, sample_id_col="nid", residual_seeds=seeds
    )
    got = ivf_pq_rerank_topk(
        q, c, "qid", "nid", books, k=10, n_probe=8, shortlist=64, seeds=seeds
    ).collect()
    exact = {
        (r.qid, r.nid)
        for r in cosine_topk(q, c, "qid", "nid", k=10).collect()
    }
    hits = sum((r.qid, r.nid) in exact for r in got)
    assert hits / len(exact) >= 0.7, hits / len(exact)
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r.rank)
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, 11)), qid
    # determinism: a second run returns the identical result set
    again = ivf_pq_rerank_topk(
        q, c, "qid", "nid", books, k=10, n_probe=8, shortlist=64, seeds=seeds
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_residual_pq_beats_raw_on_clustered(spark):
    """The residual mechanism itself (FAISS IVF-PQ recipe): on a
    CLUSTERED corpus the coarse quantizer explains the cluster-level
    structure, so residual codebooks spend their m x k budget on the
    within-cell detail ADC actually ranks by. With a tight shortlist the
    residual path's shortlist fidelity must beat raw-vector codes'.
    (On unstructured vectors both paths tie — the serving recall dial
    there is n_probe; measured in test_ivf_pq_rerank_recall_floor.)"""
    import numpy as np

    from dca_manager_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_rerank_topk,
        train_ivf_seeds,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 32)) * 4.0
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.normal(size=32) * 0.35
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = emb.select(F.col("vec_id").alias("nid"), "embedding")
    q = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    seeds = train_ivf_seeds(c, n_cells=8, seed=13)
    exact = {
        (r.qid, r.nid)
        for r in cosine_topk(q, c, "qid", "nid", k=10).collect()
    }

    def recall(books):
        got = ivf_pq_rerank_topk(
            q, c, "qid", "nid", books, k=10, n_probe=1, shortlist=12,
            seeds=seeds,
        ).collect()
        return sum((r.qid, r.nid) in exact for r in got) / len(exact)

    raw_books = train_pq_codebooks(
        c, m=8, k=16, max_iter=10, sample_id_col="nid"
    )
    res_books = train_pq_codebooks(
        c, m=8, k=16, max_iter=10, sample_id_col="nid", residual_seeds=seeds
    )
    r_raw = recall(raw_books)
    r_res = recall(res_books)
    assert r_res > r_raw, (r_res, r_raw)
    assert r_res >= 0.6, r_res


@pytest.mark.slow
def test_probe_recall_curve_monotone_and_floors(spark):
    """VERDICT r11 #8: the recall/cost dial — measured recall must be
    monotone non-decreasing in n_probe on a clustered corpus, with
    floors pinned at two settings, and the serving plan SHAPE must not
    change with the probe count (only the rank cutoff literal does)."""
    import numpy as np

    from dca_manager_spark.operators.similarity import (
        ivf_pq_rerank_topk,
        probe_recall_curve,
        train_ivf_seeds,
        train_pq_codebooks,
    )

    # UNSTRUCTURED vectors: each query's true top-10 spreads across
    # cells, so probes are the binding recall constraint (on separated
    # clusters the curve is flat at the routing ceiling — routing finds
    # the right cell at probe=1 and the dial has nothing to buy).
    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(size=32)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = emb.select(F.col("vec_id").alias("nid"), "embedding")
    q = emb.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    seeds = train_ivf_seeds(c, n_cells=8, seed=13)
    books = train_pq_codebooks(
        c, m=8, k=16, max_iter=10, sample_id_col="nid", residual_seeds=seeds
    )
    curve = probe_recall_curve(
        q, c, "qid", "nid", books, k=10, n_cells=8,
        probes=(1, 2, 4, 8), shortlist=64, seeds=seeds,
    )
    recalls = [p["recall"] for p in curve]
    assert recalls == sorted(recalls), curve          # monotone
    # floors at two settings (measured 0.55 / 0.93; pinned below)
    by_probe = {p["n_probe"]: p["recall"] for p in curve}
    assert by_probe[2] >= 0.45, curve
    assert by_probe[8] >= 0.85, curve
    assert by_probe[8] > by_probe[1] + 0.3, curve  # the dial buys recall
    # plan shape is probe-invariant: same node sequence, different literal
    import re

    def shape(n_probe):
        plan = ivf_pq_rerank_topk(
            q, c, "qid", "nid", books, k=10, n_cells=8, n_probe=n_probe,
            shortlist=64, seeds=seeds,
        )._jdf.queryExecution().executedPlan().toString()
        ops = [ln.split("(")[0] for ln in re.findall(r"[+*:\- ]*([A-Z][A-Za-z]+) ?\(", plan)]
        return ops

    assert shape(2) == shape(8)


def test_semantic_dedup_planted_duplicates(spark):
    """SemDeDup: planted near-identical embedding groups collapse to one
    canonical survivor (smallest id) with the right cluster size;
    distinct vectors survive as singletons; ids never cross cells'
    thresholds accidentally (deterministic routing + quantized cosine)."""
    import numpy as np

    from dca_manager_spark.operators.similarity import IvfSeeds, semantic_dedup

    rng = np.random.default_rng(23)
    bases = rng.normal(size=(10, 16)) * 3.0
    rows = []
    vid = 0
    truth = {}  # canonical -> expected cluster size
    for g, base in enumerate(bases):
        copies = 3 if g < 4 else 1  # 4 groups of near-dups, 6 singletons
        canon = vid
        truth[canon] = copies
        for c in range(copies):
            v = base * (1.0 + c * 1e-4)  # cosine ~1.0 replicas
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # Inject SEPARATED centroids (the group bases): the default
    # lowest-id seeds here would be three near-identical replicas, and
    # near-ties in the routing can split a duplicate group across cells
    # — SemDeDup's documented boundary failure mode, which real
    # deployments avoid with trained (k-means) centroids.
    seeds = IvfSeeds(bases[:4])
    out = {
        r["vec_id"]: r["cluster_size"]
        for r in semantic_dedup(
            emb, "vec_id", threshold=0.95, n_cells=4, seeds=seeds
        ).collect()
    }
    assert out == truth, (out, truth)
    # layout independence
    out2 = {
        r["vec_id"]: r["cluster_size"]
        for r in semantic_dedup(
            emb.repartition(7), "vec_id", threshold=0.95, n_cells=4,
            seeds=seeds,
        ).collect()
    }
    assert out2 == out


def _clean_and_bad(spark):
    """(clean, dirty) (nid, embedding) corpora: 48 clustered 8-dim
    vectors with planted near-copies, and the same plus a null vector, a
    ragged (5-wide) one and one with a NaN element, each a near-copy of a
    clean row so that, scored as numbers, it would rank first."""
    rng = np.random.default_rng(41)
    centers = rng.normal(size=(4, 8)) * 3.0
    vecs = centers[np.arange(48) % 4] + rng.normal(size=(48, 8)) * 0.3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    near = [float(x) for x in vecs[0] * 1.0001]
    bad = [(1000, None), (1001, near[:5]), (1002, [float("nan")] + near[1:])]
    schema = "nid long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    return clean, spark.createDataFrame(rows + bad, schema)


BAD_IDS = {1000, 1001, 1002}


def test_trainers_skip_bad_sample_vectors(spark, count_jobs):
    """A null, a ragged and a NaN-bearing vector in the training sample
    neither fail nor change the trained model: both trainers keep only
    the rows ``_vector_rows`` accepts, and take ``dim`` as the sample's
    most common vector length. Each trainer runs ONE job, its sample
    collect."""
    from dca_manager_spark.operators.similarity import (
        train_ivf_seeds,
        train_pq_codebooks,
    )

    clean, dirty = _clean_and_bad(spark)
    (seeds, books), jobs = count_jobs(lambda: (
        train_ivf_seeds(clean, n_cells=4, sample_id_col="nid"),
        train_pq_codebooks(clean, m=2, k=4, max_iter=3, sample_id_col="nid"),
    ))
    assert jobs == 2
    seeds_d = train_ivf_seeds(dirty, n_cells=4, sample_id_col="nid")
    np.testing.assert_array_equal(seeds.centroids, seeds_d.centroids)
    for residual_seeds in (None, seeds):
        want = train_pq_codebooks(
            clean, m=2, k=4, max_iter=3, sample_id_col="nid",
            residual_seeds=residual_seeds,
        )
        got = train_pq_codebooks(
            dirty, m=2, k=4, max_iter=3, sample_id_col="nid",
            residual_seeds=residual_seeds,
        )
        assert got.residual == want.residual == (residual_seeds is not None)
        for b_got, b_want in zip(got.books, want.books, strict=True):
            np.testing.assert_array_equal(b_got, b_want)


def test_bad_vectors_take_no_part(spark):
    """One row rule across the scale paths: with a null, a ragged and a
    NaN-bearing vector in both the corpus and the queries, every job
    completes, no bad row is ranked or paired (its signature, code or
    cosine is null), and the valid rows' results equal those on the
    clean input."""
    from dca_manager_spark.operators.similarity import (
        cosine_pairs_lsh,
        ivf_ann_topk,
        ivf_pq_rerank_topk,
        semantic_dedup,
        train_ivf_seeds,
        train_pq_codebooks,
    )

    clean, dirty = _clean_and_bad(spark)
    seeds = train_ivf_seeds(clean, n_cells=4, sample_id_col="nid")
    books = train_pq_codebooks(
        clean, m=2, k=8, max_iter=3, sample_id_col="nid", residual_seeds=seeds
    )

    def queries(df):
        return df.filter((F.col("nid") < 6) | (F.col("nid") >= 1000)).select(
            F.col("nid").alias("qid"), "embedding"
        )

    def topk(fn):
        return {
            frame: sorted(tuple(r) for r in fn(queries(df), df).collect())
            for frame, df in (("clean", clean), ("dirty", dirty))
        }

    for name, fn in [
        ("lsh", lambda q, c: lsh_ann_topk(
            q, c, "qid", "nid", k=5, num_planes=4, num_tables=2)),
        ("ivf", lambda q, c: ivf_ann_topk(
            q, c, "qid", "nid", k=5, n_cells=4, n_probe=2, seeds=seeds)),
        ("ivf_pq", lambda q, c: ivf_pq_rerank_topk(
            q, c, "qid", "nid", books, k=5, n_cells=4, n_probe=2,
            shortlist=16, seeds=seeds)),
    ]:
        got = topk(fn)
        assert got["clean"], name
        assert got["dirty"] == got["clean"], name

    pairs = {
        frame: sorted(
            tuple(r) for r in cosine_pairs_lsh(
                df, "nid", threshold=0.9, num_planes=4, num_tables=2
            ).collect()
        )
        for frame, df in (("clean", clean), ("dirty", dirty))
    }
    assert pairs["clean"] and pairs["dirty"] == pairs["clean"]

    def survivors(df):
        return {
            r["nid"]: r["cluster_size"]
            for r in semantic_dedup(
                df, "nid", threshold=0.9, n_cells=4, seeds=seeds
            ).collect()
        }

    kept = survivors(clean)
    assert len(kept) < 48  # the planted near-copies collapse
    assert survivors(dirty) == {**kept, **dict.fromkeys(BAD_IDS, 1)}
