"""Semantic tests for the dedup operator family — constructed duplicates
with known ground truth, plus LSH recall pinned against exact Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_by_content,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("quick", "rapid")),  # near-duplicate of 0
        (3, "completely different content about spark query engines at scale"),
        (4, "completely different content about spark query engines at scale"),
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_by_content(docs):
    out = exact_dedup_by_content(docs, "text", "doc_id").orderBy("doc_id").collect()
    survivors = {r.doc_id: r.n_copies for r in out}
    assert survivors == {0: 2, 2: 1, 3: 2, 5: 1}


def test_exact_dedup_keyed(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], ["k", "v", "ord"]
    )
    kept = exact_dedup(df, ["k"], "ord", keep="max").orderBy("k").collect()
    assert [(r.k, r.v) for r in kept] == [(1, "b"), (2, "c")]
    kept_min = exact_dedup(df, ["k"], "ord", keep="min").orderBy("k").collect()
    assert [(r.k, r.v) for r in kept_min] == [(1, "a"), (2, "c")]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert pairs[(3, 4)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7  # near dup
    assert not any({a, b} == {0, 5} for a, b in pairs)


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """On real testdata: every exact-Jaccard>=0.8 pair must be found by LSH
    (16 bands of 4 rows => ~100% candidate prob at 0.8); all reported pairs
    must be true positives (verification step guarantees precision)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, mode="word"
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.8, mode="word"
        ).collect()
    }
    assert lsh <= exact or not exact, f"false positives: {lsh - exact}"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} below 0.9 ({exact - lsh} missed)"


def test_simhash_identical_and_distance(spark, docs):
    sk = docs.select("doc_id", simhash64("text").alias("sk")).collect()
    sketches = {r.doc_id: r.sk for r in sk}
    assert sketches[0] == sketches[1]  # identical text -> identical sketch
    assert sketches[3] == sketches[4]
    near = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64(
                simhash64("a.text"), simhash64("b.text")
            ).alias("d"),
        )
        .collect()
    )
    dist = {(r.ia, r.ib): r.d for r in near}
    assert dist[(0, 1)] == 0
    # near-dup pair differs in fewer bits than unrelated pair
    assert dist[(0, 2)] < dist[(0, 5)]


def test_simhash_pairs_bucketed(docs):
    out = simhash_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    found = {(r.id_a, r.id_b) for r in out}
    assert (0, 1) in found and (3, 4) in found


def test_simhash_sketches_match_expression_form(spark, docs):
    """The distributed explode+groupBy sketches must equal the per-row
    expression fold bit-for-bit (vote sums are order-independent)."""
    from dca_manager_spark.operators.dedup import simhash_sketches

    expr_form = {
        r.doc_id: r.sk
        for r in docs.select("doc_id", simhash64("text").alias("sk")).collect()
    }
    dist_form = {
        r["__id"]: r["__sk"] for r in simhash_sketches(docs, "doc_id", "text").collect()
    }
    assert expr_form == dist_form


def test_exploded_shingles_match_array_form(spark, sf_dir):
    """The lead-window exploded shingles must equal the array form's
    shingle sets exactly (same grams per doc), including short docs."""
    from dca_manager_spark.operators.dedup import exploded_shingles, shingles as sh_arr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    extra = spark.createDataFrame(
        [(100001, "one two"), (100002, "single"), (100003, "")], ["doc_id", "text"]
    )
    both = docs.select("doc_id", "text").unionByName(extra)

    arr = {
        r.doc_id: set(r.g)
        for r in both.select(
            "doc_id", sh_arr(F.col("text"), "word", 3).alias("g")
        ).collect()
    }
    expl = {}
    for r in exploded_shingles(both, "doc_id", "text", 3, "word").collect():
        expl.setdefault(r["__id"], set()).add(r["__g"])
    for doc_id, grams in arr.items():
        assert expl.get(doc_id, set()) == grams, f"doc {doc_id} shingle mismatch"


def test_connected_components_known_graph(spark):
    from dca_manager_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    # components: {0,1,2,3} (chain), {4,5} — 6,7 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    comps = {
        r["__id"]: r.component
        for r in connected_components(pairs, ids, max_iter=10).collect()
    }
    assert comps == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}


def test_dedup_keep_canonical(spark):
    from dca_manager_spark.operators.dedup import dedup_keep_canonical

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"])
    out = {r.doc_id: r.cluster_size for r in dedup_keep_canonical(df, pairs, "doc_id").collect()}
    # clusters {0,3,5} -> keep 0 (size 3); {1,2} -> keep 1 (size 2); {4} -> keep 4
    assert out == {0: 3, 1: 2, 4: 1}


def test_simhash_rotations_superset(spark, sf_dir):
    """Multi-rotation bucketing must find at least the single-rotation
    pairs (rotation 0 is the identity prefix)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    single = {(r.id_a, r.id_b) for r in simhash_pairs(
        docs, "doc_id", "text", max_hamming=20, prefix_bits=10, rotations=1).collect()}
    multi = {(r.id_a, r.id_b) for r in simhash_pairs(
        docs, "doc_id", "text", max_hamming=20, prefix_bits=10, rotations=4).collect()}
    assert single <= multi


def test_simhash64_md5_hoisted_once(spark):
    """The md5 direct-call path must hash each token ONCE (one md5 in the
    expression tree, mapped over the token array) — never per bit. A
    per-bit formulation would put 64 md5 calls in the plan."""
    from dca_manager_spark.operators.dedup import simhash64

    df = spark.createDataFrame([("a", "hello world")], "id string, text string")
    plan = (
        df.select(simhash64("text", hash_fn="md5").alias("sk"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert plan.count("md5(") == 1, f"md5 evaluated {plan.count('md5(')}x in plan"


def test_minhash_incremental_filter_known_dups(spark):
    """Batch docs near-duplicating a corpus doc are dropped; novel batch
    docs survive; the corpus itself is never filtered. Within-batch dups
    both survive (documented: run pair-dedup on the survivors)."""
    from dca_manager_spark.operators.dedup import minhash_incremental_filter

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away home to sleep for the night")
    corpus = spark.createDataFrame(
        [(0, base),
         (2, "completely different corpus content about spark engines at very large scale")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(101, base),                                     # exact dup of corpus 0
         (103, base.replace("quick", "rapid")),           # near dup of corpus 0
         (105, "a wholly novel document about training data pipelines and "
               "token budgets for sequence packing")],
        ["doc_id", "text"],
    )
    kept = minhash_incremental_filter(
        batch, corpus, "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.6, mode="word",
    )
    assert {r.doc_id for r in kept.collect()} == {105}


def _incremental_fixture(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away home to sleep for the night")
    corpus = spark.createDataFrame(
        [(0, base),
         (2, "completely different corpus content about spark engines at very large scale")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(101, base),
         (103, base.replace("quick", "rapid")),
         (105, "a wholly novel document about training data pipelines and "
               "token budgets for sequence packing")],
        ["doc_id", "text"],
    )
    return corpus, batch


def test_corpus_index_matches_recompute_path(spark, tmp_path):
    """The persisted-corpus seam: filtering against a saved+loaded
    CorpusIndex keeps exactly the docs the recompute path keeps, and the
    survivors' plan never touches the raw corpus — the corpus side reads
    ONLY the persisted index parquet (no re-shingling possible: the raw
    corpus frame isn't even an input)."""
    from dca_manager_spark.operators.dedup import (
        CorpusIndex,
        build_corpus_index,
        minhash_incremental_filter,
    )

    corpus, batch = _incremental_fixture(spark)
    idx = build_corpus_index(corpus, "doc_id", "text", num_hashes=64, bands=16)
    idx.save(str(tmp_path / "corpus_index"))
    loaded = CorpusIndex.load(spark, str(tmp_path / "corpus_index"))

    kept = minhash_incremental_filter(
        batch, None, "doc_id", "text",
        num_hashes=64, bands=16, threshold=0.6, mode="word",
        corpus_index=loaded,
    )
    assert {r.doc_id for r in kept.collect()} == {105}

    # Structural: the corpus side of the plan is parquet scans of the
    # index, not shingling of corpus text. Count the shingle explodes —
    # only the BATCH contributes one posexplode(tokens(...)) pipeline.
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    # index parquet relations present (grams + sizes at minimum — bands may
    # be join-pruned); the batch side is an in-memory LogicalRDD
    assert plan.count("parquet") >= 2
    assert plan.count("posexplode") == 1, (
        f"expected 1 shingle explode (batch only), plan has "
        f"{plan.count('posexplode')}"
    )


def test_corpus_index_extend_and_append_steady_state(spark, tmp_path):
    """The ingest loop: filter batch vs index -> admit survivors ->
    grow the index by the admitted batch only (in-memory extend and
    persisted O(batch) append) -> the NEXT batch's duplicates of
    admitted docs are rejected. Extend must equal a full rebuild."""
    from dca_manager_spark.operators.dedup import (
        CorpusIndex,
        build_corpus_index,
        minhash_incremental_filter,
    )

    corpus, batch = _incremental_fixture(spark)
    path = str(tmp_path / "ci")
    idx = build_corpus_index(corpus, "doc_id", "text", num_hashes=64, bands=16)
    idx.save(path)

    kept = minhash_incremental_filter(
        batch, None, "doc_id", "text", num_hashes=64, bands=16,
        threshold=0.6, corpus_index=CorpusIndex.load(spark, path),
    ).localCheckpoint(eager=True)
    assert {r.doc_id for r in kept.collect()} == {105}

    # Grow the persisted index by the admitted batch; a near-dup of the
    # ADMITTED doc arriving later must now be rejected.
    CorpusIndex.append(spark, path, kept, "doc_id", "text")
    next_batch = spark.createDataFrame(
        [(201, "a wholly novel document about training data pipelines and "
               "token budgets for sequence packing again"),
         (202, "completely different content on streaming watermarks")],
        ["doc_id", "text"],
    )
    kept2 = minhash_incremental_filter(
        next_batch, None, "doc_id", "text", num_hashes=64, bands=16,
        threshold=0.6, corpus_index=CorpusIndex.load(spark, path),
    )
    assert {r.doc_id for r in kept2.collect()} == {202}

    # In-memory extend == full rebuild over corpus + admitted batch.
    ext = idx.extend(kept, "doc_id", "text")
    full = build_corpus_index(
        corpus.unionByName(kept.select("doc_id", "text")),
        "doc_id", "text", num_hashes=64, bands=16,
    )
    for frame in ("grams", "bands", "sizes"):
        a = {tuple(r) for r in getattr(ext, frame).collect()}
        b = {tuple(r) for r in getattr(full, frame).collect()}
        assert a == b, f"{frame} diverged between extend and rebuild"


def test_corpus_index_param_mismatch_is_loud(spark, tmp_path):
    from dca_manager_spark.operators.dedup import (
        build_corpus_index,
        minhash_incremental_filter,
    )
    import pytest

    corpus, batch = _incremental_fixture(spark)
    idx = build_corpus_index(corpus, "doc_id", "text", num_hashes=64, bands=16)
    with pytest.raises(ValueError, match="incompatible"):
        minhash_incremental_filter(
            batch, None, "doc_id", "text",
            num_hashes=64, bands=8,  # differs from the index's 16
            corpus_index=idx,
        )
    with pytest.raises(ValueError, match="exactly one"):
        minhash_incremental_filter(
            batch, corpus, "doc_id", "text", corpus_index=idx,
        )
    with pytest.raises(ValueError, match="exactly one"):
        minhash_incremental_filter(batch, None, "doc_id", "text")


def test_minhash_bands_must_divide_hashes(spark):
    """Integer division would silently drop remainder hashes and weaken
    the requested S-curve; non-divisible banding must raise."""
    import pytest
    from dca_manager_spark.operators.dedup import (
        build_corpus_index,
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=64, bands=10)
    with pytest.raises(ValueError, match="divide"):
        build_corpus_index(df, "doc_id", "text", num_hashes=64, bands=7)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def decontam_frames(spark):
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),  # contains bench 4-gram
            (1, "one two three four five six seven"),  # clean
            (2, "short text"),  # shorter than n, clean
            (3, "tail words then alpha beta gamma delta"),  # overlap at tail
            (4, "the eval line"),  # full-token match of a short bench doc
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "the eval line")],
        ["doc_id", "text"],
    )
    return corpus, bench


def test_decontaminate_drops_overlapping_docs(decontam_frames):
    from dca_manager_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_frames
    kept = ngram_decontaminate(corpus, bench, "doc_id", "text", n=4)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]
    assert kept.columns == corpus.columns  # schema preserved in drop mode


def test_decontaminate_flags_and_counts(decontam_frames):
    from dca_manager_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_frames
    out = ngram_decontaminate(corpus, bench, "doc_id", "text", n=4, flags=True)
    got = {r.doc_id: (r.contaminated, r.contaminated_ngrams) for r in out.collect()}
    # doc 0: benchmark doc 100 has 4 tokens -> one 4-gram, present in doc 0.
    # doc 3: same single bench gram at the tail. doc 4: short bench doc 101
    # contributes its full-token join ("the eval line"), and doc 4 (3 tokens,
    # < n) contributes ITS full-token join -> they match. docs 1,2 clean.
    assert got == {
        0: (True, 1),
        1: (False, 0),
        2: (False, 0),
        3: (True, 1),
        4: (True, 1),
    }


def test_decontaminate_plan_broadcasts_benchmark(decontam_frames):
    from dca_manager_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_frames
    plan = (
        ngram_decontaminate(corpus, bench, "doc_id", "text", n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # Both the gram-membership join and the keep anti join must broadcast
    # their small side: the corpus side never shuffles for decontamination.
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan

    from dca_manager_spark.operators.dedup import ngram_decontaminate as nd

    with pytest.raises(ValueError):
        nd(corpus, bench, "doc_id", "text", n=0)


def test_minhash_recall_at_moderate_jaccard(spark):
    """Pins the r8 hash-family fix: the old Kirsch-Mitzenmacher
    ``min(m1 + s*m2)`` permutations collapse for s >= 2 (the s*m2 term
    dominates, so one min-m2 shingle wins almost every hash) — measured
    candidate recall ~0.6-0.7 on THIS corpus where the 16x4 S-curve
    theory says ~0.89. The per-s universal family must stay at theory:
    planted pairs at J~0.55-0.65, recall floor 0.8."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(5000)]
    rows = []
    n_pairs = 100
    for i in range(n_pairs):
        base = [rng.choice(vocab) for _ in range(40)]
        mod = base[:]
        for _ in range(rng.choice([3, 4])):
            mod[rng.randrange(40)] = rng.choice(vocab)
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(mod)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, mode="word"
        ).collect()
    }
    planted = {p: j for p, j in exact.items() if p[1] == p[0] + 1}
    assert len(planted) >= 80  # nearly every planted pair is J >= 0.5
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16,
            threshold=0.5, mode="word",
        ).collect()
    }
    recall = len(lsh & set(planted)) / len(planted)
    assert recall >= 0.8, (
        f"LSH candidate recall {recall:.3f} at moderate J — the "
        "permutation family has degenerated again (see "
        "minhash_perm_constants)"
    )


def test_corpus_index_family_mismatch_is_loud(spark, tmp_path):
    """A persisted index from a DIFFERENT permutation-family generation
    must fail loudly everywhere it could silently disable dedup (its
    band hashes never collide with this code's)."""
    from dca_manager_spark.operators.dedup import (
        CorpusIndex,
        build_corpus_index,
        minhash_incremental_filter,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "i j k l m n o p")],
        "doc_id long, text string",
    )
    idx = build_corpus_index(docs, "doc_id", "text", num_hashes=16, bands=8)
    assert idx.params["family"]  # stamped
    stale = CorpusIndex(
        idx.grams, idx.bands, idx.sizes,
        {**idx.params, "family": "km-legacy-v1"},
    )
    batch = spark.createDataFrame([(3, "a b c d e f g x")], "doc_id long, text string")
    kw = {k: idx.params[k] for k in CorpusIndex.PARAM_KEYS}
    with pytest.raises(ValueError, match="family"):
        minhash_incremental_filter(
            batch, None, "doc_id", "text", corpus_index=stale, **kw
        )
    with pytest.raises(ValueError, match="family"):
        stale.extend(batch, "doc_id", "text")
    import json as _json

    path = str(tmp_path / "fam_idx")
    idx.save(path)
    p = path + "/index_params.json"
    doc = _json.load(open(p))
    doc["family"] = "km-legacy-v1"
    _json.dump(doc, open(p, "w"))
    with pytest.raises(ValueError, match="family"):
        CorpusIndex.append(spark, path, batch, "doc_id", "text")


def test_duplicate_spans_planted(spark):
    """Hand-planted cross-doc passages: exact maximal spans, positions,
    and lengths. Doc 1 and 2 share a 10-token passage at different
    offsets; doc 3 shares nothing long enough; doc 4 duplicates doc 1
    entirely."""
    from dca_manager_spark.operators.dedup import duplicate_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = "x1 x2 x3 " + passage + " y1 y2"          # passage at tokens 3..12
    d2 = "z1 " + passage + " w1 w2 w3"             # passage at tokens 1..10
    d3 = "alpha beta gamma delta q r s t u v"      # only 4 shared tokens
    d4 = d1                                        # full duplicate of d1
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id int, text string"
    )
    got = sorted(
        tuple(r)
        for r in duplicate_spans(df, "doc_id", "text", k=8).collect()
    )
    # d1/d2: one maximal 10-token span; d1/d4 and d2/d4: mirrors; d3: none
    assert got == [
        (1, 2, 3, 1, 10),
        (1, 4, 0, 0, 15),
        (2, 4, 1, 3, 10),
    ]


def test_duplicate_spans_min_tokens_and_within_doc_repeat(spark):
    from dca_manager_spark.operators.dedup import duplicate_spans

    p = "a b c d e f g h"
    # the 8-token passage occurs TWICE in doc 1 -> two distinct diagonals
    df = spark.createDataFrame(
        [(1, p + " q1 q2 " + p), (2, "zz " + p + " zz2")],
        "doc_id int, text string",
    )
    got = sorted(
        tuple(r)
        for r in duplicate_spans(df, "doc_id", "text", k=8).collect()
    )
    assert got == [(1, 2, 0, 1, 8), (1, 2, 10, 1, 8)]
    # min_tokens above the span length filters them out
    assert (
        duplicate_spans(df, "doc_id", "text", k=8, min_tokens=9).count() == 0
    )


def test_duplicate_spans_gram_cap_bounds_fanout(spark):
    """A window shared by EVERY doc (boilerplate) would quadratically
    blow up the candidate join; max_gram_docs drops it while spans made
    of rarer windows survive."""
    from dca_manager_spark.operators.dedup import duplicate_spans

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    rare = "r1 r2 r3 r4 r5 r6 r7 r8"
    rows = [(i, boiler + f" u{i} v{i}") for i in range(50)]
    rows += [(100, "x " + rare), (101, "y y2 " + rare)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    capped = duplicate_spans(
        df, "doc_id", "text", k=8, max_gram_docs=10
    ).collect()
    assert sorted(tuple(r) for r in capped) == [(100, 101, 1, 2, 8)]
    # uncapped: the boilerplate span appears for every one of 50*49/2 pairs
    full = duplicate_spans(df, "doc_id", "text", k=8)
    assert full.count() == 50 * 49 // 2 + 1


def test_ngram_jaccard_doc_freq_cap_exact_counts(spark):
    """ADVICE r8 #6: the posting-list cap bounds the candidate join
    without corrupting counts — surviving pairs report EXACT n_inter /
    jaccard over full shingle sets (including capped shingles)."""
    from dca_manager_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "abcdefgh"),
        (2, "abcdefgx"),   # shares 5 char-3-shingles with doc 1
        (3, "zzzzyyyy"),
    ] + [(10 + i, f"abc{i:02d}q") for i in range(20)]  # 'abc' is hot
    df = spark.createDataFrame(rows, "id int, text string")
    base = {
        (r.id_a, r.id_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, "id", "text", k=3, threshold=0.4).collect()
    }
    capped = {
        (r.id_a, r.id_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, "id", "text", k=3, threshold=0.4, max_doc_freq=5
        ).collect()
    }
    assert (1, 2) in capped
    # exact same counts as the uncapped run for every surviving pair
    for pair, vals in capped.items():
        assert base[pair] == vals
    with pytest.raises(ValueError, match="max_doc_freq"):
        ngram_jaccard_pairs(df, "id", "text", max_doc_freq=0)


def test_ngram_jaccard_cap_quadratic_stress(spark):
    """One shingle in 50% of docs: capped candidate generation completes
    with bounded fan-out and recall on the planted near-pair is kept."""
    import time

    from dca_manager_spark.operators.dedup import ngram_jaccard_pairs

    # word mode: every boilerplate doc shares EXACTLY the one hot
    # shingle (boiler, plate, text); the unique-token tail keeps their
    # pairwise jaccard at 1/7 << threshold.
    rows = [(i, f"boiler plate text u{i} v{i} w{i}") for i in range(400)]
    rows += [
        (9001, "hello world match one two"),
        (9002, "hello world match one tvo"),  # 2 of 4 shingles shared
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    t0 = time.time()
    got = ngram_jaccard_pairs(
        df, "id", "text", k=3, threshold=0.3, mode="word", max_doc_freq=20
    ).collect()
    elapsed = time.time() - t0
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (9001, 9002) in pairs
    # no pair should exist among the 400 boilerplate docs at this threshold
    assert all(not (a < 9000 and b < 9000) for a, b in pairs)
    assert elapsed < 60


def test_scrub_duplicate_spans_removes_higher_id_copy(spark):
    """The planted passage survives in the lower-id doc and is deleted
    from the higher-id doc; overlapping spans union before removal;
    clean docs pass through with before == after."""
    from dca_manager_spark.operators.dedup import scrub_duplicate_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = "x1 x2 x3 " + passage + " y1 y2"
    d2 = "z1 " + passage + " w1 w2 w3"
    d3 = "clean doc with nothing shared here at all ok"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id int, text string"
    )
    got = {r["doc_id"]: r for r in scrub_duplicate_spans(df, "doc_id", "text", k=8).collect()}
    # doc 1 (lower id) keeps everything
    assert got[1]["text"] == d1
    assert got[1]["n_tokens_before"] == got[1]["n_tokens_after"] == 15
    # doc 2 loses exactly the 10-token passage
    assert got[2]["text"] == "z1 w1 w2 w3"
    assert (got[2]["n_tokens_before"], got[2]["n_tokens_after"]) == (14, 4)
    # untouched doc
    assert got[3]["text"] == d3


def test_scrub_duplicate_spans_merges_overlapping_intervals(spark):
    """Two partners contribute OVERLAPPING spans into the same victim:
    the union is removed once, not double-counted."""
    from dca_manager_spark.operators.dedup import scrub_duplicate_spans

    p = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"  # 12 tokens
    d1 = " ".join(p.split()[:10])       # tokens 0..9 of p
    d2 = " ".join(p.split()[2:12])      # tokens 2..11 of p
    d3 = "pre " + p + " post"           # victim: holds all 12 at offset 1
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id int, text string"
    )
    got = {r["doc_id"]: r for r in scrub_duplicate_spans(df, "doc_id", "text", k=8).collect()}
    assert got[3]["text"] == "pre post"
    assert (got[3]["n_tokens_before"], got[3]["n_tokens_after"]) == (14, 2)
    # sources keep their text (they are the lower ids)
    assert got[1]["text"] == d1


def test_duplicate_spans_hashed_matches_raw(spark, sf_dir):
    """The production hash-key path (xxhash64 gram join) returns the
    identical span set as the raw-gram join on real testdata — the
    shrunken exchange changes bytes shuffled, never results (absent a
    64-bit collision)."""
    from dca_manager_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = sorted(
        tuple(r)
        for r in duplicate_spans(
            docs, "doc_id", "text", k=8, hash_grams=False, max_gram_docs=None
        ).collect()
    )
    hashed = sorted(
        tuple(r)
        for r in duplicate_spans(
            docs, "doc_id", "text", k=8, hash_grams=True
        ).collect()
    )
    assert raw == hashed
    assert raw  # non-vacuous: planted passages exist at every SF


def test_duplicate_spans_cap_keeps_interior_hot_spans_whole(spark):
    """Review finding (r9): a long span whose MIDDLE window is corpus-hot
    must stay one whole span under max_gram_docs — the cap bounds pair
    DISCOVERY, then positions are recomputed over full window sets."""
    from dca_manager_spark.operators.dedup import duplicate_spans

    # 24-token passage whose middle 8 tokens also appear in 40 other docs
    hot = "h1 h2 h3 h4 h5 h6 h7 h8"
    passage = "p1 p2 p3 p4 p5 p6 p7 p8 " + hot + " q1 q2 q3 q4 q5 q6 q7 q8"
    rows = [(1, "x " + passage), (2, passage + " tail")]
    rows += [(100 + i, hot + f" u{i} v{i} w{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = [
        tuple(r)
        for r in duplicate_spans(
            df, "doc_id", "text", k=8, max_gram_docs=10
        ).collect()
        if r["doc_a"] == 1 and r["doc_b"] == 2
    ]
    # ONE maximal 24-token span, not two 8-token fragments
    assert got == [(1, 2, 1, 0, 24)]


def test_scrub_preserves_untouched_docs_verbatim(spark):
    """Review finding (r9): docs without spans keep their ORIGINAL text,
    whitespace and all; empty docs count zero tokens."""
    from dca_manager_spark.operators.dedup import scrub_duplicate_spans

    weird = "a\tb\nc   d"
    df = spark.createDataFrame(
        [(1, weird), (2, ""), (3, "   ")], "doc_id int, text string"
    )
    got = {r["doc_id"]: r for r in scrub_duplicate_spans(df).collect()}
    assert got[1]["text"] == weird
    assert got[1]["n_tokens_before"] == got[1]["n_tokens_after"] == 4
    assert got[2]["n_tokens_before"] == 0
    assert got[3]["n_tokens_before"] == 0


def test_ddsketch_ignores_nulls(spark):
    """Review finding (r9): nulls are dropped like every standard
    aggregate — they must not inflate the zero bucket."""
    from pyspark.sql import functions as F

    from dca_manager_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantile,
    )

    df = spark.createDataFrame(
        [("a", None), ("a", 10.0), ("a", None)], "g string, v double"
    )
    sk = ddsketch_build(df, "v", ["g"])
    row = sk.select(
        "n", "zero_count",
        ddsketch_quantile(F.col("sketch"), F.col("zero_count"), F.col("n"), 0.5).alias("p50"),
    ).first()
    assert row["n"] == 1 and row["zero_count"] == 0
    assert abs(row["p50"] - 10.0) <= 0.01 * 10.0

def test_duplicate_spans_bare_call_gets_production_plan(spark):
    """VERDICT r10 #1: a BARE call must get the scale-safe plan —
    xxhash64 join keys (8-byte exchange rows) and the two-phase posting
    cap (a corpus-hot window bounds candidate discovery instead of
    exploding the self-join quadratically). The oracle-exact raw path
    stays available but only on explicit request."""
    import inspect

    from dca_manager_spark.operators.dedup import (
        duplicate_spans,
        scrub_duplicate_spans,
    )
    from dca_manager_spark.plans.inspect import explain_formatted

    sig = inspect.signature(duplicate_spans)
    assert sig.parameters["hash_grams"].default is True
    assert sig.parameters["max_gram_docs"].default == 256
    ssig = inspect.signature(scrub_duplicate_spans)
    assert ssig.parameters["hash_grams"].default is True
    assert ssig.parameters["max_gram_docs"].default == 256

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, "x1 " + passage), (2, passage + " y1"), (3, "clean doc")],
        "doc_id int, text string",
    )
    # hash_grams default puts xxhash64 in the gram projection (visible
    # on the uncapped variant; the capped path pins the gram frame, so
    # its downstream plan starts at the cached scan)
    unc_plan = explain_formatted(
        duplicate_spans(df, "doc_id", "text", k=8, max_gram_docs=None)
    )
    assert "xxhash64" in unc_plan, "default must join on hashed grams"

    bare = duplicate_spans(df, "doc_id", "text", k=8)
    plan = explain_formatted(bare)
    # the capped path reads the pinned gram cache, and the join key is
    # the 8-byte hash (bigint __g), not gram text
    assert "ExistingRDD" in plan
    import re as _re

    assert _re.search(r"__g#\d+L", plan), "join key must be the 64-bit hash"
    # ADAPTIVE cap: this corpus has no gram past 256 docs, so after the
    # df probe the plan must be the SIMPLE single equi join — no
    # anti-join, no candidate distinct, no recount joins (the clean-
    # corpus fast path).
    assert "LeftAnti" not in plan and "left_anti" not in plan.lower()
    got = sorted(tuple(r) for r in bare.collect())
    assert got == [(1, 2, 1, 0, 10)]
    # ...and with a genuinely hot window the SAME bare-call entry point
    # takes the two-phase plan (cap forced low to make 12 docs "hot").
    hot_rows = [(i, "h1 h2 h3 h4 h5 h6 h7 h8 " + f"u{i} v{i}")
                for i in range(100, 112)]
    hot_df = spark.createDataFrame(
        [(1, "x1 " + passage), (2, passage + " y1")] + hot_rows,
        "doc_id int, text string",
    )
    capped = duplicate_spans(hot_df, "doc_id", "text", k=8, max_gram_docs=10)
    cplan = explain_formatted(capped)
    assert "LeftAnti" in cplan or "left_anti" in cplan.lower()
    cgot = sorted(tuple(r) for r in capped.collect())
    assert (1, 2, 1, 0, 10) in cgot
    assert all(not (100 <= a and 100 <= b) for a, b, *_ in cgot), cgot
    # scrub under bare defaults still removes from the higher id only
    s = {r["doc_id"]: r["text"] for r in
         scrub_duplicate_spans(df, "doc_id", "text", k=8).collect()}
    assert s[1] == "x1 " + passage and s[2] == "y1" and s[3] == "clean doc"


def test_span_gram_cache_is_bounded_and_releasable(spark):
    """ADVICE r11: a capped duplicate_spans call persists its gram frame
    for the probe + match joins but must not leak executor storage for
    the session's lifetime — each new capped call releases the previous
    cache, and release_span_gram_cache() frees the last one. Releasing
    is always safe (lineage recompute), so an already-released result
    still evaluates correctly."""
    from pyspark import StorageLevel

    from dca_manager_spark.operators import dedup as dd

    released = StorageLevel(False, False, False, False, 1)
    p = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, p + " t1 t2"), (2, "zz " + p)], "doc_id int, text string"
    )
    # a DIFFERENT input for the second call: identical plans would share
    # one CacheManager entry and mask the release
    df2 = spark.createDataFrame(
        [(1, p + " u1 u2"), (2, "yy " + p)], "doc_id int, text string"
    )
    dd.release_span_gram_cache()  # clean slate

    spans1 = dd.duplicate_spans(df, "doc_id", "text", k=8)
    assert len(dd._SPAN_GRAM_CACHES) == 1
    g1 = dd._SPAN_GRAM_CACHES[-1]
    assert spans1.count() == 1

    spans2 = dd.duplicate_spans(df2, "doc_id", "text", k=8)
    # previous cache released, exactly one live
    assert len(dd._SPAN_GRAM_CACHES) == 1
    assert g1.storageLevel == released
    g2 = dd._SPAN_GRAM_CACHES[-1]
    assert g2 is not g1
    assert spans2.count() == 1

    dd.release_span_gram_cache()
    assert dd._SPAN_GRAM_CACHES == []
    assert g2.storageLevel == released
    # lineage survives the release: both results still evaluate
    assert spans1.count() == 1 and spans2.count() == 1


def test_connected_components_chain_converges_logarithmically(spark):
    """VERDICT r11 #1: a chain-shaped duplicate cluster (the worst case
    for label propagation — O(diameter) rounds) must converge in
    O(log n) large-star/small-star rounds. 10k-vertex path: every label
    is the chain head, and rounds <= log2(n) + 4 (the function raises
    when ``max_iter`` rounds pass without converging)."""
    import math

    from dca_manager_spark.operators.dedup import connected_components

    n = 10_000
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    labels = connected_components(pairs, ids, max_iter=int(math.log2(n)) + 4)
    bad = labels.filter(F.col("component") != 0).count()
    assert bad == 0


def test_connected_components_unconverged_raises(spark):
    """max_iter too small must fail loudly, never return partial labels."""
    from dca_manager_spark.operators.dedup import connected_components

    n = 64
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, ids, max_iter=2)


def test_connected_components_union_pairs(spark):
    """Regression (r12): a UNION-built pair frame (e.g. MinHash ∪
    SimHash candidates) fed to connected_components crashed with a
    Catalyst attribute-rewrite error ('key not found: __v#N') when the
    twice-referenced union materialized through a LAZY checkpoint —
    the edge frame is now eagerly checkpointed."""
    from dca_manager_spark.operators.dedup import connected_components

    chain = spark.range(99).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    cliq = (
        spark.range(100, 200)
        .select(
            F.col("id").alias("id_a"),
            (F.col("id") - (F.col("id") % 5)).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    ids = spark.range(200).withColumnRenamed("id", "doc_id")
    labels = connected_components(chain.unionByName(cliq), ids, max_iter=20)
    comps = {r["__id"]: r["component"] for r in labels.collect()}
    assert all(comps[i] == 0 for i in range(100))
    assert all(comps[i] == i - (i % 5) for i in range(100, 200))


def test_scrub_from_precomputed_spans_matches_internal(spark, sf_dir):
    """VERDICT r15 #2: scrub_duplicate_spans(spans=...) consumes a
    PRECOMPUTED (persisted) duplicate_spans result — the real-pipeline
    detect -> persist -> scrub shape — and produces byte-identical
    output to the internal-detection path."""
    from dca_manager_spark.io.readers import load_table
    from dca_manager_spark.operators.dedup import (
        duplicate_spans,
        scrub_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 400")
    internal = scrub_duplicate_spans(docs, "doc_id", "text", k=8)
    spans = duplicate_spans(docs, "doc_id", "text", k=8).persist()
    try:
        assert spans.count() > 0, "fixture must actually contain spans"
        reused = scrub_duplicate_spans(docs, "doc_id", "text", spans=spans)
        assert internal.exceptAll(reused).isEmpty()
        assert reused.exceptAll(internal).isEmpty()
        # a spans frame ROUND-TRIPPED through parquet (the persisted-
        # table shape a real pipeline scrubs from) works identically
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spans.write.mode("overwrite").parquet(d)
            from_disk = scrub_duplicate_spans(
                docs, "doc_id", "text",
                spans=spark.read.parquet(d),
            )
            assert internal.exceptAll(from_disk).isEmpty()
    finally:
        spans.unpersist()
