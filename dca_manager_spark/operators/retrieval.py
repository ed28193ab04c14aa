"""Corpus-statistics retrieval operators: TF-IDF, BM25, collocations.

A training-data pipeline uses these for relevance filtering (keep documents
that score against a topic query), keyword extraction (top TF-IDF terms as
document metadata), and phrase mining (collocations for tokenizer/vocab
construction). All three are pure DataFrame plans — explode + two or three
hash aggregates + equi joins, no UDFs, no collects — so they hold at corpus
scale: cost is linear in total tokens, and every join key is a token/term
(high cardinality, well distributed).

Cross-engine determinism policy (see plans/queries.py module doc): natural
log is NOT guaranteed correctly rounded across engines, so the hashable
variants use rank-equivalent rational forms — ``idf="ratio"`` is
``(N+1)/(df+1)`` and collocation strength is lift ``P(xy)/(P(x)P(y))``
(PMI = ln(lift), and ln is monotone, so lift ranks ARE PMI ranks). The
``idf="log"`` production variants exist for users who need the standard
scores; they are pytest-verified against a Python-computed expectation
rather than the cross-engine hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dca_manager_spark.operators.text import tokens


def _term_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) one row per occurrence, whitespace tokens, lowercased."""
    return df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    idf: str = "ratio",
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    Returns ``(id, token, tf, df, tfidf, rnk)`` with ``rnk`` 1..k ordered by
    (tfidf DESC, token ASC) — the token tie-break totalizes the order so the
    output is a unique row set.

    Plan shape: one explode over the corpus; ``tf`` is a (doc, token) hash
    aggregate, materialized once (lazy localCheckpoint — the repo's
    standard Generate barrier: Spark does not share common subplans, so
    without it the explode+aggregate would run twice, once under the
    ``df`` branch and once under the join); ``df`` is a (token) aggregate
    over the pinned pairs; N arrives via a broadcast one-row cross join
    (never a global window). The (doc, token) x (token) join is an equi
    join on the token. The final per-doc top-k window partitions by
    document — millions of small partitions, no skew. Everything is JVM
    expressions.

    ``idf="ratio"``: (N+1)/(df+1), exact IEEE division, hash-stable across
    engines. ``idf="log"``: ln((N+1)/(df+1)) + 1 (smooth idf, sklearn-style)
    for production scoring.
    """
    if idf not in ("ratio", "log"):
        raise ValueError(f"idf must be 'ratio' or 'log', got {idf!r}")
    terms = _term_frame(df, id_col, text_col)
    tf = (
        terms.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_t = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    ratio = (F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    idf_expr = ratio if idf == "ratio" else F.log(ratio) + F.lit(1.0)
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * idf_expr)
        .drop("__n")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", "rnk")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "ratio",
) -> DataFrame:
    """BM25 relevance of every document against a fixed bag of query terms.

    Returns ``(id, n_hits, bm25)`` for documents matching >= 1 term.

    score = sum over matched terms of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Plan shape: ONE explode over the corpus feeding ONE per-doc aggregate
    that computes the doc length and one conditional count per query term
    (map-side combined — the shuffle carries n_docs rows, never the token
    multiset); the per-term document frequencies, corpus length sum and N
    reduce to a single broadcast 1-row frame off the same pinned
    aggregate; scoring is a pure projection. No per-(doc, term) rows ever
    materialize, so the plan's width scales with the query bag (small by
    nature), not the corpus vocabulary.

    Cross-engine exactness (this bit DuckDB at 1 ulp in round 8): a
    compiled engine may contract ``a*b + c`` into a fused multiply-add,
    which rounds differently from separate mul-then-add whenever the
    product is inexact — so matching textual op order is NOT enough. The
    formula is therefore restated over EXACT integer products only
    (``k1``/``b`` as exact rationals, numerator and denominator scaled by
    their common denominator; ``dl/avgdl`` becomes ``dl*n/sum_dl``):

        s = ((N+1)/(df+1)) * (A*tf) / (M*tf + C + (D*dl*n)/sum_dl)

    with integer A = K1N*BD + M, M = KD*BD, C = K1N*(BD-BN), D = K1N*BN
    for k1 = K1N/KD, b = BN/BD. Every multiplication is an exact integer
    product (no rounding, so FMA contraction cannot diverge); the only
    float adds take a non-product operand (not contractible); the three
    divisions are single correctly-rounded ops everywhere. The per-doc
    total is one conditional sum per term (single addend each) combined
    left-to-right in sorted-term order — a bare SUM over matched terms is
    order-nondeterministic.
    """
    from fractions import Fraction

    if idf not in ("ratio", "log"):
        raise ValueError(f"idf must be 'ratio' or 'log', got {idf!r}")
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    fk1, fb = Fraction(str(k1)), Fraction(str(b))
    k1n, kd = fk1.numerator, fk1.denominator
    bn, bd = fb.numerator, fb.denominator
    m = kd * bd
    a_num = k1n * bd + m       # M*(k1+1)
    c_const = k1n * (bd - bn)  # M*k1*(1-b)
    d_coef = k1n * bn          # M*k1*b
    terms_sorted = sorted({t.lower() for t in query_terms})
    terms = _term_frame(df, id_col, text_col)
    # one per-doc aggregate: doc length + a conditional count per term;
    # pinned (lazy localCheckpoint) because both the broadcast constants
    # and the scoring projection read it — Spark won't share the subplan
    g = (
        terms.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum((F.col("token") == term).cast("long")).alias(f"__tf_{i}")
                for i, term in enumerate(terms_sorted)
            ],
        )
        .localCheckpoint(eager=False)
    )
    consts = df.select(F.count(F.lit(1)).alias("__n")).crossJoin(
        g.select(
            F.sum("dl").alias("__sum_dl"),
            F.count(F.lit(1)).alias("__n_dl"),
            *[
                F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
                for i in range(len(terms_sorted))
            ],
        )
    )
    scored = g.crossJoin(F.broadcast(consts))

    def term_score(i: int) -> F.Column:
        tf = F.col(f"__tf_{i}")
        ratio = (F.col("__n") + F.lit(1.0)) / (F.col(f"__df_{i}") + F.lit(1.0))
        idf_expr = ratio if idf == "ratio" else F.log(ratio) + F.lit(1.0)
        denom = (
            (F.lit(m) * tf + F.lit(c_const)).cast("double")
            + (F.lit(d_coef) * F.col("dl") * F.col("__n_dl")).cast("double")
            / F.col("__sum_dl").cast("double")
        )
        s = idf_expr * (F.lit(a_num) * tf).cast("double") / denom
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    total = term_score(0)
    hits = (F.col("__tf_0") > 0).cast("long")
    for i in range(1, len(terms_sorted)):
        total = total + term_score(i)
        hits = hits + (F.col(f"__tf_{i}") > 0).cast("long")
    return scored.filter(hits > 0).select(
        F.col(id_col), hits.alias("n_hits"), total.alias("bm25")
    )


def collocation_lift(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` bigram collocations by lift = P(xy) / (P(x) P(y)).

    PMI = ln(lift); ln is monotone so these ARE the top-k PMI collocations,
    expressed log-free for cross-engine exactness. Returns
    ``(bigram, c_xy, c_x, c_y, lift)`` — bigram is unique, so the set is
    already totally determined; no rank column (a global row_number would
    need an unpartitioned window, and the lift order is recoverable).

    Plan: bigrams are built JVM-side by zipping the token array with its
    own tail (``zip_with(slice(...), slice(...))``) — no positional
    self-join, no Python. Two explodes total (bigrams; unigrams once —
    the unigram count frame is pinned via lazy localCheckpoint and reused
    by both component joins AND the corpus total, which is just the sum
    of its counts); joins on the component tokens are equi joins; the
    one-row total broadcasts. ``lift`` is computed with a FIXED operation
    order — (c_xy * N) / c_x / c_y in doubles — mirrored in the oracle.
    Top-k is TakeOrderedAndProject (per-partition heaps), not a global
    sort.
    """
    toks = df.select(tokens(F.lower(F.col(text_col))).alias("__t"))
    n = F.size(F.col("__t"))
    bigram_arr = F.zip_with(
        F.slice(F.col("__t"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("__t"), 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    bigrams = toks.select(F.explode(bigram_arr).alias("bigram"))
    c_xy = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    unigrams = toks.select(F.explode("__t").alias("token"))
    c_t = (
        unigrams.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = c_t.select(F.sum("c").alias("__n_tok"))
    split = F.split(F.col("bigram"), " ", 2)
    scored = (
        c_xy.withColumn("__x", split.getItem(0))
        .withColumn("__y", split.getItem(1))
        .join(c_t.withColumnRenamed("c", "c_x").withColumnRenamed("token", "__x"), "__x")
        .join(c_t.withColumnRenamed("c", "c_y").withColumnRenamed("token", "__y"), "__y")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lift",
            (F.col("c_xy").cast("double") * F.col("__n_tok"))
            / F.col("c_x")
            / F.col("c_y"),
        )
    )
    return (
        scored.orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(k)
        .select("bigram", "c_xy", "c_x", "c_y", "lift")
    )
