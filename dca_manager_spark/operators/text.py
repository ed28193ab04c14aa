"""Text-analysis operators for large-scale training-data pipelines.

Everything is built-in `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen'd, zero Python in the hot path. Each helper returns a
Column so operators compose into any plan.

Cross-engine determinism: counts and ratios are integer counts + single
double divisions, bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "y", "es", "una"],
    "zh": ["的", "是", "了", "在", "和"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "that", "for", "on", "with", "as"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (empty-safe): split on runs of whitespace,
    drop empty tokens from leading/trailing space."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word-piece-like units (letter runs,
    digit runs, single punctuation marks) — a deterministic regex proxy for
    subword tokenizers."""
    units = F.split(
        F.regexp_replace(F.lower(col), r"([a-z]+|[0-9]+|[^a-z0-9\s])", "$1"),
        "",
    )
    return F.size(F.filter(units, lambda x: F.trim(x) != ""))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation."""
    puncts = F.length(F.regexp_replace(col, r"[^.,!?;:'\"()-]", ""))
    return puncts.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def count_in_tokens(toks_lower: Column, words_list: list[str]) -> Column:
    """Hits of a small word list in a LOWERCASED token array — the shared
    kernel of stopword counting and language scoring. Takes the token
    array so callers that reuse one tokenization (operators/corpus.py)
    don't re-tokenize per score."""
    words = F.array(*[F.lit(w) for w in words_list])
    return F.size(F.filter(toks_lower, lambda x: F.array_contains(words, x)))


def stopword_count(col: Column, stopwords: list[str] | None = None) -> Column:
    return count_in_tokens(tokens(F.lower(col)), stopwords or EN_STOPWORDS)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    return stopword_count(col, stopwords).cast("double") / F.greatest(
        token_count(col), F.lit(1)
    ).cast("double")


def quality_score_from_tokens(
    col: Column, toks: Column, toks_lower: Column
) -> Column:
    """quality_score with the tokenizations supplied by the caller — the
    identical formula and op order, minus the re-tokenizations (see
    quality_score; bit-equality pinned in tests)."""
    sw_ratio = count_in_tokens(toks_lower, EN_STOPWORDS).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    ).cast("double")
    length_score = F.least(F.length(col).cast("double") / 500.0, F.lit(1.0))
    return 0.4 * sw_ratio + 0.4 * length_score + 0.2 * (1.0 - punct_ratio(col))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]-ish: rewards stopword presence
    (naturalness) and mid-range length, penalizes punctuation soup.
    Deterministic double arithmetic (fixed op order, no accumulation).
    """
    return quality_score_from_tokens(col, tokens(col), tokens(F.lower(col)))


def lang_scores_from_tokens(toks_lower: Column) -> dict[str, Column]:
    """Per-language marker hit counts over one lowercased token array."""
    return {
        lang: count_in_tokens(toks_lower, words)
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_from_tokens(toks_lower: Column) -> Column:
    """lang_id over a caller-supplied lowercased token array — identical
    argmax/tie semantics, one tokenization.

    Array-based argmax, NOT a chained-when fold: the when-chain embeds
    each score expression in every later branch (~2^n duplication — 58
    interpreted array_contains per row measured for 5 languages); here
    each score appears once in a literal array, array_max picks the best
    and array_position's first-match IS the earlier-language tie-break.
    """
    scores = F.array(*lang_scores_from_tokens(toks_lower).values())
    langs = F.array(*[F.lit(lang) for lang in LANG_MARKERS])
    best = F.array_max(scores)
    return F.when(best <= 0, F.lit("und")).otherwise(
        F.element_at(langs, F.array_position(scores, best).cast("int"))
    )


def lang_id(col: Column) -> Column:
    """Argmax language by marker hits; deterministic tie order (iteration
    order of LANG_MARKERS); 'und' when nothing matches."""
    return lang_id_from_tokens(tokens(F.lower(col)))


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]", "")


def unicode_nfc(col: Column) -> Column:
    """Unicode NFC normalization (r15) — the canonicalization step every
    hashing/dedup stage needs BEFORE fingerprinting a real crawl: the
    same visible text arrives both precomposed (U+00E9) and decomposed
    (e + U+0301), and without NFC those are different md5s, different
    shingles, different duplicates. Spark has no built-in normalizer
    (java.text.Normalizer is not exposed to SQL), so this is an honest
    Arrow-batched pandas_udf over Python's unicodedata — one pass,
    cheap relative to any adjacent shingling, and cross-checkable
    against DuckDB's nfc_normalize. NFC (not NFKC) deliberately:
    compatibility folding (ligatures, width) is lossy and belongs to a
    tokenizer's policy, not the engine's canonical form."""
    @F.pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(col)


def fingerprint_md5(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (identical hex in
    every engine — the cross-checkable fingerprint)."""
    return F.md5(normalize_text(col))


def fingerprint_rolling(col: Column, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the normalized text's characters —
    computed entirely with higher-order functions (no UDF): fold
    ``acc = (acc * base + ascii(char)) % mod`` over the character array.
    The modulus keeps ``acc * base`` far below 2^63 (ANSI-mode safe).
    """
    chars = F.split(normalize_text(col), "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % F.lit(mod).cast("long"),
    )


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection adding the full feature set."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("pred_lang"),
        fingerprint_md5(c).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Cleaning / masking / repetition (LLM-corpus preprocessing)
# ---------------------------------------------------------------------------

URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def strip_urls(col: Column) -> Column:
    return F.regexp_replace(col, URL_RE, " ")


def mask_emails(col: Column, mask: str = "<EMAIL>") -> Column:
    return F.regexp_replace(col, EMAIL_RE, mask)


def mask_digits(col: Column, mask: str = "#") -> Column:
    return F.regexp_replace(col, r"[0-9]", mask)


def collapse_whitespace(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def clean_text(col: Column) -> Column:
    """Standard cleaning chain: drop URLs, mask emails, collapse runs of
    whitespace — composed left-to-right so each stage sees the previous
    stage's output (fixed op order => cross-engine exact)."""
    return collapse_whitespace(mask_emails(strip_urls(col)))


# Block-level closers that should become line breaks so words from
# adjacent blocks never fuse ("</p><p>" must not join two paragraphs).
_HTML_BLOCK_RE = (
    r"(?i)</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote|pre|"
    r"section|article|header|footer|title)\s*>|<br\s*/?>"
)
# Entity decode order matters: &amp; LAST, or "&amp;lt;" would
# double-decode to "<".
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
]


def html_extract_text(col: Column, max_chars: int | None = None) -> Column:
    """Visible text from an HTML payload — the WARC->text step every
    web-crawl corpus starts with — as ONE pure-JVM regexp chain (no
    parser library, no UDF, whole-stage codegen):

    1. drop <script>/<style> subtrees (their text is never content);
    2. drop comments;
    3. block-level closers and <br> become newlines (paragraph
       boundaries survive; inline tags like </b> just vanish);
    4. every remaining tag is stripped;
    5. the common named/numeric entities decode (fixed list, &amp;
       last — a FULL entity table is data, not algorithm; rare
       entities pass through verbatim and are visible downstream);
    6. whitespace normalizes (space runs collapse, 3+ newlines become
       a paragraph break, edges trim).

    Honest limits, chosen for the scale path: a regex chain is not an
    HTML5 tree parser — a literal '>' inside a quoted attribute value
    truncates that tag early, and CDATA is treated as text. Both are
    rare in real crawls and fail VISIBLY (leftover tag fragments in
    the output), not silently. The same chain restates in DuckDB
    (RE2), so extraction is oracle-checkable cross-engine — which is
    also why the script/style patterns avoid backreferences (RE2 has
    none).

    ``max_chars`` caps the input per document BEFORE the chain runs —
    set it (~1-4M) on raw-crawl inputs, the truncate-monster-docs
    practice every web corpus build applies (Common Crawl itself
    truncates around 1 MB). The cap is a SCALE guard, not cosmetics:
    each chained pass materializes a fresh intermediate string, and
    the r15 scale-curve measurement (scripts/scale_curve.py, SCALE.md)
    found per-pass cost linear through 16 MB docs but the 17-pass
    CHAIN cliff-ing ~25x superlinearly between 4 MB and 16 MB — JVM
    large-object (G1 humongous) allocation churn across 17 x 16 MB
    intermediates per row, not regex backtracking. Capped at 4 MB the
    chain stays linear; default None preserves exact whole-document
    semantics for curated inputs."""
    if max_chars is not None:
        col = F.substring(col, 1, max_chars)
    out = F.regexp_replace(col, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, _HTML_BLOCK_RE, "\n")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", "")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    return F.trim(out)


def sentence_repetition_ratio(col: Column, sep: str = r"\.\s+") -> Column:
    """Intra-document repetition: 1 - distinct/total over sentence-ish
    units (Gopher/RefinedWeb-style quality signal — boilerplate and
    template spam repeat internally). Empty/one-sentence docs score 0."""
    units = F.filter(
        F.transform(F.split(F.lower(col), sep), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n = F.size(units)
    distinct_n = F.size(F.array_distinct(units))
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        1.0 - distinct_n.cast("double") / n.cast("double")
    )


def remove_boilerplate_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb
    frequent-paragraph scrub, formulated over token segments so it also
    applies to corpora without line structure): any NON-OVERLAPPING
    ``seg_tokens``-token segment occurring in >= ``min_docs`` distinct
    documents is dropped from every document; unique segments and the
    trailing partial segment (< seg_tokens tokens, never a candidate)
    are kept in order. Returns (id, clean_text, n_removed_segments).

    Scale shape: segments explode to ~tokens/seg_tokens rows, the doc
    count is one partial+final aggregate on the segment string, the
    frequent-segment set (boilerplate is by definition a small distinct
    set) broadcasts back, and reassembly is one groupBy over doc ids —
    two shuffles + a broadcast total, all linear in corpus tokens. No
    UDFs.
    """
    if seg_tokens < 1:
        raise ValueError(f"seg_tokens must be >= 1, got {seg_tokens}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = tokens(F.trim(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__tk"),
        (F.size(toks) - F.size(toks) % seg_tokens).alias("__n_full"),
    )
    n_segs = (F.col("__n_full") / seg_tokens).cast("int")
    segs = base.select(
        "__id",
        F.posexplode(
            # guard: sequence(0, -1) would generate a DESCENDING array
            # for docs with no full segment — emit an empty array instead
            # (posexplode then drops the row; the left join below
            # restores the doc from its trailing tokens)
            F.when(
                n_segs > 0,
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__tk"), i * seg_tokens + 1, seg_tokens)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__seg_idx", "__seg"),
    )
    frequent = (
        segs.groupBy("__seg")
        .agg(F.count_distinct("__id").alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_docs)
        .select("__seg")
    )
    flagged = segs.join(
        F.broadcast(frequent.withColumn("__drop", F.lit(True))), "__seg", "left"
    )
    kept = (
        flagged.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.coalesce(F.col("__drop"), F.lit(False)),
                                F.struct("__seg_idx", "__seg"),
                            )
                        )
                    ),
                    lambda s: s["__seg"],
                ),
                " ",
            ).alias("__kept"),
            F.sum(
                F.coalesce(F.col("__drop"), F.lit(False)).cast("int")
            ).alias("n_removed_segments"),
        )
    )
    trailing = base.select(
        "__id",
        F.concat_ws(
            " ",
            F.slice(
                F.col("__tk"),
                F.col("__n_full") + 1,
                F.size(F.col("__tk")) - F.col("__n_full"),
            ),
        ).alias("__trail"),
    )
    nonempty = lambda c: F.when(F.col(c) != "", F.col(c))  # noqa: E731
    return (
        trailing.join(kept, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.concat_ws(
                " ", nonempty("__kept"), nonempty("__trail")
            ).alias("clean_text"),
            F.coalesce("n_removed_segments", F.lit(0)).alias(
                "n_removed_segments"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (training-corpus compliance scrub)
# ---------------------------------------------------------------------------

# Category order IS the contract: each category counts AND redacts on
# the output of the previous category, so a span consumed by an earlier
# replacement (an SSN-shaped local part inside an email, say) is
# attributed to exactly one category and the audit counts always agree
# with the redacted output. Patterns deliberately use only syntax RE2
# and Java regex agree on (no lookaround/backrefs, ASCII \b) so a
# DuckDB oracle reproduces them byte-for-byte.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}[ -]?\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", counts: bool = True
) -> DataFrame:
    """Redact emails / card numbers / SSNs / IPs / phone numbers from
    ``text_col`` in place, optionally adding a ``pii_<category>`` count
    column per category (the audit trail a compliance scrub needs).

    Pure JVM ``regexp_count`` / ``regexp_replace`` — whole-stage codegen,
    no Python in the row path. Each category counts and redacts on the
    PREVIOUS category's output (see PII_PATTERNS), so counts always
    match the replacements actually made and the output is a fixed
    function of the input on any engine with compatible regex semantics.
    """
    count_exprs = []
    cur = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        count_exprs.append((f"pii_{name}", F.regexp_count(cur, F.lit(pat))))
        cur = F.regexp_replace(cur, pat, repl)
    if counts:
        for name, expr in count_exprs:
            df = df.withColumn(name, expr)
    return df.withColumn(text_col, cur)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality metrics (Rae et al. 2021 App. A
    public recipe — the filters LLM corpora are scrubbed with), exact
    and engine-reproducible:

    - ``mcw_fraction``   — occurrences of the most common word / total
      words (tie -> lexicographically smallest word);
    - ``top2_fraction``  — chars of the most frequent word 2-gram times
      its count, over total word chars (whitespace excluded);
    - ``dup5_fraction``  — chars in ALL occurrences of word 5-grams that
      appear 2+ times, over total word chars (every occurrence counts;
      overlaps are not collapsed — the cheap well-defined variant, and
      the oracle computes the identical definition).

    One tokenization, three grouped counts keyed by (doc, gram) with a
    per-doc argmax (min of struct(-count, gram) — total order, layout-
    independent), re-joined on the doc id. Shuffles: three counts + the
    joins, all on the doc-id family of keys. Short docs (< n words)
    yield zero fractions, never nulls."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__w"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("n_wchars"),
    )

    def grams(n: int):
        arr = F.when(
            F.size("__w") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("__w") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i + 1, n)),
            ),
        ).otherwise(F.expr("cast(array() as array<string>)"))
        return base.select("__id", F.explode(arr).alias("__g")).groupBy(
            "__id", "__g"
        ).agg(F.count(F.lit(1)).alias("__c"))

    def argmax(cnts: DataFrame, out_cnt: str, out_len: str) -> DataFrame:
        # min(struct(-count, gram)): highest count, ties to the smallest
        # gram — a total order, identical in every engine.
        return cnts.groupBy("__id").agg(
            F.min(F.struct((-F.col("__c")).alias("nc"), F.col("__g").alias("g"))).alias("__m")
        ).select(
            "__id",
            (-F.col("__m.nc")).alias(out_cnt),
            # chars of the gram without its separator spaces
            (F.length("__m.g") - (F.size(F.split(F.col("__m.g"), " ")) - 1)).alias(out_len),
        )

    w1 = argmax(grams(1), "__c1", "__l1").drop("__l1")
    w2 = argmax(grams(2), "__c2", "__l2")
    d5 = (
        grams(5)
        .filter(F.col("__c") >= 2)
        .groupBy("__id")
        .agg(
            F.sum(
                F.col("__c")
                * (F.length("__g") - (F.size(F.split(F.col("__g"), " ")) - 1))
            ).alias("__dup5")
        )
    )
    out = (
        base.select("__id", "n_words", "n_wchars")
        .join(w1, "__id", "left")
        .join(w2, "__id", "left")
        .join(d5, "__id", "left")
    )
    nz = lambda c: F.greatest(c, F.lit(1)).cast("double")
    return out.select(
        F.col("__id").alias(id_col),
        "n_words",
        "n_wchars",
        (F.coalesce(F.col("__c1"), F.lit(0)).cast("double") / nz(F.col("n_words"))).alias("mcw_fraction"),
        (
            (F.coalesce(F.col("__c2"), F.lit(0)) * F.coalesce(F.col("__l2"), F.lit(0))).cast("double")
            / nz(F.col("n_wchars"))
        ).alias("top2_fraction"),
        (F.coalesce(F.col("__dup5"), F.lit(0)).cast("double") / nz(F.col("n_wchars"))).alias("dup5_fraction"),
    )
