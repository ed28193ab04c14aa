"""Deterministic sampling / splitting for training-data pipelines.

Seeded-random sampling (``df.sample``) is reproducible only for a fixed
partitioning — repartition the input and the sample changes. At 100 TB,
splits must be a FUNCTION OF THE ROW, not of the physical layout, so both
operators here hash a stable id: every engine, every cluster size, every
rerun produces the same assignment (and the DuckDB oracle can verify it
exactly: md5 is identical everywhere).

bucket(id) = conv(md5(salt || id)[0:8], 16, 10) % 10_000
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """Stable [0, 10000) bucket from the md5 of the salted id string."""
    key = F.concat(F.lit(salt), id_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % BUCKETS


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` column in {train, val, test} by hash range —
    layout-independent, rerun-stable, and join-free."""
    if train < 0 or val < 0 or train + val > 1:
        raise ValueError(
            f"split fractions must satisfy train, val >= 0 and "
            f"train + val <= 1; got train={train}, val={val}"
        )
    b = hash_bucket(F.col(id_col), salt)
    t_edge = int(train * BUCKETS)
    v_edge = int((train + val) * BUCKETS)
    split = (
        F.when(b < t_edge, "train").when(b < v_edge, "val").otherwise("test")
    )
    return df.withColumn("split", split)


def exact_k_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    strata_col: str | None = None,
    salt: str = "sample",
) -> DataFrame:
    """EXACT-size deterministic sample: the ``k`` rows with the smallest
    md5 rank (per stratum when ``strata_col`` is given) — for the
    pipelines where "about 10%" is not acceptable (fixed eval sets,
    per-source quotas). Hash-rate sampling gives a binomial size; this
    gives exactly min(k, n). ``k`` must be non-negative.

    Scale shape: unstratified = orderBy(rank).limit(k), which compiles
    to TakeOrderedAndProject (per-partition top-k heaps, k rows to the
    driver stage — never a full sort). Stratified = row_number over a
    per-stratum window, shuffled on the stratum key; skewed strata are
    bounded by the per-task top-k, not the stratum size. Assignment is a
    pure function of (id, salt): layout-independent, rerun-stable,
    oracle-exact."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    rank = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    if strata_col is None:
        return df.orderBy(rank, F.col(id_col)).limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(rank, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    strata_col: str,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash bucket
    falls under the stratum's fraction. Unlike ``sampleBy``, assignment
    does not depend on partitioning or seed plumbing."""
    bad = {s: f for s, f in fractions.items() if not 0.0 <= f <= 1.0}
    if bad:
        raise ValueError(f"sampling fractions must be in [0, 1], got {bad}")
    b = hash_bucket(F.col(id_col), salt)
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        keep = keep | (
            (F.col(strata_col) == stratum) & (b < int(frac * BUCKETS))
        )
    return df.filter(keep)


# ---------------------------------------------------------------------------
# Per-domain frequency capping (the C4 / Gopher corpus-balance recipe)
# ---------------------------------------------------------------------------

# Common multi-part public suffixes. A full public-suffix-list lookup is
# a data file, not an algorithm — this covers the high-traffic ccTLD
# second-level registries; extend via the `extra_suffixes` argument for
# a production PSL snapshot.
MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.tw", "com.sg", "com.hk",
    "co.in", "co.kr", "co.za", "co.nz", "co.id", "co.th",
)

_HOST_RE = r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)"


def url_host(url_col: Column) -> Column:
    """Host part of a URL string: strips scheme, userinfo, port, path,
    query, fragment. Pure regexp_extract (RE2 ∩ Java syntax — no
    lookarounds/backrefs). The URL is lowercased FIRST (scheme and host
    are case-insensitive; the path is discarded anyway) so an uppercase
    scheme still matches."""
    return F.regexp_extract(F.lower(url_col), _HOST_RE, 1)


def load_suffix_table(path: str) -> tuple[str, ...]:
    """Parse a public-suffix-list snapshot (publicsuffix.org text
    format) into the multi-part suffix table ``registrable_domain``
    consumes — the refresh seam for production (the built-in
    MULTI_SUFFIXES is a point-in-time subset; the real PSL updates
    continuously). Comments (//) and blank lines are skipped;
    single-label rules (plain TLDs) are dropped (they are the
    eTLD+1 default already); wildcard (``*.ck``) and exception
    (``!www.ck``) rules raise loudly rather than being silently
    mis-grouped — they are ~1% of the PSL and need rule semantics
    this pure-expression grouping deliberately does not carry."""
    out: list[str] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip().lower()
            if not s or s.startswith("//"):
                continue
            if s.startswith("*") or s.startswith("!"):
                raise ValueError(
                    f"PSL rule {s!r} uses wildcard/exception semantics "
                    "registrable_domain does not implement — filter these "
                    "rules out explicitly if the corpus cannot contain "
                    "hosts under them"
                )
            if "." in s:
                out.append(s)
    return tuple(dict.fromkeys(out))


_URL_PARTS_RE = (
    r"^(?:([A-Za-z][A-Za-z0-9+.-]*)://)?(?:[^/@?#]*@)?([^/:?#]+)"
    r"(?::([0-9]+))?([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
)
# query params that never affect content identity (tracking)
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "ref", "mc_cid", "mc_eid")


def canonicalize_url(
    url_col: Column,
    strip_www: bool = True,
    drop_params: tuple[str, ...] = TRACKING_PARAMS,
) -> Column:
    """Canonical URL for crawl-level dedup (the URL-normalization step
    every web corpus needs before exact/near dedup — otherwise the
    same page survives once per tracking link): lowercase scheme+host,
    drop userinfo/fragment/default ports (http:80, https:443), strip
    a leading ``www.``, strip the trailing slash of a non-root path,
    drop tracking query params (``utm_*`` + ``drop_params``) and SORT
    the survivors so parameter order never splits identity. A URL with
    no recognizable host passes through unchanged (better to over-keep
    than to merge garbage).

    Cost: FIVE bounded regex matches of the one parts pattern per row
    (Spark has no multi-group extract-to-struct; each group is its own
    regexp_extract) plus array ops — sub-microsecond on URL-length
    strings and dwarfed by any adjacent text stage; the only
    lambda-HOF runs over the tiny split-param array. Restates in
    DuckDB (list_filter/list_sort) for the oracle."""
    part = lambda i: F.regexp_extract(url_col, _URL_PARTS_RE, i)
    scheme = F.lower(part(1))
    host = F.lower(part(2))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = part(3)
    port = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == ""),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(part(4), r"/$", "")
    drops = [d.lower() for d in drop_params]
    params = F.array_sort(
        F.filter(
            F.split(part(5), "&"),
            lambda p: (p != "")
            & ~F.lower(F.substring_index(p, "=", 1)).startswith("utm_")
            & ~F.lower(F.substring_index(p, "=", 1)).isin(*drops),
        )
    )
    query = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    canon = F.concat(
        F.when(scheme == "", F.lit("")).otherwise(F.concat(scheme, F.lit("://"))),
        host, port, path, query,
    )
    return F.when(host == "", url_col).otherwise(canon)


def registrable_domain(
    url_col: Column,
    extra_suffixes: tuple[str, ...] = (),
    suffixes: tuple[str, ...] | None = None,
) -> Column:
    """Registrable domain (eTLD+1) of a URL — the key the C4/Gopher
    per-domain caps group on: the last two host labels, or one more
    label than the LONGEST known public suffix the host ends in
    (co.uk and friends; 3-label registries like pref.aichi.jp promote
    to four labels). Bare hosts (<= 2 labels) and IPv4 literals pass
    through unchanged. One codegen'd when-chain (longest suffix length
    first — PSL longest-match semantics), no UDF; a full suffix table
    compiles to hash-set InSet membership, O(1) per row.

    ``suffixes`` REPLACES the built-in table (pass a
    ``load_suffix_table`` snapshot in production — the injectable
    seam, same pattern as ``seeds=`` in similarity.ivf);
    ``extra_suffixes`` extends whichever table is active."""
    host = url_host(url_col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    table = (
        list(MULTI_SUFFIXES) if suffixes is None else list(suffixes)
    ) + list(extra_suffixes)
    by_len: dict[int, list[str]] = {}
    for s in table:
        k = s.count(".") + 1
        if k >= 2:  # 1-label rules are the eTLD+1 default already
            by_len.setdefault(k, []).append(s)
    is_ip = host.rlike(r"^[0-9.]+$")
    expr = F.when(is_ip | (n <= 2), host)
    for k in sorted(by_len, reverse=True):  # longest match wins
        lastk = F.concat_ws(".", F.slice(parts, -k, k))
        expr = expr.when(
            lastk.isin(*by_len[k]) & (n >= k + 1),
            F.concat_ws(".", F.slice(parts, -(k + 1), k + 1)),
        )
    return expr.otherwise(F.concat_ws(".", F.slice(parts, -2, 2)))


def cap_per_domain(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    max_docs: int,
    salt: str = "domain-cap",
) -> DataFrame:
    """Frequency capping: keep at most ``max_docs`` rows per domain —
    the C4/Gopher defense against one crawler-friendly site dominating
    the corpus. Survivors are the ``max_docs`` rows with the smallest
    md5(salt, id) rank per domain — a layout-independent uniform draw
    WITHIN each domain (C4 keeps first-crawled, which is crawl-order
    luck; the hash rank is rerun-stable and oracle-exact), delegating to
    :func:`exact_k_sample`'s stratified top-k.

    Scale: one shuffle on the domain key; a 50%-of-corpus hot domain is
    bounded by per-task top-k heaps before the final per-domain
    row_number (pinned by the skew test)."""
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1, got {max_docs}")
    return exact_k_sample(df, id_col, max_docs, strata_col=domain_col, salt=salt)


def token_budget_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    tokens_col: str,
    target_weights: dict[str, int],
    token_budget: int,
    salt: str = "token-budget",
) -> tuple[DataFrame, dict[str, dict[str, int]]]:
    """Token-budget-aware mixture sampling (the Chinchilla/DoReMi-style
    data-budgeting step): given per-domain TARGET WEIGHTS (integers —
    shares of the budget, e.g. per-mille) and a total ``token_budget``,
    derive each domain's deterministic sampling rate and keep a
    hash-selected subset whose expected token mass matches the budget
    split.

    Per domain d with available tokens A_d and desired tokens
    D_d = budget * w_d // sum(w):
        rate_bucket_d = min(BUCKETS, D_d * BUCKETS // A_d)
    and a row survives iff hash_bucket(id, salt) < rate_bucket_d —
    layout-independent, rerun-stable, join-free per row after one
    broadcast of the O(domains) rate table. All arithmetic is integer,
    so the selection is bit-reproducible in any engine (the catalog
    oracle recomputes it in SQL).

    Domains ABSENT from ``target_weights`` are dropped (weight 0) —
    the mixture defines the corpus. A domain with fewer tokens than its
    target contributes everything it has (rate capped at 1); UPSAMPLING
    (epochs/repeats) is a separate, explicit op — silently repeating
    documents here would corrupt dedup and contamination accounting
    downstream.

    Cost: one map-side-combined aggregate over the corpus (per-domain
    token sums, O(domains) rows collected) + one broadcast-joined
    filter pass. Returns (sampled_df, stats) where stats[d] =
    {available, desired, rate_bucket}."""
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    bad = {d: w for d, w in target_weights.items() if w < 0}
    if bad or not target_weights:
        raise ValueError(
            f"target_weights must be non-empty with non-negative integer "
            f"weights; got {target_weights}"
        )
    w_total = sum(target_weights.values())
    avail = {
        r["d"]: r["a"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.sum(F.col(tokens_col)).alias("a"))
        .collect()
    }
    stats: dict[str, dict[str, int]] = {}
    rate_rows = []
    for d, w in sorted(target_weights.items()):
        a = int(avail.get(d) or 0)
        desired = token_budget * w // w_total
        if a <= 0:
            continue
        edge = min(BUCKETS, desired * BUCKETS // a)
        stats[d] = {"available": a, "desired": desired, "rate_bucket": edge}
        rate_rows.append((d, edge))
    if not rate_rows:
        return df.limit(0), stats
    rates = df.sparkSession.createDataFrame(
        rate_rows, f"{domain_col} string, __edge long"
    )
    kept = (
        df.join(F.broadcast(rates), domain_col)
        .filter(hash_bucket(F.col(id_col), salt) < F.col("__edge"))
        .select(*df.columns)  # join put the key first; restore caller order
    )
    return kept, stats


def repeat_epochs(
    df: DataFrame,
    domain_col: str,
    epochs: dict[str, int],
    epoch_col: str = "epoch",
) -> DataFrame:
    """EXPLICIT upsampling — the deliberate counterpart of
    token_budget_mixture's never-upsample rule: replicate each domain's
    rows ``epochs[domain]`` times (default 1 for unlisted domains),
    tagging each copy with a 0-based ``epoch_col`` so downstream
    shuffling/packing can interleave epochs instead of concatenating
    them, and dedup/contamination accounting can filter ``epoch = 0``
    to see each document once.

    Epoch counts ride a broadcast O(domains) table into one
    explode(sequence) — map-only, no shuffle, output size is the only
    cost (exactly what "2.5 epochs of books" means in public training
    recipes; fractional epochs = integer floor here + a hash-sampled
    extra pass via token_budget_mixture if needed)."""
    bad = {d: n for d, n in epochs.items() if n < 0}
    if bad:
        raise ValueError(f"epoch counts must be >= 0, got {bad}")
    rows = [(d, n) for d, n in sorted(epochs.items())]
    rates = df.sparkSession.createDataFrame(
        rows, f"{domain_col} string, __epochs int"
    )
    return (
        df.join(F.broadcast(rates), domain_col, "left")
        .withColumn("__epochs", F.coalesce(F.col("__epochs"), F.lit(1)))
        .filter(F.col("__epochs") > 0)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(0), F.col("__epochs") - 1)),
        )
        .select(*df.columns, epoch_col)
    )
