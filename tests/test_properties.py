"""Property-based tests (hypothesis): invariants that hold for ARBITRARY
inputs, not just fixtures — the test layer the reference lacks entirely
(SURVEY §5 implication).

- as-of join == pandas.merge_asof on random event sets (an independent
  reference implementation as oracle)
- upsert is last-writer-wins and idempotent for random batch sequences
- bulk_insert row count is exactly additive
- ManifestTable == a pure-Python model of the keyed write semantics
- Jaccard pairs are symmetric-free (a<b), bounded, and exact
"""

from __future__ import annotations

import datetime
import itertools

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable
from dca_manager_spark.operators.relational import asof_join

BASE = datetime.datetime(2024, 1, 1)

H_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

events = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2"]),
        st.integers(min_value=0, max_value=500),  # seconds offset
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=0,
    max_size=25,
)


@given(left=events, right=events)
@settings(**H_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    ldf_rows = [
        (k, BASE + datetime.timedelta(seconds=s), v) for k, s, v in left
    ]
    # de-dup right timestamps per key: at equal (key, ts) the winning row is
    # tie-broken differently by the two engines; the contract only covers
    # unique (key, ts) right sides.
    seen = set()
    rdf_rows = []
    for k, s, v in right:
        if (k, s) in seen:
            continue
        seen.add((k, s))
        rdf_rows.append((k, BASE + datetime.timedelta(seconds=s), v))

    if not ldf_rows:
        return
    ldf = spark.createDataFrame(ldf_rows, "k string, lts timestamp, lv double")
    rdf = spark.createDataFrame(
        rdf_rows or [("__none__", BASE, 0.0)], "k string, rts timestamp, rv double"
    )

    got = asof_join(ldf, rdf, "lts", "rts", by=["k"]).collect()

    lpd = pd.DataFrame(ldf_rows, columns=["k", "lts", "lv"]).sort_values("lts")
    rpd = pd.DataFrame(
        rdf_rows or [("__none__", BASE, 0.0)], columns=["k", "rts", "rv"]
    ).sort_values("rts")
    want = pd.merge_asof(
        lpd, rpd, left_on="lts", right_on="rts", by="k", direction="backward"
    )

    got_map = {}
    for r in got:
        got_map.setdefault((r.k, r.lts, r.lv), []).append((r.rts, r.rv))
    for row in want.itertuples():
        key = (row.k, row.lts.to_pydatetime(), row.lv)
        assert key in got_map
        rts = None if pd.isna(row.rts) else row.rts.to_pydatetime()
        rv = None if pd.isna(row.rv) else row.rv
        assert (rts, rv) in got_map[key], f"{key}: {got_map[key]} missing {(rts, rv)}"


batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["T1", "T2", "T3"]),
            st.sampled_from(["BTCGBP", "ETHGBP"]),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=4,
)


def _model_step(state: tuple, op: str, batch: list[tuple]) -> list[tuple]:
    """Every table state one keyed write may leave, rows (key, pair,
    price) with price the precombine field. insert/bulk_insert append the
    batch, duplicates included. upsert/delete first keep one row per key
    with the max price — ties are arbitrary by contract, so every tied
    survivor is a possible outcome — then, in each partition the
    surviving rows touch, drop the existing rows whose key is in the
    batch; upsert then adds the survivors."""
    if op in ("insert", "bulk_insert"):
        return [tuple(sorted(state + tuple(batch)))]
    by_key: dict[str, list[tuple]] = {}
    for row in batch:
        by_key.setdefault(row[0], []).append(row)
    tied = [
        [r for r in rows if r[2] == max(x[2] for x in rows)]
        for rows in by_key.values()
    ]
    outcomes = []
    for winners in itertools.product(*tied):
        touched = {w[1] for w in winners}
        kept = tuple(r for r in state if not (r[0] in by_key and r[1] in touched))
        added = winners if op == "upsert" else ()
        outcomes.append(tuple(sorted(kept + tuple(added))))
    return outcomes


def _model_outcomes(seq) -> set[tuple]:
    """Every final state a sequence of (op, batch) writes may leave."""
    states = {()}
    for op, batch in seq:
        states = {nxt for st in states for nxt in _model_step(st, op, batch)}
    return states


def _table_rows(table: ManifestTable) -> tuple:
    if not table.exists():
        return ()
    cols = ("transaction_id", "pair", "price")
    return tuple(sorted(map(tuple, table.read().select(*cols).collect())))


@pytest.mark.slow
@given(seq=batches)
@settings(**H_SETTINGS)
def test_upsert_last_writer_wins(spark, tmp_path_factory, seq):
    """After any sequence of upsert batches, the table holds exactly one
    row per live (key, partition) identity, and its value comes from the
    LAST batch that touched the key in that partition (within a batch:
    the precombine winner). The index is partition-scoped (Hudi default),
    so a key that arrives with a new partition value keeps its row in
    the old partition."""
    path = tmp_path_factory.mktemp("upsert") / "t"
    table = ManifestTable(
        spark, str(path), keys=("transaction_id",), precombine="price",
        partition_by=("pair",),
    )
    for batch in seq:
        df = spark.createDataFrame(
            batch, "transaction_id string, pair string, price long"
        )
        table.write(df, "upsert")

    rows = _table_rows(table)
    got = {(txid, pair): price for txid, pair, price in rows}
    assert len(got) == len(rows)  # one row per (key, partition)
    expected = [
        {(txid, pair): price for txid, pair, price in state}
        for state in _model_outcomes([("upsert", b) for b in seq])
    ]
    assert got in expected


@given(
    n1=st.integers(min_value=0, max_value=6), n2=st.integers(min_value=0, max_value=6)
)
@settings(**H_SETTINGS)
def test_bulk_insert_additive(spark, tmp_path_factory, n1, n2):
    path = tmp_path_factory.mktemp("bulk") / "t"
    table = ManifestTable(
        spark, str(path), keys=("transaction_id",), precombine="transaction_id",
        partition_by=(),
    )
    for n in (n1, n2):
        if n:
            df = spark.createDataFrame(
                [("T", float(i)) for i in range(n)], "transaction_id string, v double"
            )
            table.write(df, "bulk_insert")
    if n1 + n2:
        assert table.read().count() == n1 + n2


texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=2, max_size=8
)


@given(docs=texts)
@settings(**H_SETTINGS)
def test_jaccard_pairs_properties(spark, docs):
    from dca_manager_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.0).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.0 < r.jaccard <= 1.0
        assert r.n_inter <= min(r.n_a, r.n_b)
    # identical non-trivial docs must appear with jaccard == 1
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if docs[i] == docs[j] and len(docs[i].replace(" ", "")) >= 2:
                assert any(
                    r.id_a == i and r.id_b == j and r.jaccard == 1.0 for r in pairs
                )


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=400),   # lo offset seconds
        st.integers(min_value=1, max_value=200),   # width seconds
        st.text(alphabet="xyz", min_size=1, max_size=3),
    ),
    min_size=0,
    max_size=8,
)


@given(points=events, wins=intervals)
@settings(**H_SETTINGS)
def test_range_join_matches_python(spark, points, wins):
    """Bucketized range join vs a direct python filter on arbitrary
    point/interval sets."""
    from dca_manager_spark.operators.relational import range_join

    if not points or not wins:
        return
    left_rows = [
        (k, BASE + datetime.timedelta(seconds=s), v) for k, s, v in points
    ]
    right_rows = [
        ("u1", BASE + datetime.timedelta(seconds=lo),
         BASE + datetime.timedelta(seconds=lo + w), tag)
        for lo, w, tag in wins
    ]
    left = spark.createDataFrame(left_rows, "k string, ts timestamp, v double")
    right = spark.createDataFrame(right_rows, "k string, lo timestamp, hi timestamp, tag string")
    got = sorted(
        (r.k, r.ts, r.v, r.tag)
        for r in range_join(
            left, right, ["k"], "ts", "lo", "hi", bucket_width_seconds=60
        ).collect()
    )
    want = sorted(
        (lk, lts, lv, tag)
        for (lk, lts, lv) in left_rows
        for (rk, lo, hi, tag) in right_rows
        if lk == rk and lo <= lts < hi
    )
    assert got == want


mixed_ops = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "bulk_insert"]),
        st.lists(
            st.tuples(
                st.sampled_from(["T1", "T2", "T3", "T4"]),
                st.sampled_from(["AAA", "BBB"]),
                st.integers(min_value=0, max_value=50),
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=3,
)


@given(seq=mixed_ops)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_manifest_table_matches_model(spark, tmp_path_factory, seq):
    """After ANY sequence of upsert/delete/bulk_insert batches, the
    ManifestTable holds one of the row multisets the pure-Python model of
    the keyed write semantics allows (more than one only when a batch
    ties on the precombine field)."""
    path = tmp_path_factory.mktemp("model") / "t"
    table = ManifestTable(spark, str(path), keys=("transaction_id",),
                          precombine="price", partition_by=("pair",))
    for op, batch in seq:
        df = spark.createDataFrame(
            batch, "transaction_id string, pair string, price long"
        )
        table.write(df, op)
    assert _table_rows(table) in _model_outcomes(seq)


chunk_texts = st.lists(
    st.text(alphabet="ab \t", min_size=0, max_size=60), min_size=1, max_size=6
)


@given(docs=chunk_texts, chunk=st.integers(2, 12), overlap=st.integers(0, 6))
@settings(**H_SETTINGS)
def test_chunk_documents_matches_python(spark, docs, chunk, overlap):
    """chunk_documents == an independent Python windowing over the same
    whitespace tokenization, for arbitrary texts and window geometry."""
    from dca_manager_spark.operators.training import chunk_documents

    if overlap >= chunk:
        return
    stride = chunk - overlap
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.chunk_n_tokens)
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap
        ).collect()
    }
    import math

    want = {}
    for i, text in enumerate(docs):
        toks = text.split()
        n_chunks = (
            math.ceil((len(toks) - chunk) / stride) + 1
            if len(toks) > chunk
            else 1
        )
        for c in range(n_chunks):
            window = toks[c * stride: c * stride + chunk]
            want[(i, c)] = (" ".join(window), len(window))
    assert got == want


@pytest.mark.slow
@given(
    tokens=st.lists(st.integers(1, 500), min_size=1, max_size=40),
    budget=st.integers(1, 600),
    bucket_chars=st.integers(1, 3),
)
@settings(**H_SETTINGS)
def test_pack_sequences_matches_python(spark, tokens, budget, bucket_chars):
    """The hierarchical two-pass prefix sum must equal a straight Python
    cumsum over the md5-shuffle order for ANY token counts, budget, and
    bucket width — bucket_chars is the scale-out knob and must never
    change the answer."""
    import hashlib

    from dca_manager_spark.operators.training import pack_sequences

    rows = list(enumerate(tokens))
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    got = {
        r.doc_id: (r.bin_id, r.bin_tokens_before)
        for r in pack_sequences(
            df, "doc_id", "n_tokens", budget=budget, bucket_chars=bucket_chars
        ).collect()
    }
    order = sorted(
        rows, key=lambda r: (hashlib.md5(f"shuffle{r[0]}".encode()).hexdigest(), r[0])
    )
    run, want = 0, {}
    for doc_id, n in order:
        want[doc_id] = (run // budget, run)
        run += n
    assert got == want


cdc_ops = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "bulk_insert"]),
        st.lists(
            st.tuples(
                st.sampled_from(["T1", "T2", "T3"]),
                st.sampled_from(["AAA", "BBB"]),
            ),
            min_size=1,
            max_size=3,
        ),
    ),
    min_size=1,
    max_size=3,
)


@given(seq=cdc_ops)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_records_incremental_matches_replay_model(spark, tmp_path_factory, seq):
    """For ANY op sequence and ANY resume point, read_incremental(
    records=True) equals an independent Python replay of the documented
    change-capture semantics. Identity is (key, partition); per identity,
    the newest SUPERSEDING change (upsert row 'u', upsert preimage 'p',
    delete 'd') wins — its rows appear only if it is an upsert of that
    identity (a preimage with no same-commit 'u' is a removal: the key
    moved partitions) — and additive bulk-insert rows from EVERY commit
    after that point survive (duplicates intact). Prices are globally
    unique so precombine winners are deterministic. Hypothesis found the
    partition-move case (r8): an upsert that relocates a key must surface
    the old identity's disappearance, not a stale version of it."""
    from dca_manager_spark.io.manifest import ManifestTable

    path = tmp_path_factory.mktemp("cdcprop") / "t"
    table = ManifestTable(
        spark, str(path), keys=("transaction_id",), precombine="price",
        partition_by=("pair",),
    )
    state: list[tuple[str, str, int]] = []   # live rows (key, pair, price)
    # per commit: {(key, pair): [(op, [rows])]} with op in u/p/d/i
    changes: list[dict[tuple, list]] = []
    counter = 0
    for op, batch in seq:
        rows = []
        for k, p in batch:
            counter += 1
            rows.append((k, p, counter))
        df = spark.createDataFrame(
            rows, "transaction_id string, pair string, price long"
        )
        table.write(df, op)
        if op == "delete" and not changes:
            # Delete against a never-committed table is a no-op: no
            # manifest is published (mirrors _cow_commit's early return).
            continue
        ch: dict[tuple, list] = {}
        if op == "bulk_insert":
            state += rows
            for r in rows:
                ch.setdefault((r[0], r[1]), []).append(("i", [r]))
            changes.append(ch)
            continue
        # precombine: one survivor per key, max price
        winners: dict[str, tuple[str, str, int]] = {}
        for r in rows:
            if r[0] not in winners or r[2] > winners[r[0]][2]:
                winners[r[0]] = r
        touched = {r[1] for r in winners.values()}
        # Partition-scoped key resolution, matching _cow_commit: every
        # live row whose key is in the batch AND whose partition is
        # replaced goes.
        hit = [s for s in state if s[0] in winners and s[1] in touched]
        state = [s for s in state if not (s[0] in winners and s[1] in touched)]
        if op == "upsert":
            state += list(winners.values())
            for r in winners.values():
                ch.setdefault((r[0], r[1]), []).append(("u", [r]))
            for s in hit:
                ch.setdefault((s[0], s[1]), []).append(("p", [s]))
        else:
            for s in hit:
                ch.setdefault((s[0], s[1]), []).append(("d", [s]))
        changes.append(ch)

    ids = table.commits()
    assert len(ids) == len(changes)
    for i, since in enumerate(ids):
        rng = changes[i + 1:]
        idents = set().union(*[set(c) for c in rng]) if rng else set()
        want = []
        for ident in idents:
            sup = -1
            for j, c in enumerate(rng):
                if ident in c and any(o != "i" for o, _ in c[ident]):
                    sup = j
            if sup >= 0:
                want += [
                    r for o, rs in rng[sup][ident] if o == "u" for r in rs
                ]
            for j in range(sup + 1, len(rng)):
                if ident in rng[j]:
                    want += [
                        r for o, rs in rng[j][ident] if o == "i" for r in rs
                    ]
        want = sorted(want)
        got = sorted(
            (r.transaction_id, r.pair, r.price)
            for r in table.read_incremental(since, records=True).collect()
        )
        assert got == want, f"since={since}: {got} != {want}"


@pytest.mark.slow
@given(
    minute=st.integers(0, 59),
    hour=st.integers(0, 23),
    dow=st.integers(1, 7),
    start=st.datetimes(
        min_value=datetime.datetime(2020, 1, 1),
        max_value=datetime.datetime(2030, 1, 1),
    ),
)
@settings(max_examples=50, deadline=None)
def test_cron_next_fire_properties(minute, hour, dow, start):
    """For any pinned (minute, hour, day-of-week) schedule: next_fire is
    strictly after `start`, matches the schedule, is minute-aligned, and
    is MINIMAL (no earlier matching minute exists — verified against a
    brute-force scan). Also idempotent chaining: fires_between(start, t1)
    returns exactly [t1]."""
    from dca_manager_spark.pipeline.scheduler import CronSchedule

    s = CronSchedule(f"cron({minute} {hour} ? * {dow} *)")
    t1 = s.next_fire(start)
    assert t1 is not None and t1 > start
    assert s.matches(t1)
    assert t1.second == 0 and t1.microsecond == 0
    assert t1.minute == minute and t1.hour == hour
    assert t1.isoweekday() % 7 + 1 == dow
    # Minimality: brute-force the first matching minute.
    probe = start.replace(second=0, microsecond=0) + datetime.timedelta(minutes=1)
    while not s.matches(probe):
        probe += datetime.timedelta(minutes=1)
    assert probe == t1
    assert s.fires_between(start, t1) == [t1]


drift_corpora = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=8,
        ),
    ),
    min_size=2,
    max_size=12,
).filter(lambda rows: {s for s, _ in rows} == {"s1", "s2"})


@pytest.mark.slow
@given(rows=drift_corpora)
@settings(**H_SETTINGS)
def test_drift_matches_python_replay(spark, rows):
    """distribution_drift equals an exact Python replay of the quantized
    statistics on arbitrary two-slice corpora, and invariants hold:
    tvd in [0, 1], chisq in [0, 2], swapping slices leaves both
    symmetric statistics unchanged."""
    import math

    from dca_manager_spark.operators.drift import TERM_SCALE, distribution_drift

    df = spark.createDataFrame(
        [(s, " ".join(toks)) for s, toks in rows], "slice string, text string"
    )
    counts = {"s1": {}, "s2": {}}
    for s, toks in rows:
        for t in toks:
            counts[s][t] = counts[s].get(t, 0) + 1
    na, nb = sum(counts["s1"].values()), sum(counts["s2"].values())
    tvd_q = chi_q = 0
    for tok in set(counts["s1"]) | set(counts["s2"]):
        pa, pb = counts["s1"].get(tok, 0) / na, counts["s2"].get(tok, 0) / nb
        d, ssum = pa - pb, pa + pb
        tvd_q += math.floor(abs(d) * float(TERM_SCALE))
        chi_q += math.floor(d * d / ssum * float(TERM_SCALE))

    row = distribution_drift(df, "slice", "s1", "s2").collect()[0]
    assert row["tvd"] == tvd_q / TERM_SCALE / 2
    assert row["chisq"] == chi_q / TERM_SCALE
    assert 0.0 <= row["tvd"] <= 1.0 + 1e-12
    assert 0.0 <= row["chisq"] <= 2.0 + 1e-12
    swapped = distribution_drift(df, "slice", "s2", "s1").collect()[0]
    assert swapped["tvd"] == row["tvd"] and swapped["chisq"] == row["chisq"]
    assert (swapped["n_tokens_a"], swapped["n_tokens_b"]) == (
        row["n_tokens_b"],
        row["n_tokens_a"],
    )


# ---------------------------------------------------------------------------
# Batched BPE merge selection == sequential training (pure Python — no Spark)
# ---------------------------------------------------------------------------

bpe_words = st.lists(
    st.tuples(
        st.text(alphabet="ab", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1,
    max_size=30,
)


@given(
    words=bpe_words,
    batch_limit=st.integers(min_value=1, max_value=8),
    top_k=st.integers(min_value=2, max_value=12),
    n_merges=st.integers(min_value=1, max_value=25),
    min_count=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=1000, deadline=None)
@example(  # VERDICT r12: exhausted-untruncated self-merge hole — the
    # (a,a) merge on 'aaa' creates (aa,a):1 which TIES (b,b):1 and wins
    # the pair-asc tie-break; the r12 rule batched (b,b) anyway.
    words=[("bb", 1), ("aaa", 1)],
    batch_limit=2,
    top_k=3,
    n_merges=3,
    min_count=1,
)
@example(  # broke-case self-merge hole (found r13): rows [(a,a):10,
    # (b,b):4, (a,b):3] — stop at (a,b) gives S=3 and (b,b):4 > 3
    # satisfied the r12 strict-dominance rule, but merging (a,a) creates
    # (aa,a):5 which outranks (b,b):4; the self-merge hazard floor(10/2)
    # must prune the batch to [(a,a)] alone.
    words=[("aaa", 5), ("bb", 4), ("ab", 3)],
    batch_limit=4,
    top_k=12,
    n_merges=4,
    min_count=1,
)
def test_batched_selection_equals_sequential_bpe(
    words, batch_limit, top_k, n_merges, min_count
):
    """The batch-selection rule (_select_merge_batch) must reproduce
    one-merge-at-a-time training EXACTLY for arbitrary word tables,
    batch caps, and candidate-collection widths — a pure-Python replay
    of the distributed loop (exact pair counts per round, top-k
    collection with the truncated flag, sequential application of the
    selected batch), checked against the naive _merge_loop. A tiny
    top_k stresses the truncated-collection stop; a 2-symbol alphabet
    maximizes tie density and merge-induced pair churn — exactly the
    shapes where an unsound batch rule diverges."""
    from dca_manager_spark.operators.bpe import (
        _merge_loop,
        _merge_word,
        _select_merge_batch,
    )

    table = [(list(w), f) for w, f in words if len(w) > 1]
    expected = _merge_loop(((list(s), f) for s, f in table), n_merges, min_count)

    cur = [(list(s), f) for s, f in table]
    merges = []
    applied_tokens = set()  # trainer-parity: freshness needs prior tokens
    while len(merges) < n_merges:
        counts = {}
        for syms, f in cur:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        rows_d = [{"a": a, "b": b, "cnt": c} for (a, b), c in rows]
        if not rows_d or rows_d[0]["cnt"] < min_count:
            break
        batch = _select_merge_batch(
            rows_d,
            min(batch_limit, n_merges - len(merges)),
            min_count,
            truncated=len(rows_d) == top_k,
            applied_tokens=applied_tokens,
        )
        merges.extend(batch)
        applied_tokens.update(a + b for a, b in batch)
        for a, b in batch:  # sequential apply (single-pass equivalence
            cur = [         # is pinned separately in test_bpe)
                (m, f)
                for s, f in cur
                for m in [_merge_word(s, a, b) if a in s else s]
                if len(m) > 1
            ]
    assert merges == expected, (words, batch_limit, top_k)


# -- r14 codec properties (pure Python — no Spark session needed) -------


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    npal_bits=st.integers(1, 8),
    interlace=st.booleans(),
    data=st.data(),
)
def test_gif_lzw_round_trip_property(w, h, npal_bits, interlace, data):
    """GIF is lossless: ANY index image round-trips exactly through the
    LZW encoder/decoder, for every palette width, both scan orders —
    the hypothesis net over the width-boundary/flush interactions the
    r14 bring-up bug lived in."""
    from dca_manager_spark.operators.gif import decode_gif_pixels, encode_gif

    npal = 1 << npal_bits
    pal = [((3 * i) % 256, (7 * i) % 256, (11 * i) % 256) for i in range(npal)]
    idx = bytes(
        data.draw(
            st.lists(
                st.integers(0, npal - 1), min_size=w * h, max_size=w * h
            )
        )
    )
    blob = encode_gif(w, h, pal, idx, interlace=interlace)
    ww, hh, cc, raw = decode_gif_pixels(blob)
    assert (ww, hh, cc) == (w, h, 3)
    assert raw == b"".join(bytes(pal[i]) for i in idx)


@settings(max_examples=120, deadline=None)
@given(
    w=st.integers(1, 33),
    h=st.integers(1, 33),
    seed=st.integers(0, 255),
    ch=st.sampled_from([1, 3]),
    rst=st.integers(0, 3),
)
def test_jpeg_block_constant_exact_property(w, h, seed, ch, rst):
    """The bit-exactness contract the oracle rides on, as a property:
    for ANY dims (partial edge blocks everywhere), seed, channel count
    and restart interval, a block-constant card with unit quant tables
    survives the full lossy pipeline byte-exact."""
    from dca_manager_spark.operators.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    px = bytes(
        (seed + 3 * (x // 8) + 5 * (y // 8) + 11 * c) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )
    blob = encode_jpeg_baseline(
        w, h, ch, px,
        quant_luma=[1] * 64, quant_chroma=[1] * 64,
        adobe_rgb=(ch == 3), restart_interval=rst,
    )
    ww, hh, cc, raw = decode_jpeg_baseline(blob)
    assert (ww, hh, cc) == (w, h, ch)
    assert raw == px
