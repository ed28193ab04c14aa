"""Scale-curve probe (VERDICT r13 #3): turn the "would survive 100x"
design claims of the heavy dedup/ANN operators into MEASURED curves.

For each operator, run the same synthetic workload at 1x / 3x / 10x
and fit the scaling exponent b of t = a * n^b by least squares on
(log n, log t). The design claims under test:

- duplicate_spans (production defaults: hashed grams + 256-doc
  posting cap): gram-keyed equi join with df-capped posting lists —
  near-linear in corpus size even when 50% of docs share one hot
  window (the quadratic-shape adversary).
- minhash_incremental_filter vs a PINNED corpus index: cost tracks
  the BATCH, the corpus is never re-shingled — near-linear in batch
  size at fixed corpus.
- ivf_pq_rerank_topk: route -> ADC shortlist -> exact re-rank; per-
  query work is the probed cells' members, so serve time is linear
  in corpus at fixed queries/cells/probes.
- connected_components: alternating large/small-star, O(log n)
  rounds x O(E) per round — ~n log n on a path+cliques mixture.

Reading the fit: the per-job floor (~0.2-0.4s/job on this box) and
fixed plan analysis DEFLATE the exponent at the small end, while
lineage/GC growth inflates the large end — treat b <= ~1.2 as
"linear enough", and anything approaching 2 as an offender. A warm-up
pass at the smallest size runs untimed first; each point is
best-of-2.

r15 additions (VERDICT r14 #4): the crawl-prep text operators —
html_extract_text / canonicalize_url / the composed crawl-prep plan —
measured over corpus SIZE, plus html_extract_text over DOCUMENT LENGTH
(fixed doc count, 4x/12x/40x characters): the regexp chain's real
pathological axis. The long-doc workload is adversarial on purpose —
unclosed <script> tags (each forces a scan-to-end failure), megabyte
documents, entity and tag soup — because lazy-dotall regexes go
quadratic exactly there if they ever will.

Usage: python scripts/scale_curve.py [base_spans=10000] [op1,op2,...]
(second arg filters which curves run). Prints one JSON line per
operator {op, sizes, secs, exponent} and a final summary; exits
nonzero if any exponent exceeds MAX_EXP.
"""

from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dca_manager_spark.operators.dedup import (  # noqa: E402
    build_corpus_index,
    connected_components,
    duplicate_spans,
    minhash_incremental_filter,
)
from dca_manager_spark.operators.sampling import canonicalize_url  # noqa: E402
from dca_manager_spark.operators.similarity import (  # noqa: E402
    IvfSeeds,
    ivf_pq_rerank_topk,
    train_pq_codebooks,
)
from dca_manager_spark.operators.text import html_extract_text  # noqa: E402
from dca_manager_spark.profiling import (  # noqa: E402
    persistent_ids,
    release_storage,
)
from dca_manager_spark.session import get_bench_session  # noqa: E402

MAX_EXP = 1.35  # n log n on a 10x span reads ~1.1-1.2; 1.35 is the alarm
SCALES = (1, 3, 10)

BOILER = "this document is provided as is without warranty whatsoever"


def fit_exponent(ns: list[int], ts: list[float]) -> float:
    xs = [math.log(n) for n in ns]
    ys = [math.log(t) for t in ts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


def _docs(spark, n: int):
    """stress_spans-shaped corpus: 50% share ONE boilerplate window,
    unique filler tails otherwise (the posting-cap adversary)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit(BOILER + " ")).otherwise(F.lit("")),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(11)),
                    lambda i: F.concat(F.lit("u"), F.col("id"), F.lit("x"), i),
                ),
            ),
        ).alias("text"),
    )


_SPARK = None  # set by main(); run_curve needs it for storage cleanup


def run_curve(name, sizes, build, evaluate) -> dict:
    """build(n) -> workload handle; evaluate(handle) forces full
    evaluation. Warm-up at sizes[0], then best-of-2 per size.

    Every workload's localCheckpoint blocks are RELEASED after its
    timing (except RDDs persisted BEFORE the curve started — pinned
    corpus indexes stay): leaked checkpoint storage from earlier
    points otherwise inflates later ones (see
    dca_manager_spark.profiling)."""
    protected = persistent_ids(_SPARK)
    evaluate(build(sizes[0]))  # warm: codegen + JIT
    release_storage(_SPARK, protected)
    secs = []
    for n in sizes:
        best = float("inf")
        for _ in range(2):
            h = build(n)
            t0 = time.perf_counter()
            evaluate(h)
            best = min(best, time.perf_counter() - t0)
            release_storage(_SPARK, protected)
        secs.append(round(best, 2))
    b = round(fit_exponent(list(sizes), secs), 3)
    row = {"op": name, "sizes": list(sizes), "secs": secs, "exponent": b}
    print(json.dumps(row))
    return row


def main() -> int:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    want = lambda name: only is None or name in only
    spark = get_bench_session("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    global _SPARK
    _SPARK = spark
    rows = []

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # 1. duplicate_spans, production defaults
    if want("duplicate_spans"):
        rows.append(run_curve(
            "duplicate_spans",
            [base * s for s in SCALES],
            lambda n: _docs(spark, n).localCheckpoint(),
            lambda docs: noop(duplicate_spans(docs, "doc_id", "text", k=8)),
        ))

    # 2. minhash_incremental_filter: batch scales, corpus index PINNED
    if want("minhash_incremental_batch_vs_pinned_index"):
        corpus_n = 3 * base
        corpus = _docs(spark, corpus_n).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        ).localCheckpoint()
        idx = build_corpus_index(corpus, "doc_id", "text",
                                 num_hashes=64, bands=16, k=3)
        idx.grams = idx.grams.localCheckpoint(eager=True)
        idx.bands = idx.bands.localCheckpoint(eager=True)
        idx.sizes = idx.sizes.localCheckpoint(eager=True)
        rows.append(run_curve(
            "minhash_incremental_batch_vs_pinned_index",
            [(3 * base * s) // 10 for s in SCALES],  # 0.3x..3x of corpus
            lambda n: _docs(spark, n).localCheckpoint(),
            lambda batch: noop(
                minhash_incremental_filter(
                    batch, None, "doc_id", "text", num_hashes=64, bands=16,
                    k=3, threshold=0.7, mode="word", corpus_index=idx,
                )
            ),
        ))

    # 3. ivf_pq_rerank_topk: corpus scales, 16 queries fixed
    if want("ivf_pq_rerank_serve"):
        dim, n_cells, n_queries = 32, 16, 16
        rng = np.random.default_rng(29)
        centers = rng.normal(size=(n_cells, dim)) * 4.0
        center_lit = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in centers
        ])
        seeds = IvfSeeds(centers)

        def vectors(n):
            noise = lambda j: (
                (F.xxhash64(F.col("id"), F.lit(j)) % 1000).cast("double") / 1000.0
                - 0.5
            ) * 0.8
            return (
                spark.range(n)
                .select(
                    F.col("id").alias("nid"),
                    F.array(*[
                        (
                            F.element_at(
                                F.element_at(
                                    center_lit,
                                    (F.col("id") % n_cells + 1).cast("int"),
                                ),
                                j + 1,
                            )
                            + noise(j)
                        ).cast("double")
                        for j in range(dim)
                    ]).alias("embedding"),
                )
                .localCheckpoint()
            )

        books = train_pq_codebooks(
            vectors(10 * base), "embedding", m=8, k=16, sample_id_col="nid",
            residual_seeds=seeds,
        )

        def serve(corpus):
            q = corpus.filter(F.col("nid") < n_queries).select(
                F.col("nid").alias("qid"), "embedding"
            )
            noop(ivf_pq_rerank_topk(
                q, corpus, "qid", "nid", books, k=10, n_cells=n_cells,
                n_probe=4, shortlist=64, seeds=seeds,
            ))

        rows.append(run_curve(
            "ivf_pq_rerank_serve",
            [10 * base * s for s in SCALES],
            vectors,
            serve,
        ))

    # 4. connected_components: one long path + 1k-cliques mixture
    if want("connected_components"):
        def graph(n):
            path = spark.range(n - 1).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            )
            # plus cliques of 32 over a disjoint id range: hub-shaped edges
            cl = spark.range(n).select(
                (F.lit(2_000_000_000) + F.col("id")).alias("id_a"),
                (F.lit(2_000_000_000) + (F.col("id") / 32).cast("long") * 32
                 ).alias("id_b"),
            ).filter(F.col("id_a") != F.col("id_b"))
            pairs = path.unionByName(cl).localCheckpoint()
            ids = (
                spark.range(n).select(F.col("id"))
                .unionByName(
                    spark.range(n).select((F.lit(2_000_000_000) + F.col("id")).alias("id"))
                )
                .localCheckpoint()
            )
            return pairs, ids

        rows.append(run_curve(
            "connected_components",
            [base * s for s in SCALES],
            graph,
            lambda g: noop(connected_components(g[0], g[1], max_iter=40)),
        ))

    # -- r15: crawl-prep text operators (VERDICT r14 #4) -------------------

    def crawl_docs(n, reps: int = 6, unclosed: bool = False):
        """Synthetic crawl page per row (~1.5 KB x reps/6): script/style
        subtrees, comments, entities, block soup, per-doc unique words
        (so nothing constant-folds), plus optional UNCLOSED script tags
        — each one forces the lazy-dotall script regex to scan to the
        end of the document and fail, the worst honest case."""
        did = F.col("id").cast("string")
        filler = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(20)),
                lambda i: F.concat(F.lit("w"), did, F.lit("n"), i),
            ),
        )
        chunk = F.concat(
            F.lit('<script type="text/javascript">var t = "</p> soup";'
                  "</script><style>p { color: red; }</style>"
                  "<!-- hidden comment --><h2>Part</h2><p>"),
            filler,
            F.lit("</p><div>A &amp; B &lt;tag&gt;&nbsp;!</div>"
                  "<ul><li>one</li><li>two</li></ul><b>bold</b> tail"),
        )
        # the unclosed script sits AFTER the last real </script>, so the
        # lazy-dotall match cannot close it: guaranteed scan-to-end fail
        body = F.concat(
            F.lit("<html><head><title>Doc "), did, F.lit("</title></head><body>"),
            *([chunk] * reps),
            F.lit("<script>var never_closed = 1; x: </body></html>"
                  if unclosed else "</body></html>"),
        )
        url = F.concat(
            F.lit("HTTPS://WWW.site"), (F.col("id") % 97).cast("string"),
            F.lit(".com:443/page/"), (F.col("id") % 61).cast("string"),
            F.lit("/?utm_source=x&b=2&a=1&fbclid=z"),
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            body.alias("html"),
            url.alias("url"),
        ).localCheckpoint()

    # 5. html_extract_text over CORPUS SIZE
    if want("html_extract_text"):
        rows.append(run_curve(
            "html_extract_text",
            [3 * base * s for s in SCALES],
            lambda n: crawl_docs(n),
            lambda docs: noop(
                docs.select("doc_id", html_extract_text(F.col("html")).alias("t"))
            ),
        ))

    # 6. html_extract_text over DOCUMENT LENGTH (fixed 64 docs,
    # ~1MB/4MB/16MB each; the regex chain's pathological axis). Docs
    # are F.repeat-built — a k-child concat fixture tree is itself a
    # codegen pathology that pollutes the measurement (found here:
    # 7680-child concat made every LATER stage read 10-30x slow) —
    # with tag/entity soup throughout and an UNCLOSED <script> at the
    # end, which the lazy-dotall script regex must scan-to-end to
    # reject. Exponent fit is in chars/doc.
    if want("html_extract_long_doc"):
        unit = ('<script type="text/javascript">var t = "</p> soup";'
                "</script><style>p { color: red; }</style><!-- hidden -->"
                "<h2>Part</h2><p>alpha beta gamma delta epsilon</p>"
                "<div>A &amp; B &lt;tag&gt;&nbsp;!</div><ul><li>one</li>"
                "</ul><b>bold</b> tail ")

        def long_docs(chars_per_doc):
            return spark.range(64).select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("<html><body>"),
                    F.repeat(F.lit(unit), chars_per_doc // len(unit)),
                    F.lit("uniq"), F.col("id").cast("string"),
                    F.lit("<script>var never_closed = 1; </body></html>"),
                ).alias("html"),
            ).localCheckpoint()

        # unguarded, inside the linear region (1-4 MB/doc). Beyond it the
        # 17-pass chain cliffs (~25x at 16 MB vs 4x data: G1 humongous
        # churn across per-pass 16 MB intermediates — measured r15, see
        # SCALE.md) — which is exactly why max_chars exists.
        rows.append(run_curve(
            "html_extract_long_doc",
            [1_000_000 * 2 ** i for i in range(3)],
            long_docs,
            lambda docs: noop(
                docs.select("doc_id", html_extract_text(F.col("html")).alias("t"))
            ),
        ))
        # the guard: 4 MB cap holds per-doc cost FLAT from 4 to 16 MB
        # inputs (the crawl-practice truncation; CC truncates ~1 MB)
        rows.append(run_curve(
            "html_extract_long_doc_capped4m",
            [4_000_000 * 2 ** i for i in range(3)],
            long_docs,
            lambda docs: noop(
                docs.select(
                    "doc_id",
                    html_extract_text(
                        F.col("html"), max_chars=4_000_000
                    ).alias("t"),
                )
            ),
        ))

    # 7. canonicalize_url over CORPUS SIZE (pure scalar chain)
    if want("canonicalize_url"):
        rows.append(run_curve(
            "canonicalize_url",
            [30 * base * s for s in SCALES],
            lambda n: crawl_docs(n, reps=0),
            lambda docs: noop(
                docs.select("doc_id", canonicalize_url(F.col("url")).alias("u"))
            ),
        ))

    # 8. composed crawl-prep plan: extract + canonicalize + URL-window
    # dedup + token gate — one shuffle (the window), everything else map
    if want("crawl_prep_pipeline"):
        def prep(docs):
            from pyspark.sql import Window

            staged = docs.select(
                "doc_id",
                html_extract_text(F.col("html")).alias("extracted"),
                canonicalize_url(F.col("url")).alias("canonical_url"),
            )
            w = Window.partitionBy("canonical_url").orderBy("doc_id")
            noop(
                staged.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    "doc_id", "canonical_url",
                    F.size(F.split(F.col("extracted"), r"[ \n]+"))
                    .cast("long").alias("n_toks"),
                )
                .filter(F.col("n_toks") >= 20)
            )

        rows.append(run_curve(
            "crawl_prep_pipeline",
            [3 * base * s for s in SCALES],
            lambda n: crawl_docs(n),
            prep,
        ))

    # 9. FLAC decode throughput (VERDICT r15 #7: the audio family's
    # missing curve). Clips are ENCODED at build time (pandas_udf,
    # materialized via localCheckpoint so the timed half is decode
    # only), then decoded through the production operator path:
    # repartition_by_bytes -> flac_samples (Arrow mapInPandas) ->
    # JVM-side aggregation. The per-clip work is constant, so the
    # honest expectation is b ~= 1.0 in CLIP COUNT (embarrassingly
    # parallel; the scale story is MB/s/core and the byte-budget
    # partition rule, both printed per point).
    if want("flac_decode"):
        from dca_manager_spark.operators.flac import flac_samples
        from dca_manager_spark.operators.multimodal import (
            repartition_by_bytes,
        )

        AUDIO_BUDGET = 1 << 20  # 1 MiB of encoded clips per partition

        def clips(n):
            @F.pandas_udf("binary")
            def make_flac(cid):
                import pandas as pd

                from dca_manager_spark.operators.flac import encode_flac

                out = []
                for c in cid:
                    c = int(c)
                    sig = [
                        (((c * 37 + j) * (j % 97 + 1)) % 2048) - 1024
                        for j in range(4096)
                    ]
                    out.append(encode_flac(1, 16000, 16, sig, block_size=256))
                return pd.Series(out)

            media = _SPARK.range(n).select(
                F.col("id").alias("media_id"),
                make_flac("id").alias("content"),
            ).localCheckpoint(eager=True)  # encode cost paid HERE
            enc_bytes = media.select(
                F.sum(F.length("content"))
            ).first()[0]
            return media, int(enc_bytes)

        def decode(handle):
            media, enc_bytes = handle
            t0 = time.perf_counter()
            noop(
                flac_samples(
                    repartition_by_bytes(media, "content", AUDIO_BUDGET),
                    "content", "media_id",
                )
                .select(
                    F.sum(F.size("samples")).alias("n"),
                    F.min(F.col("md5_ok").cast("int")).alias("ok"),
                )
            )
            dt = time.perf_counter() - t0
            cores = _SPARK.sparkContext.defaultParallelism
            print(json.dumps({
                "op": "flac_decode_point",
                "clips": media.count(),
                "encoded_mb": round(enc_bytes / 2**20, 2),
                "decode_sec": round(dt, 2),
                "mb_per_sec": round(enc_bytes / 2**20 / dt, 2),
                "mb_per_sec_per_core": round(
                    enc_bytes / 2**20 / dt / cores, 4),
                "byte_budget": AUDIO_BUDGET,
            }))

        rows.append(run_curve(
            "flac_decode",
            [max(base // 40, 50) * s for s in SCALES],
            clips,
            decode,
        ))

    # 12. (r16) SQL general MERGE over a lake table: target scales,
    # source = 30% matched + 10% new keys. Cost model: one
    # broadcast-able inner join + anti join over the target scan, then
    # write_txn's COW rewrite of touched files — O(target) end to end,
    # so the fitted exponent should read ~linear; superlinearity here
    # would mean the clause dispatch or the pinned-flat split rescans
    # the join per clause (the bug the one-pass _flatten design avoids).
    if want("sql_merge"):
        import tempfile as _tf
        import uuid as _uuid

        from dca_manager_spark.io.manifest import (
            ManifestTable,
            manifest_sql,
        )

        def build_merge(n):
            t = ManifestTable(
                spark, _tf.mkdtemp(prefix="curve-merge-"),
                keys=("k",), precombine="v", partition_by=(),
            )
            t.write(
                spark.range(n).select(
                    F.col("id").alias("k"),
                    F.col("id").cast("double").alias("v"),
                ),
                "bulk_insert",
            )
            tag = _uuid.uuid4().hex[:8]
            name, src = f"curve_merge_{tag}", f"curve_msrc_{tag}"
            t.register(name, durable=False)
            spark.range(int(n * 0.3)).union(
                spark.range(n, n + n // 10)
            ).select(
                F.col("id").alias("k"),
                (F.col("id") + 0.5).alias("nv"),
            ).createOrReplaceTempView(src)
            return (t, name, src)

        def eval_merge(h):
            t, name, src = h
            manifest_sql(spark, f"""
                MERGE INTO {name} t USING {src} s ON t.k = s.k
                WHEN MATCHED AND s.k % 4 = 0 THEN DELETE
                WHEN MATCHED THEN UPDATE SET v = s.nv
                WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
            """)
            t.unregister(name)
            spark.catalog.dropTempView(src)

        rows.append(run_curve(
            "sql_merge",
            [base * s for s in SCALES],
            build_merge,
            eval_merge,
        ))

    if not rows:
        print(f"no curves selected from {sorted(only or set())}")
        return 2
    worst = max(rows, key=lambda r: r["exponent"])
    summary = {
        "metric": "scale_exponents",
        "max_exponent": worst["exponent"],
        "worst_op": worst["op"],
        "threshold": MAX_EXP,
        "ops": {r["op"]: r["exponent"] for r in rows},
    }
    print(json.dumps(summary))
    ok = worst["exponent"] <= MAX_EXP
    print("PASS" if ok else f"FAIL: {worst['op']} exponent {worst['exponent']}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
