"""Measure build_mentions(dedup_content=) in the KG loop (r3 VERDICT #6).

The corpus plants vendored duplicates (FIXTURES.md); real corpora are worse.
dedup_content=True extracts each DISTINCT (content, lang, route) once and
fans mention rows back out with a join on (content_sha256, lang) — saving
extraction CPU proportional to the duplication factor at the price of one
shuffle join of the mention stream. This script times the full KG loop
(the bench.py plan shape) both ways, interleaved, median of N — the number
that decides the run_kg default.

Usage: python scripts/dedup_content_bench.py [n_files] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> int:
    from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
    from smart_pdf_md_spark.operators.extract import mentions_only
    from smart_pdf_md_spark.operators.linking import (
        checkpointed_vocabulary,
        link_edges,
    )
    from smart_pdf_md_spark.plans.pipeline import (
        build_mentions,
        triples_from_mentions,
    )
    from smart_pdf_md_spark.session import build_session

    sys.path.insert(0, REPO)
    import bench

    spark = build_session(app_name="dedup-content-bench",
                          master=f"local[{CPUS}]")
    corpus = bench._bench_corpus(spark, N_FILES)
    corpus.count()  # warm the scan (page-cache discipline, BENCH/BASELINE.md)

    from pyspark.sql import functions as F
    dup = corpus.agg(
        F.count("*").alias("files"),
        F.countDistinct("content", "lang").alias("distinct_contents"),
    ).collect()[0]

    need = ["file_id", "repo", "path", "kind", "name", "enclosing",
            "content_sha256", "mention_id"]

    def run_once(dedup_content: bool) -> tuple[float, int]:
        t0 = time.perf_counter()
        m0 = mentions_only(
            build_mentions(spark, corpus, dedup_content=dedup_content)
        ).select(*need).persist()
        m0.count()
        mentions = m0.coalesce(spark.sparkContext.defaultParallelism * 4)
        names = checkpointed_vocabulary(mentions)
        ents = entity_table(mentions, link_edges(mentions, names=names),
                            names=names)
        canon = canonical_triples(triples_from_mentions(mentions), ents)
        n = canon.count()
        dt = time.perf_counter() - t0
        m0.unpersist()
        return dt, n

    run_once(False)  # warm codegen/JVM before any timed pass
    times: dict[bool, list[float]] = {False: [], True: []}
    triples: dict[bool, int] = {}
    for _ in range(REPS):  # interleave (microVM noise discipline)
        for flag in (False, True):
            dt, n = run_once(flag)
            times[flag].append(round(dt, 3))
            triples[flag] = n

    out = {
        "metric": "kg_dedup_content_compare",
        "files": N_FILES,
        "distinct_contents": dup.distinct_contents,
        "dup_factor": round(dup.files / dup.distinct_contents, 3),
        "direct_sec": times[False],
        "dedup_sec": times[True],
        "direct_median": statistics.median(times[False]),
        "dedup_median": statistics.median(times[True]),
        "triples_direct": triples[False],
        "triples_dedup": triples[True],
        "cpus": CPUS,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
