"""Interleaved A/B of the bench.py KG-pipeline loop across two checkouts
(r4 VERDICT next-round #1: adjudicate the 420k→211k driver-window swing).

Usage:
    python scripts/ab_kg_bench.py <label_a>:<repo_a> <label_b>:<repo_b> \
        [rounds] [files]

Each round runs BOTH codes back-to-back in fresh JVMs (A, B, A, B, ...),
so the two samples in a round share the same machine weather — the only
defensible comparison on a microVM with a documented 6× cross-window
spread (BENCH/BASELINE.md). Both checkouts read the SAME pre-generated
corpus parquet (corpus CORPUS_VERSION must match). The measured loop is
bench.py's KG section verbatim: warm corpus scan, then best-of-2 timed
extract→link→canonicalize passes.

Prints one JSON line per run plus a median summary. Run on an idle
machine — NOTHING else concurrent (the 0.76 contaminated-scaling lesson,
BENCH/BASELINE.md round-4 notes).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

_CHILD = r"""
import json, os, sys, time
repo = sys.argv[1]
corpus_path = sys.argv[2]
sys.path.insert(0, repo)
os.chdir(repo)
from smart_pdf_md_spark.session import build_session
from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
from smart_pdf_md_spark.operators.linking import checkpointed_vocabulary, link_edges
from smart_pdf_md_spark.operators.extract import mentions_only
from smart_pdf_md_spark.plans.pipeline import build_mentions, triples_from_mentions

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = build_session(master=f"local[{cpus}]")
corpus = spark.read.parquet(corpus_path)
corpus.count()  # warm the scan (bench.py discipline)
need = ["file_id", "repo", "path", "kind", "name", "enclosing",
        "content_sha256", "mention_id"]
best, n_triples = None, 0
for _ in range(2):
    t0 = time.perf_counter()
    m0 = mentions_only(build_mentions(spark, corpus)).select(*need).persist()
    m0.count()
    mentions = m0.coalesce(spark.sparkContext.defaultParallelism * 4)
    names = checkpointed_vocabulary(mentions)
    ents = entity_table(mentions, link_edges(mentions, names=names), names=names)
    canon = canonical_triples(triples_from_mentions(mentions), ents)
    n_triples = canon.count()
    dt = time.perf_counter() - t0
    m0.unpersist()
    best = dt if best is None else min(best, dt)
print(json.dumps({"elapsed_sec": round(best, 3), "triples": n_triples,
                  "tps": round(n_triples / best, 1)}))
spark.stop()
"""


def _run_one(repo: str, corpus_path: str) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(_CHILD)
        child = f.name
    try:
        out = subprocess.run(
            [sys.executable, child, repo, corpus_path],
            capture_output=True, text=True, timeout=1200)
        if out.returncode != 0:
            raise RuntimeError(f"child failed for {repo}:\n{out.stderr[-2000:]}")
        return json.loads(out.stdout.strip().splitlines()[-1])
    finally:
        os.unlink(child)


def main() -> int:
    a_label, a_repo = sys.argv[1].split(":", 1)
    b_label, b_repo = sys.argv[2].split(":", 1)
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    files = int(sys.argv[4]) if len(sys.argv) > 4 else 1_000_000

    corpus_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench", f"corpus_v2_{files}.parquet")
    if not os.path.exists(corpus_path):
        raise SystemExit(f"shared corpus missing: {corpus_path} "
                         f"(run bench.py once to generate it)")

    results: dict[str, list[dict]] = {a_label: [], b_label: []}
    for rnd in range(rounds):
        for label, repo in ((a_label, a_repo), (b_label, b_repo)):
            r = _run_one(repo, corpus_path)
            r["round"], r["code"] = rnd, label
            results[label].append(r)
            print(json.dumps(r), flush=True)

    summary = {}
    for label, runs in results.items():
        summary[label] = {
            "median_elapsed_sec": statistics.median(x["elapsed_sec"] for x in runs),
            "median_tps": statistics.median(x["tps"] for x in runs),
            "runs": [x["elapsed_sec"] for x in runs],
        }
    print(json.dumps({"summary": summary}, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
