"""Record the outputs the benchmark's checks compare against, for every
input variant of a workload, after an intended output change:

    python3 perfbench/record_expected.py kg_build    # -> expected_kg.json
    python3 perfbench/record_expected.py ops_board   # -> expected_board.json

Results go through the workload's own iteration and hashing, and each
recording is cross-checked against references the program does not compute;
a mismatch aborts it and leaves the file as it was.

- kg_build: rows and digest of each of run_kg's five committed stages. The
  lineage check must pass, and the committed triples stage, as a
  (subj, pred, obj) set, must equal ``oracle.oracle_triples`` (pure-Python
  extraction) with precision and recall 1. The link, entity and canonical
  stages have no independent reference; their values are what the code
  produced when they were recorded.
- ops_board: each board query's row count and order-independent hash.
  Queries with a DuckDB twin (``oracle_sql()``) are checked against DuckDB,
  and triangle_count against a set-intersection count in Python (its DuckDB
  twin, three self-joins, does not fit in memory at this size);
  curation_chunks and dedup_minhash_lsh have no independent reference.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def triangles(lineitem: str) -> int:
    """Triangles of the order-part-supplier graph _triangle_count builds,
    by degree-ordered neighbour-set intersection."""
    import pandas as pd
    li = pd.read_parquet(lineitem)
    o = "o" + li["l_orderkey"].astype(str)
    p = "p" + li["l_partkey"].astype(str)
    s = "s" + li["l_suppkey"].astype(str)
    adj: dict[str, set] = {}
    for a, b in set(zip(o, p)) | set(zip(o, s)) | set(zip(p, s)):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rank = {u: (len(n), u) for u, n in adj.items()}
    fwd = {u: {v for v in n if rank[v] > rank[u]} for u, n in adj.items()}
    return sum(len(fwd[u] & fwd[v]) for u in fwd for v in fwd[u])


def record_kg(spark, v: int, bad: list) -> dict:
    import pandas as pd

    import workloads
    from smart_pdf_md_spark.oracle import oracle_triples, precision_recall
    from smart_pdf_md_spark.plans.manifests import read_stage

    wl = workloads.KgBuild(run.WORK, v)
    wl.start(spark)
    out = wl.iteration()
    got = wl.digests(out)
    errs = wl._lineage(out["run_dir"])
    emitted = read_stage(spark, out["run_dir"], "triples") \
        .select("subj", "pred", "obj").distinct().toPandas()
    pr = precision_recall(emitted, oracle_triples(pd.read_parquet(wl.path)))
    if pr != (1.0, 1.0):
        errs.append(f"triples vs oracle: precision/recall {pr}")
    bad.extend((v, e) for e in errs)
    print(f"variant {v}: {got} oracle P/R {pr}", file=sys.stderr)
    return got


def record_board(spark, v: int, bad: list) -> dict:
    import duckdb

    import __spark_entry__ as em
    import workloads

    sql = em.oracle_sql()
    wl = workloads.OpsBoard(run.WORK, v)
    wl.start(spark)
    got = wl.results(wl.iteration())
    con = duckdb.connect(config={
        "memory_limit": "2GB", "threads": 2,
        "temp_directory": os.path.join(run.WORK, "tmp")})
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{wl.dir}/{t}.parquet')")
    for q in workloads.BOARD_QUERIES:
        if q == "triangle_count":
            rows = [(triangles(f"{wl.dir}/lineitem.parquet"),)]
        elif q in sql:
            cur = con.execute(sql[q])
            cols = [c[0] for c in cur.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
        else:
            rows = None
        if rows is not None and got[q] != {
                "rows": len(rows), "hash": workloads.row_hash(rows)}:
            bad.append((v, q))
        print(f"variant {v} {q}: {got[q]}"
              f"{'' if rows is not None else ' (no twin)'}", file=sys.stderr)
    return got


RECORDERS = {"kg_build": ("kg", "KG_VARIANTS", record_kg),
             "ops_board": ("board", "BOARD_VARIANTS", record_board)}


def main() -> int:
    if len(sys.argv) != 2 or sys.argv[1] not in RECORDERS:
        print(__doc__, file=sys.stderr)
        return 2
    name = sys.argv[1]
    sys.path[:0] = [run.ROOT, run.HERE]
    import inputs
    from smart_pdf_md_spark.session import build_session

    short, variants, record = RECORDERS[name]
    conf = run.host_env()
    spark = build_session(app_name="perfbench-record", master=conf["master"],
                          extra_conf=conf["extra_conf"])
    expected, bad = {}, []
    try:
        for v in range(getattr(inputs, variants)):
            expected[str(v)] = record(spark, v, bad)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(os.path.join(run.WORK, "runs", f"{name}_{os.getpid()}"),
                      ignore_errors=True)
    if bad:
        print(f"reference disagrees on {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, f"expected_{short}.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
