"""SparkSession construction tuned for the KG-construction workload.

Local mode is the sandbox; the conf set is chosen so the same code is correct
and fast on a 1000-executor cluster:

- AQE on (coalesce + skew-join split) — the runtime answer to mega-repo skew
  (reference analogue: the adaptive slice backoff, core.py:1036-1074).
- Arrow on — every Python-side stage is a vectorized pandas UDF.
- UTC session timezone — required for bitwise-stable comparison against the
  DuckDB oracle.
- shuffle partitions sized to cores locally; on a real cluster AQE coalesces
  from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 32g (32g when RAM is unknown)."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{min(ram_mb // 2, 32 * 1024)}m"


def build_session(
    app_name: str = "smart_pdf_md_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Make this package importable by the Python workers regardless of the
    # driver's cwd (local-mode analogue of `spark-submit --py-files`): the
    # worker daemon inherits PYTHONPATH from the driver process environment.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local[N] → N matters for shuffle sizing; on a cluster leave it higher
    # and let AQE coalesce down.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else max(int(n), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces by BYTES; compute-dense shuffles (shingle self-joins,
        # cosine pair joins) need small byte targets to stay parallel. The
        # shuffle-partition cap still bounds task counts for big data.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4194304"))
        # Allow shuffled-hash join where its size conditions hold (guide §3.1
        # / §9): SMJ pays two sorts that the hash build avoids; measured r10
        # on the board: triangle_count −12-15%, no query slower. The planner
        # still only picks SHJ when the per-partition build side fits (the
        # documented OOM trade); sort-merge remains the fallback. Env
        # override for clusters that want the always-spillable default.
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # local mode = driver-only: give the single JVM real headroom so
        # cached mentions + shuffle buffers never force GC churn/eviction —
        # but at most half of physical RAM: a heap allowed to grow past RAM
        # gets the whole process OOM-killed on a small host
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # Scan-split sizing: extraction runs scan-side (no shuffle — see
        # plans/pipeline.build_mentions), so scan splits ARE the extraction
        # tasks. Parquet splits at row-group granularity; the sandbox writes
        # small files, so pack small bins to keep all cores busy. On a real
        # cluster with 128MB row groups, raise to 128-256MB via env.
        # Spark sizes a split at min(maxPartitionBytes, max(openCostInBytes,
        # bytes per core)), so the open cost is a floor on the split size:
        # an input smaller than cores × that floor scans as fewer partitions
        # than cores (at 2 MB, a 1.5 MB corpus of 32 row groups scanned as
        # one). 128 KB lets bytes-per-core decide from a few hundred KB up,
        # while a file too small to split (one row group of tens of KB)
        # still scans as one task, not one full task and several empty
        # ones: at 0 those empty tasks cost the board queries 6-9%.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2097152"))
        .config("spark.sql.files.openCostInBytes", "131072")
    )
    # Env-provided conf overrides (JSON object), applied before the caller's
    # extra_conf: lets a deployment (or a bench experiment) tune any knob
    # without a code change — the parameterised-config discipline for
    # scale-dependent settings.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json
        for k, v in json.loads(env_conf).items():
            b = b.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
