"""Session configuration: scan-split sizing."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def test_small_parquet_scans_on_every_core(spark, tmp_path):
    """A parquet file far smaller than cores × 2 MB, written as many row
    groups, scans as at least defaultParallelism non-empty partitions: the
    per-file open cost must not put a floor under the split size that
    leaves cores idle."""
    n, group = 64_000, 1_000
    path = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"id": list(range(n)),
                             "s": [f"row-{i:08d}" for i in range(n)]}),
                   path, row_group_size=group)
    cores = spark.sparkContext.defaultParallelism
    assert os.path.getsize(path) < cores * 2 * 1024 * 1024
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= cores
    filled = df.groupBy(F.spark_partition_id()).count().collect()
    assert len(filled) >= cores
    assert sum(r["count"] for r in filled) == n
