"""File-task planner for the python-native file scan.

Every operator that reads parquet files with pyarrow inside the Python
workers (``build_partials_files_multi``, ``grouped_hll_files``, the
checkpointed build) gets its tasks from ``plan_file_tasks``:

1. ``k = min(#files, defaultParallelism)`` tasks, so the cores run ONE wave
   (a warm Python task wave took ~0.3 s to start on a 4-core VM) and each
   task emits one partial set, not one per file;
2. files go round-robin to the tasks (``files[t::k]``);
3. the task table is planned entirely in the JVM: ``spark.range`` with
   exactly k partitions, each row picking its file group out of one
   literal that the optimizer constant-folds. No Python RDD and no shuffle.

Groups are balanced by file count, not bytes: tables written by Spark have
part files of similar size.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F


def list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Parquet part files of a table path (local fs or anything Hadoop can
    list — uses the JVM FileSystem so it works on HDFS/S3 in production)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = path.getFileSystem(conf)
    out = []
    for status in fs.listStatus(path):
        p = status.getPath().toString()
        if p.endswith(".parquet"):
            out.append(p)
    if not out and input_path.endswith(".parquet"):
        out = [input_path]
    return sorted(out)


def plan_file_tasks(spark: SparkSession, files: list[str]) -> DataFrame:
    """One row per task, ``files array<string>``, in exactly k partitions
    (see the module docstring for k and the assignment)."""
    k = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    groups = [files[t::k] for t in range(k)]
    table = F.from_json(F.lit(json.dumps(groups)), "array<array<string>>")
    return spark.range(0, k, 1, k).select(table[F.col("id").cast("int")].alias("files"))
