"""Sources: driver testdata, transcripts (parquet sandbox / Iceberg prod),
and distributed synthetic transcript generation for benchmarks.

Production target per BASELINE.json:14 is an Iceberg table at 10^12-turn
scale; this sandbox has no Iceberg runtime jar (verified, SURVEY.md §1.2), so
``load_transcripts`` takes format="iceberg"|"parquet" and the sandbox always
exercises the parquet path. All loaders return plain DataFrames — the engine
is source-agnostic downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet", table: str | None = None
) -> DataFrame:
    if fmt == "iceberg":
        # production path (requires the Iceberg runtime on the cluster)
        return spark.read.format("iceberg").load(table or path)
    if fmt != "parquet":
        # a typo ('Iceberg', 'icberg') must not silently read the path as
        # parquet — that reads the wrong bytes with no error
        raise ValueError(f"unknown transcripts format {fmt!r}; use 'parquet' or 'iceberg'")
    return spark.read.parquet(path)


def synth_transcripts(spark: SparkSession, rows: int, seed: int = 42) -> DataFrame:
    """Distributed deterministic transcripts synthesis (bench-scale inputs).

    JVM-side only (spark.range + column expressions; no Python) so generation
    never bottlenecks the benchmark.  Shape matches BASELINE.json:15:
    (conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp).  conv_id frequency is skewed (power-law-ish via xxhash64
    bit tricks) to exercise the grouped hot-key path.
    """
    n_convs = max(1, rows // 10)
    df = spark.range(rows)
    # skewed conv assignment: square a uniform to concentrate mass at low ids
    u = (F.xxhash64(F.col("id"), F.lit(seed)).cast("double") / F.lit(2.0**63)).cast(
        "double"
    )
    u01 = (u + F.lit(1.0)) / F.lit(2.0)  # [0,1)
    conv_k = F.least(
        (F.pow(u01, F.lit(3.0)) * n_convs).cast("long"), F.lit(n_convs - 1)
    )
    turn = (F.col("id") % 40).cast("int")
    role = (
        F.when(turn == 0, F.lit("system"))
        .when(F.col("id") % 7 == 3, F.lit("tool"))
        .when(turn % 2 == 1, F.lit("assistant"))
        .otherwise(F.lit("user"))
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("bash"), F.lit("read"), F.lit("edit"), F.lit("grep"), F.lit("web")),
            (F.col("id") % 5 + 1).cast("int"),
        ),
    )
    text = F.concat(
        F.lit("turn "),
        turn.cast("string"),
        F.lit(" of conv-"),
        conv_k.cast("string"),
        F.lit(": "),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit(seed)), 256),
        F.lit(" "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "), (F.col("id") % 8 + 1).cast("int")),
    )
    ts = F.timestamp_seconds(
        F.lit(1767225600) + conv_k * 3600 + turn.cast("long") * 7
    )  # 2026-01-01 + offsets
    return df.select(
        F.format_string("conv-%012d", conv_k).alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
