"""One-scan table profiler (operators/profile.py): per-column distinct /
top-items / quantiles / exact stats from a single pass."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from guava_probably_spark.operators import (
    profile_partials,
    profile_summary,
    profile_table,
)
from guava_probably_spark.sketches import Sketch


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_profile_exact_stats_and_bounds(spark, events):
    s = {r.column: r for r in profile_summary(events).collect()}
    assert set(s) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
    exact = events.agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("d_user"),
        F.countDistinct("event_type").alias("d_type"),
        F.countDistinct("value").alias("d_value"),
        F.countDistinct("ts").alias("d_ts"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.avg("value").alias("mean"),
    ).collect()[0]
    for c in s.values():
        assert c.n == exact.n and c.nulls == 0
    for col, d in (
        ("user_id", exact.d_user),
        ("event_type", exact.d_type),
        ("value", exact.d_value),
        ("ts", exact.d_ts),
    ):
        r = s[col]
        assert abs(r.distinct_est - d) <= r.distinct_rel_err * d + 1e-9, col
    v = s["value"]
    assert v.vmin == exact.vmin and v.vmax == exact.vmax
    assert abs(v.mean - exact.mean) <= 1e-9 * abs(exact.mean)
    # q50 estimate's true rank within the KLL bound of 0.5
    vals = np.sort(
        np.array([r.value for r in events.select("value").collect()], dtype=np.float64)
    )
    rank = np.searchsorted(vals, v.q50) / len(vals)
    assert abs(rank - 0.5) <= 3 * 1.7 / 200 + 0.01  # kll k=200 rank band
    # MG top-1 bracket contains the exact top count
    top_exact = (
        events.groupBy("event_type").count().orderBy(F.desc("count")).first()
    )
    top = s["event_type"].top_items[0]
    assert top.item == top_exact.event_type
    assert top.lo <= top_exact["count"] <= top.hi


def test_profile_single_scan_no_raw_shuffle(events):
    """The partials phase is scan → project → mapInArrow: zero Exchange —
    no raw row ever shuffles; only per-(partition, column) KB blobs do."""
    plan = profile_partials(events)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_profile_nulls_counted_exactly_and_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", None), (4, None, None)],
        "id bigint, s string, x double",
    )
    s = {r.column: r for r in profile_summary(df).collect()}
    assert s["s"].nulls == 2 and s["x"].nulls == 2
    assert s["s"].distinct_est == 2  # exact at this cardinality
    assert s["x"].distinct_est == 2
    assert s["x"].mean == 1.5 and s["x"].vmin == 1.0 and s["x"].vmax == 2.0


def test_profile_float_canonicalization_matches_sql_distinct(spark):
    """-0.0 == 0.0 and one NaN value — the SQL DISTINCT convention — even
    though the HLL hashes IEEE bit patterns."""
    df = spark.createDataFrame(
        [(0.0,), (-0.0,), (float("nan"),), (float("nan"),), (1.5,)], "x double"
    )
    s = {r.column: r for r in profile_summary(df).collect()}
    assert s["x"].distinct_est == 3  # {0.0, NaN, 1.5}
    # NaNs excluded from order stats
    assert s["x"].vmin == 0.0 and s["x"].vmax == 1.5


def test_profile_hll_blob_partition_invariant(spark, events):
    blobs = {}
    for parts in (3, 7):
        rows = {
            r.column: bytes(r.hll)
            for r in profile_table(events.repartition(parts)).collect()
        }
        blobs[parts] = rows
    assert blobs[3] == blobs[7]  # canonical HLL merge: byte-equal profiles
    for b in blobs[3].values():
        Sketch.from_bytes(b)  # every blob decodes


def test_profile_boolean_and_column_subset(spark):
    df = spark.createDataFrame(
        [(True, 1), (False, 2), (True, 3), (None, 4)], "flag boolean, k bigint"
    )
    s = {r.column: r for r in profile_summary(df, columns=["flag"]).collect()}
    assert set(s) == {"flag"}
    assert s["flag"].distinct_est == 2 and s["flag"].nulls == 1
    items = {t.item for t in s["flag"].top_items}
    assert items == {"1", "0"}  # booleans profile as their int64 view


def test_profile_unsupported_only_raises(spark):
    df = spark.createDataFrame([([1, 2],)], "arr array<bigint>")
    with pytest.raises(ValueError):
        profile_table(df)


def test_profile_empty_table(spark):
    df = spark.createDataFrame([], "id bigint, s string")
    assert profile_table(df).count() == 0
    assert profile_summary(df).count() == 0


def test_profile_summary_quantile_names_stay_distinct(spark):
    """0.9999999 and 1.0 once both named ``q100`` (and 1e-7 ``q1e-05``);
    names now come from grouped_quantiles.quantile_names."""
    df = spark.range(1, 2001).select(F.col("id").cast("double").alias("x"))
    qs = (1e-7, 0.5, 0.9999999, 1.0)
    (r,) = profile_summary(df, quantiles=qs).collect()
    names = ["q0_00001", "q50", "q99_99999", "q100"]
    assert [c for c in r.asDict() if c.startswith("q")] == names
    vals = [r[c] for c in names]
    assert all(v is not None for v in vals)
    assert vals == sorted(vals)
    assert abs(r.q50 - 1000) <= 3 * 1.7 / 200 * 2000 + 20  # kll k=200 rank band
    assert r.q100 <= r.vmax == 2000.0
