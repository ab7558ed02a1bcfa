"""Adaptive sparse HLL payload (sketches/hll.py serialization §) and the
grouped packer's byte-parity with it (operators/grouped_hll.py)."""

import os
import struct

import numpy as np
import pytest

from guava_probably_spark.sketches import HllSketch, Sketch, SketchSpec

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_sparse_round_trip_and_size():
    sk = HllSketch(p=14)
    sk.update(np.array([f"x{i}" for i in range(10)], dtype=object))
    blob = sk.to_bytes()
    assert len(blob) < 200  # ~55 B payload vs 12 KB dense
    rt = Sketch.from_bytes(blob)
    assert isinstance(rt, HllSketch)
    assert (rt.registers == sk.registers).all()
    assert rt.to_bytes() == blob  # canonical


def test_dense_round_trip_at_high_load():
    sk = HllSketch(p=8)
    sk.update(np.array([f"x{i}" for i in range(5000)], dtype=object))
    blob = sk.to_bytes()
    rt = Sketch.from_bytes(blob)
    assert (rt.registers == sk.registers).all()
    # tagged dense: payload = 1 + 3m/4
    assert np.count_nonzero(sk.registers) * 3 + 5 >= (sk.m // 4) * 3


def test_legacy_untagged_dense_blob_still_decodes():
    sk = HllSketch(p=10)
    sk.update(np.array([f"x{i}" for i in range(3000)], dtype=object))
    # rebuild the pre-sparse blob: header + raw 6-bit packed payload (no tag)
    r = sk.registers.astype(np.uint32).reshape(-1, 4)
    word = r[:, 0] | (r[:, 1] << 6) | (r[:, 2] << 12) | (r[:, 3] << 18)
    out = np.empty((len(word), 3), dtype=np.uint8)
    out[:, 0] = word & 0xFF
    out[:, 1] = (word >> 8) & 0xFF
    out[:, 2] = (word >> 16) & 0xFF
    legacy = (
        b"GPSK"
        + struct.pack("<BBBB", 1, 3, sk.funnel, 0)
        + struct.pack("<I", 1)
        + struct.pack("<B", sk.p)
        + out.tobytes()
    )
    rt = Sketch.from_bytes(legacy)
    assert (rt.registers == sk.registers).all()


def test_sparse_merge_and_partition_blob_equality():
    a, b = HllSketch(p=12), HllSketch(p=12)
    a.update(np.array(["a", "b", "c"], dtype=object))
    b.update(np.array(["c", "d"], dtype=object))
    merged = Sketch.from_bytes(a.to_bytes()).merge(Sketch.from_bytes(b.to_bytes()))
    direct = HllSketch(p=12)
    direct.update(np.array(["a", "b", "c", "d"], dtype=object))
    assert merged.to_bytes() == direct.to_bytes()


def test_grouped_packer_blobs_byte_identical_to_sketch_serialization(spark):
    from pyspark.sql import functions as F

    from guava_probably_spark.operators import grouped_hll

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    g = grouped_hll(events, "event_type", "user_id", p=12, output="sketch")
    rows = {r.event_type: r.sketch for r in g.collect()}
    pdf = events.select("event_type", "user_id").toPandas()
    for etype, blob in rows.items():
        ref = HllSketch(p=12, funnel=2)
        ref.update(
            np.asarray(pdf[pdf.event_type == etype]["user_id"], dtype=np.int64)
        )
        got = Sketch.from_bytes(blob)
        assert (got.registers == ref.registers).all()
        # low-load groups must have gone sparse AND match to_bytes exactly
        assert blob == got.to_bytes()
        if np.count_nonzero(ref.registers) * 3 + 5 < (ref.m // 4) * 3:
            assert len(blob) < 200


def test_grouped_packer_mixed_dense_and_sparse_rows(spark):
    """Force both encodings in one partition: one hot key (dense) + many
    cold keys (sparse)."""
    import pandas as pd

    from guava_probably_spark.operators import grouped_hll

    n_hot = 30_000
    pdf = pd.DataFrame(
        {
            "k": ["hot"] * n_hot + [f"cold{i}" for i in range(50)],
            "v": [f"u{i}" for i in range(n_hot)] + ["x"] * 50,
        }
    )
    df = spark.createDataFrame(pdf)
    g = grouped_hll(df, "k", "v", p=8, output="sketch", partitions=1)
    rows = {r.k: r.sketch for r in g.collect()}
    hot = Sketch.from_bytes(rows["hot"])
    assert rows["hot"] == hot.to_bytes()
    assert abs(hot.estimate() - n_hot) / n_hot < 0.2
    cold = Sketch.from_bytes(rows["cold0"])
    assert rows["cold0"] == cold.to_bytes()
    assert len(rows["cold0"]) < 60
    assert round(cold.estimate()) == 1


def test_grouped_assume_colocated_zero_shuffle(spark):
    """assume_colocated on pre-partitioned input: identical results, and the
    plan contains no Exchange above the scan-side repartition."""
    import os as _os

    from guava_probably_spark.operators import grouped_hll

    events = spark.read.parquet(_os.path.join(SF_DIR, "events.parquet"))
    pre = events.repartition(4, "event_type")
    base = {
        r.event_type: r.sketch
        for r in grouped_hll(events, "event_type", "user_id", p=10).collect()
    }
    colo = grouped_hll(pre, "event_type", "user_id", p=10, assume_colocated=True)
    got = {r.event_type: r.sketch for r in colo.collect()}
    assert got == base
    plan = colo._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    # exactly the one upstream repartition exchange; none added by the operator
    assert final.count("Exchange") == 1


def test_grouped_hll_files_matches_jvm_scan_path(spark, tmp_path):
    """grouped_hll_files (python-native file scan) produces byte-identical
    blobs to the JVM-scan grouped path — for a string key and for a date
    key (the key's Spark type comes from the parquet schema)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guava_probably_spark.operators import grouped_hll, grouped_hll_files

    path = os.path.join(SF_DIR, "events.parquet")
    events = spark.read.parquet(path)
    a = {
        r.event_type: (r.sketch, r.n)
        for r in grouped_hll(events, "event_type", "user_id", p=12).collect()
    }
    b = {
        r.event_type: (r.sketch, r.n)
        for r in grouped_hll_files(spark, path, "event_type", "user_id", p=12).collect()
    }
    assert a == b

    days = tmp_path / "days.parquet"
    start = datetime.date(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "day": pa.array(
                    [start + datetime.timedelta(days=i % 5) for i in range(2_000)],
                    pa.date32(),
                ),
                "user": [f"u{i % 300}" for i in range(2_000)],
            }
        ),
        str(days),
    )
    a = {
        r.day: (r.sketch, r.n)
        for r in grouped_hll(spark.read.parquet(str(days)), "day", "user", p=12).collect()
    }
    b = {
        r.day: (r.sketch, r.n)
        for r in grouped_hll_files(spark, str(days), "day", "user", p=12).collect()
    }
    assert len(a) == 5 and a == b
