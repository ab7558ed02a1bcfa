"""Distributed end-to-end tests (SURVEY.md §5.2.4): build + tree merge at
different parallelism → identical blobs, plan-shape guards, grouped salted
aggregation, probe UDFs, semi-join pruning, per-turn text equality.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from guava_probably_spark.functions import (
    cms_freq_udf,
    hll_cardinality,
    might_contain_udf,
    quantile_udf,
    register_sql,
    sketch_size,
)
from guava_probably_spark.operators import (
    build_grouped,
    build_partials_multi,
    collect_sketch,
    sketch_prune,
    sketch_semijoin,
    tree_merge,
)
from guava_probably_spark.plans import (
    assert_no_exchange_before_python,
    physical_plan,
    scan_read_schema,
)
from guava_probably_spark.sketches import Sketch, SketchSpec


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_plan_no_raw_row_shuffle(events):
    """The §3.4 invariant: build partials = scan → project → MapInArrow,
    zero Exchange below the Python stage."""
    partials = build_partials_multi(events, [("user_id", "user_id", SketchSpec("hll", {"p": 12}))])
    assert_no_exchange_before_python(partials)


def test_plan_column_pruning_reaches_scan(events):
    partials = build_partials_multi(events, [("user_id", "user_id", SketchSpec("hll", {"p": 12}))])
    rs = scan_read_schema(partials)
    assert "user_id" in rs
    for other_col in ("event_type", "props", "value"):
        assert other_col not in rs, f"column pruning failed; scan reads {other_col}"


def test_partition_invariance_blob_equality(spark, events):
    """bloom/HLL/CMS blobs must be byte-equal no matter how the input is
    partitioned (strong determinism check, SURVEY.md §5.2.4)."""
    for spec in (
        SketchSpec("hll", {"p": 12}),
        SketchSpec("bloom", {"capacity": 20000, "fpp": 0.01}),
        SketchSpec("cms", {"epsilon": 0.01, "delta": 0.01}),
    ):
        blobs = []
        for parts in (2, 7):
            sk, n, ovf = collect_sketch(events.repartition(parts), "user_id", spec)
            assert ovf == 0
            blobs.append(sk.to_bytes())
        assert blobs[0] == blobs[1], f"{spec.kind} blob differs across partitionings"


def test_cuckoo_build_overflow_is_reported_not_silent(spark):
    """A cuckoo build over more distinct keys than capacity MUST surface the
    failed inserts in the overflow count — each one is a key that would
    probe False (a silent false negative) if dropped unreported."""
    df = spark.range(30_000).select(F.format_string("k-%d", "id").alias("k"))
    spec = SketchSpec("cuckoo", {"capacity": 4_000, "fpp": 0.01})
    sk, n, overflow = collect_sketch(df.repartition(4), "k", spec)
    assert n == 30_000
    # ~26k keys can't fit a 4k-capacity filter: the count must show it
    assert overflow > 10_000
    # and a build that fits reports zero
    small = spark.range(1_000).select(F.format_string("k-%d", "id").alias("k"))
    sk2, n2, ov2 = collect_sketch(small, "k", SketchSpec("cuckoo", {"capacity": 10_000, "fpp": 0.01}))
    assert n2 == 1_000 and ov2 == 0
    assert sk2.contains_all([f"k-{i}" for i in range(1_000)])


def test_cuckoo_multiset_build_supports_remove_across_partitions(spark):
    """Delete workflows: dedup_build=False must keep one copy PER INSERT all
    the way through the distributed build — including the tree merge, where
    copies of the same key split across partitions used to be collapsed by
    the set-union merge default."""
    import numpy as np

    from guava_probably_spark.sketches.hashing import hash128_u64

    # every key appears twice, guaranteed in DIFFERENT partitions
    base = spark.range(2_000).select(F.col("id").alias("k"))
    df = base.repartition(8).unionByName(base.repartition(8))
    spec = SketchSpec(
        "cuckoo", {"capacity": 20_000, "fpp": 0.01, "dedup_build": False}
    )
    sk, n, ovf = collect_sketch(df, "k", spec)
    assert n == 4_000 and ovf == 0
    # one remove per key consumes ONE copy; every key must still be present
    keys = np.arange(2_000, dtype=np.int64)
    removed = sk.remove_hashes(*hash128_u64(keys))
    assert removed.all()
    assert sk.might_contain_batch(keys).all(), "second copies must survive"
    # the second remove drains the multiset
    removed2 = sk.remove_hashes(*hash128_u64(keys))
    assert removed2.all()


def test_hll_vs_exact_and_spark_builtin(spark, events):
    spec = SketchSpec("hll", {"p": 14})
    sk, n, _ = collect_sketch(events, "user_id", spec)
    exact = events.select(F.countDistinct("user_id").alias("c")).collect()[0].c
    assert abs(sk.estimate() - exact) / exact <= sk.relative_error_bound()
    # cross-check against Spark's own HLL++ (SURVEY.md §4.3)
    builtin = events.select(
        F.approx_count_distinct("user_id", rsd=0.02).alias("c")
    ).collect()[0].c
    assert abs(sk.estimate() - builtin) / exact <= 2 * sk.relative_error_bound()


def test_bloom_cuckoo_distributed_zero_fn(spark, events):
    n_events = events.count()
    for kind in ("bloom", "cuckoo"):
        spec = SketchSpec(kind, {"capacity": n_events * 2, "fpp": 0.01})
        sk, n, ovf = collect_sketch(events, "event_id", spec)
        assert ovf == 0 and n == n_events
        probe = might_contain_udf(spark, sk.to_bytes())
        fn_count = events.filter(~probe(F.col("event_id"))).count()
        assert fn_count == 0, f"{kind}: {fn_count} false negatives"


def test_cms_distributed_frequencies(spark, events):
    spec = SketchSpec("cms", {"epsilon": 0.001, "delta": 0.01})
    sk, n, _ = collect_sketch(events, "event_type", spec)
    exact = {r.event_type: r.c for r in events.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    freq = cms_freq_udf(events.sparkSession, sk.to_bytes())
    got = {
        r.event_type: r.est
        for r in events.select("event_type").distinct().select(
            "event_type", freq(F.col("event_type")).alias("est")
        ).collect()
    }
    for k, exact_c in exact.items():
        assert got[k] >= exact_c
        assert got[k] - exact_c <= sk.error_bound()


def test_tree_merge_multi_stage(spark, events):
    """Force several merge stages (fanin=2 over 16 partitions) and check the
    result is still byte-identical to the single-stage build."""
    spec = SketchSpec("hll", {"p": 12})
    p = build_partials_multi(events.repartition(16), [("user_id", "user_id", spec)])
    merged = tree_merge(p, fanin=2)
    rows = merged.collect()
    acc = None
    for r in rows:
        s = Sketch.from_bytes(r.sketch)
        acc = s if acc is None else acc.merge(s)
    direct, _, _ = collect_sketch(events, "user_id", spec)
    assert acc.to_bytes() == direct.to_bytes()


def test_grouped_sketches_salted(spark, events):
    g = build_grouped(events, "event_type", "user_id", SketchSpec("hll", {"p": 12}), salt=4)
    res = {r.event_type: r for r in g.select("event_type", hll_cardinality()("sketch").alias("est"), "n").collect()}
    exact = {
        r.event_type: (r.d, r.c)
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"), F.count("user_id").alias("c"))
        .collect()
    }
    assert set(res) == set(exact)
    for k, (d, c) in exact.items():
        assert res[k].n == c
        assert abs(res[k].est - d) / d <= 3 * 1.04 / np.sqrt(2**12) + 0.01


def test_grouped_rollup_by_merge(spark, events):
    """The killer property (SURVEY.md §2.3 grouping sets): per-group sketches
    re-merge to the global sketch — rollup is a merge, not a recompute."""
    spec = SketchSpec("hll", {"p": 12})
    g = build_grouped(events, "event_type", "user_id", spec, salt=2)
    blobs = [r.sketch for r in g.select("sketch").collect()]
    acc = Sketch.from_bytes(blobs[0])
    for b in blobs[1:]:
        acc.merge(Sketch.from_bytes(b))
    direct, _, _ = collect_sketch(events, "user_id", spec)
    assert acc.to_bytes() == direct.to_bytes()


def test_quantile_sketches_distributed(spark, lineitem):
    vals = np.array([r.p for r in lineitem.select(F.col("l_extendedprice").alias("p")).collect()])
    srt = np.sort(vals)
    for kind, params in (("kll", {"k": 200}), ("tdigest", {"delta": 200.0})):
        sk, n, _ = collect_sketch(lineitem, "l_extendedprice", SketchSpec(kind, params))
        assert n == len(vals)
        for q in (0.1, 0.5, 0.9):
            rank = np.searchsorted(srt, sk.quantile(q)) / len(srt)
            assert abs(rank - q) <= sk.rank_error_bound(), (kind, q)


@pytest.fixture(params=["default", "-1"], ids=["plain", "sketch"])
def join_regime(request, spark):
    """Both sketch-join regimes: Spark's default autoBroadcastJoinThreshold
    (the small dims below are within it, so the plain broadcast join runs)
    and -1 (no dim is within it, so the fact side is sketch-probed)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param != "default":
        spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, prev)


def test_semijoin_pruning_exact(spark, lineitem, sf_dir, join_regime):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dim = part.filter(F.col("p_size") < 15)
    exact = lineitem.join(dim, lineitem.l_partkey == dim.p_partkey).count()
    pruned = sketch_prune(spark, lineitem, "l_partkey", dim, "p_partkey", fpp=0.01)
    assert pruned.count() >= exact  # FPs only ever let extra rows through
    sj = sketch_semijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
    assert sj.count() == exact  # join removes FPs → exactly equal


def test_antijoin_corpus_delta_exact_and_conservative(spark, join_regime):
    """sketch_antijoin: exact mode equals Spark's own left_anti (incl. null
    fact keys, which are 'new' by SQL anti-join semantics); approximate
    mode is a strict subset that misses only filter false positives; and
    the sbf kind builds the dim filter one-pass without a capacity."""
    from guava_probably_spark.operators import sketch_antijoin

    fact = spark.range(20_000).select(
        F.when(F.col("id") % 997 == 0, None).otherwise(F.col("id")).alias("k")
    )
    dim = spark.range(0, 20_000, 3).select(F.col("id").alias("dk"))  # every 3rd
    truth = set(
        r.k for r in fact.join(dim, fact["k"] == dim["dk"], "left_anti").collect()
    )
    for kind in ("bloom", "sbf"):
        got = set(
            r.k
            for r in sketch_antijoin(
                spark, fact, "k", dim, "dk", kind=kind, fpp=0.01
            ).collect()
        )
        assert got == truth, kind  # exact mode: identical to left_anti
        approx = set(
            r.k
            for r in sketch_antijoin(
                spark, fact, "k", dim, "dk", kind=kind, fpp=0.01, exact=False
            ).collect()
        )
        assert approx <= truth, kind  # conservative: never re-admits a dup
        missed = len(truth - approx)
        assert missed <= max(0.03 * len(truth), 10), (kind, missed)  # ≈fpp
        assert None in approx  # null keys are definitely-new on both paths


def test_sql_registration(spark, events):
    register_sql(spark)
    spec = SketchSpec("hll", {"p": 12})
    g = build_grouped(events, "event_type", "user_id", spec, salt=2)
    g.createOrReplaceTempView("sketches_v")
    rows = spark.sql(
        "SELECT event_type, hll_cardinality(sketch) AS est FROM sketches_v"
    ).collect()
    assert all(r.est > 0 for r in rows)


def test_transcripts_text_equality_invariant(spark, transcripts_path):
    """BASELINE.json:15 per-row invariant: per-turn `text` bit-exact under
    stable (conv_id, turn_idx) ordering after a pipeline pass."""
    import pandas as pd

    from guava_probably_spark.fixtures import make_transcripts

    df = spark.read.parquet(transcripts_path)
    # run a full sketch pass over the text column (build must not mutate input)
    sk, n, _ = collect_sketch(df, "text", SketchSpec("hll", {"p": 12}))
    assert n == df.count()
    back = (
        df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    ref = (
        make_transcripts(10_000, seed=42)[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(back.reset_index(drop=True), ref, check_dtype=False)


def test_transcripts_flagship_distinct_convs(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    sk, _, _ = collect_sketch(df, "conv_id", SketchSpec("hll", {"p": 14}))
    exact = df.select(F.countDistinct("conv_id").alias("c")).collect()[0].c
    assert abs(sk.estimate() - exact) / exact <= sk.relative_error_bound()
    # membership: every conv_id present, zero false negatives
    bloom, _, _ = collect_sketch(
        df, "conv_id", SketchSpec("bloom", {"capacity": exact * 2, "fpp": 0.001})
    )
    probe = might_contain_udf(spark, bloom.to_bytes())
    assert df.filter(~probe(F.col("conv_id"))).count() == 0


def test_grouped_per_conv_turn_counts(spark, transcripts_path):
    """Per-conv CMS counts vs exact turn counts on the skewed fixture."""
    df = spark.read.parquet(transcripts_path)
    spec = SketchSpec("cms", {"epsilon": 0.001, "delta": 0.01})
    sk, n, _ = collect_sketch(df, "conv_id", spec)
    exact = dict(
        df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(20).collect()
    )
    freq = cms_freq_udf(spark, sk.to_bytes())
    hot = spark.createDataFrame([(k,) for k in exact], "conv_id string")
    got = dict(hot.select("conv_id", freq(F.col("conv_id")).alias("f")).collect())
    for k, c in exact.items():
        assert got[k] >= c and got[k] - c <= sk.error_bound()


def test_grouped_hll_high_cardinality(spark, transcripts_path):
    """Vectorized high-cardinality grouped HLL (operators.grouped_hll):
    estimates within bound for every key; group blobs merge byte-identically
    into the direct global blob (rollup-by-merge at blob level)."""
    import numpy as np

    from guava_probably_spark.operators import grouped_hll

    df = spark.read.parquet(transcripts_path)
    est = {
        r.conv_id: r.estimate
        for r in grouped_hll(df, "conv_id", "text", p=12, output="estimate").collect()
    }
    exact = {
        r.conv_id: r.d
        for r in df.groupBy("conv_id").agg(F.countDistinct("text").alias("d")).collect()
    }
    assert set(est) == set(exact)
    bound = 3 * 1.04 / np.sqrt(2**12) + 0.01
    # max(relative, absolute 3): small groups are linear-counting where the
    # error is collision-count-scale, not relative
    assert all(abs(est[k] - v) <= max(bound * v, 3.0) for k, v in exact.items())

    blobs = [r.sketch for r in grouped_hll(df, "conv_id", "text", p=12).collect()]
    acc = Sketch.from_bytes(blobs[0])
    for b in blobs[1:]:
        acc.merge(Sketch.from_bytes(b))
    direct, _, _ = collect_sketch(df, "text", SketchSpec("hll", {"p": 12}))
    assert acc.to_bytes() == direct.to_bytes()


def test_rollup_sketches_by_merge(spark, events):
    """SQL-ROLLUP over a sketch DataFrame: coarser levels are merges of finer
    ones; the global level is byte-equal to a direct global build."""
    from guava_probably_spark.operators import rollup_sketches

    spec = SketchSpec("hll", {"p": 12})
    g = build_grouped(events, "event_type", "user_id", spec, salt=2)
    rolled = rollup_sketches(g, ["event_type"]).collect()
    by_key = {r.event_type: r for r in rolled}
    # finest level preserved
    for r in g.collect():
        assert by_key[r.event_type].sketch == r.sketch
    # global (NULL) level == direct build
    direct, n, _ = collect_sketch(events, "user_id", spec)
    assert bytes(by_key[None].sketch) == direct.to_bytes()
    assert by_key[None].n == n


def test_composite_key_distinct_pairs(spark, sf_dir):
    """functions.composite_key: JSON-struct canonical funnel for multi-column
    sketching; HLL over the pair column tracks exact pair-distinct."""
    import os

    from pyspark.sql import functions as F

    from guava_probably_spark.functions import composite_key
    from guava_probably_spark.operators import collect_sketch
    from guava_probably_spark.sketches import SketchSpec

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    df = events.withColumn("pair", composite_key("user_id", "event_type"))
    # canonical: same tuple -> same string, different tuple -> different string
    assert (
        df.select("pair").distinct().count()
        == events.select("user_id", "event_type").distinct().count()
    )
    sk, _, _ = collect_sketch(df, "pair", SketchSpec("hll", {"p": 14}))
    exact = events.select("user_id", "event_type").distinct().count()
    assert abs(sk.estimate() - exact) / exact <= sk.relative_error_bound() + 0.005


def test_aqe_splits_skewed_join(spark):
    """AQE runtime re-plan (SURVEY.md section 4.2): a pathologically hot join
    key is split by OptimizeSkewedJoin - the executed plan carries skew=true
    and results stay exact. This is the runtime complement to the explicit
    salting in build_grouped."""
    import pandas as pd

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n_hot = 200_000
        fact = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": [7] * n_hot + list(range(100)),
                    "payload": ["x" * 64] * (n_hot + 100),
                }
            )
        )
        dim = spark.createDataFrame(
            pd.DataFrame({"k": list(range(200)), "v": list(range(200))})
        )
        # keep payload in the output so the hot partition's shuffle bytes are
        # what skew detection measures
        joined = fact.join(dim, "k").select("k", "payload")
        cnt = len(joined.collect())  # same QueryExecution -> final adaptive plan
        assert cnt == n_hot + 100  # exact under the split
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Catalyst partition pruning (SURVEY.md section 4.2): a ts-derived filter
    on a hive-partitioned table prunes at the FILE level - the scan reports
    the partition filter and reads only the matching day's files."""
    import pandas as pd

    from pyspark.sql import functions as F

    t0 = pd.Timestamp("2024-05-01")
    n = 72 * 30  # 30 rows per hour across exactly 3 day-partitions
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(n)],
            "ts": [t0 + pd.Timedelta(hours=i % 72) for i in range(n)],
        }
    )
    path = str(tmp_path / "parts")
    (
        spark.createDataFrame(pdf)
        .withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("day") == "2024-05-02")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-05-02" in plan
    assert df.count() == 24 * 30  # exactly one of the three day-partitions


def test_cube_sketches_and_sql_setops(spark, lineitem):
    """cube_sketches: every subset level by blob merge, estimates within
    bound vs exact GROUP BY CUBE; SQL surface: sketch_merge/sketch_intersect
    express retention in pure SQL over a grouped-theta view."""
    import os as _os

    from guava_probably_spark.operators import build_grouped, cube_sketches, grouped_theta

    spec = SketchSpec("hll", {"p": 12})
    keys = ["l_returnflag", "l_linestatus"]
    g = build_grouped(lineitem, keys, "l_orderkey", spec, salt=2)
    cubed = cube_sketches(g, keys)
    est = {
        (r.l_returnflag, r.l_linestatus): Sketch.from_bytes(r.sketch).estimate()
        for r in cubed.collect()
    }
    exact = {
        (r.l_returnflag, r.l_linestatus): r.d
        for r in lineitem.cube(*keys)
        .agg(F.countDistinct("l_orderkey").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)  # all 2^2 levels present
    bound = 3 * 1.04 / (2**12) ** 0.5 + 0.01
    for k, d in exact.items():
        assert abs(est[k] - d) / max(d, 1) <= bound, k
    # SQL set ops over grouped theta (exact below saturation)
    register_sql(spark)
    events = spark.read.parquet(
        _os.path.join(_os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "events.parquet")
    )
    gt = grouped_theta(events, "event_type", "user_id", k=4096)
    gt.createOrReplaceTempView("theta_v")
    rows = spark.sql(
        "SELECT a.event_type AS ta, b.event_type AS tb, "
        "sketch_intersect(a.sketch, b.sketch) AS common "
        "FROM theta_v a JOIN theta_v b ON a.event_type < b.event_type"
    ).collect()
    for r in rows:
        exact_common = (
            events.filter(F.col("event_type") == r.ta)
            .select("user_id")
            .intersect(events.filter(F.col("event_type") == r.tb).select("user_id"))
            .count()
        )
        assert r.common == float(exact_common), (r.ta, r.tb)


def test_hll_fold_sql_mixed_precision_rollup(spark):
    """Mixed-precision rollup through the SQL surface: per-group p=14
    sketches folded to p=12 via hll_fold and merged equal a direct global
    p=12 build BYTE-FOR-BYTE (fold commutes with per-register max, so the
    whole distributed pipeline is exact)."""
    import os as _os

    from guava_probably_spark.operators import build_grouped, collect_sketch

    register_sql(spark)
    events = spark.read.parquet(
        _os.path.join(
            _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
            "events.parquet",
        )
    )
    g = build_grouped(events, "event_type", "user_id", SketchSpec("hll", {"p": 14}))
    g.createOrReplaceTempView("hll14_v")
    folded = spark.sql("SELECT hll_fold(sketch, 12) AS sketch FROM hll14_v").collect()
    acc = None
    for r in folded:
        sk = Sketch.from_bytes(r.sketch)
        acc = sk if acc is None else acc.merge(sk)
    direct, _, _ = collect_sketch(events, "user_id", SketchSpec("hll", {"p": 12}))
    assert acc.to_bytes() == direct.to_bytes()


def test_build_grouped_cuckoo_overflow_raises_loudly(spark):
    """build_grouped's output schema has no overflow column, so a group
    exceeding cuckoo capacity must raise instead of silently dropping
    elements (silent false negatives)."""
    df = spark.createDataFrame(
        [("g", f"v-{i}") for i in range(5_000)], "k string, v string"
    )
    spec = SketchSpec("cuckoo", {"capacity": 500, "fpp": 0.01})
    with pytest.raises(Exception, match="cuckoo capacity overflow"):
        build_grouped(df, "k", "v", spec).collect()


def test_dedup_release_batch_uncaches_parent(spark, tmp_path):
    """release_batch must free the cache dedup_batch_incremental owns —
    unpersist() on the returned projection alone is a no-op because the
    cache lives on the pre-projection plan."""
    from guava_probably_spark.streaming.dedup import (
        dedup_batch_incremental,
        release_batch,
    )

    df = spark.createDataFrame(
        [(i, f"text number {i % 50}") for i in range(200)], "doc_id long, text string"
    )
    out = dedup_batch_incremental(df, str(tmp_path / "state.bloom"))
    parent = out._gps_cached_parent
    assert parent.storageLevel.useMemory  # cached while the caller consumes
    assert out.count() == 50
    release_batch(out)
    assert not parent.storageLevel.useMemory


def test_rolling_merge_weekly_actives_from_daily_sketches(spark, events):
    """7-day rolling distinct users from a DAILY HLL table — the canonical
    mergeable-sketch payoff: no rescan, each window is a <=7-blob merge.
    Checked against exact rolling COUNT(DISTINCT) per window."""
    from guava_probably_spark.operators import rolling_merge

    daily_events = events.withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    daily = build_grouped(
        daily_events, "day", "user_id", SketchSpec("hll", {"p": 14}), salt=2
    )
    rolled = rolling_merge(daily, "day", window=7)
    est = {
        r.day: r.est
        for r in rolled.select(
            "day", hll_cardinality()("window_sketch").alias("est"), "window_n"
        ).collect()
    }
    days = sorted(est)
    rows = daily_events.select("day", "user_id").distinct().collect()
    by_day = {}
    for r in rows:
        by_day.setdefault(r.day, set()).add(r.user_id)
    bound = 3 * 1.04 / (2**14) ** 0.5
    assert len(days) >= 3, "fixture needs multiple days"
    for i, d in enumerate(days):
        exact = len(set().union(*(by_day[x] for x in days[max(0, i - 6) : i + 1])))
        assert abs(est[d] - exact) <= max(bound * exact, 3.0), (d, est[d], exact)
    # window_n sums the raw counts
    n_by_day = {r.day: r.n for r in daily.collect()}
    got_n = {r.day: r.window_n for r in rolled.select("day", "window_n").collect()}
    for i, d in enumerate(days):
        assert got_n[d] == sum(n_by_day[x] for x in days[max(0, i - 6) : i + 1])


def test_rolling_merge_plan_posture(spark):
    """Pins the documented plan shapes (rollup.rolling_merge docstring):
    no partition_cols → ONE Exchange SinglePartition (intended for tiny
    daily sketch tables only); with partition_cols → hash-partitioned
    window, no single-partition exchange."""
    from guava_probably_spark.operators import rolling_merge
    from guava_probably_spark.sketches import SketchSpec

    spec = SketchSpec("hll", {"p": 12})
    rows = [
        ("t1", f"d{i:02d}", spec.create().to_bytes(), 1) for i in range(5)
    ] + [("t2", f"d{i:02d}", spec.create().to_bytes(), 1) for i in range(5)]
    df = spark.createDataFrame(
        rows, "tenant string, day string, sketch binary, n bigint"
    )

    global_plan = rolling_merge(df, "day", window=3)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in global_plan

    part_plan = (
        rolling_merge(df, "day", window=3, partition_cols=["tenant"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in part_plan
    assert "hashpartitioning(tenant" in part_plan


def test_histogram_equidepth_exact_counts_within_rank_bound(spark, lineitem):
    """Bucket counts are EXACT for the sketch-chosen splits (numpy
    recompute on the same boundaries), they sum to n, and each bucket's
    depth is n/bins within the published KLL rank error per edge."""
    from guava_probably_spark.operators.histogram import histogram_equidepth
    from guava_probably_spark.sketches import SketchSpec

    bins = 8
    hist = histogram_equidepth(lineitem, "l_extendedprice", bins=bins).collect()
    vals = np.array(
        [r.v for r in lineitem.select(F.col("l_extendedprice").alias("v")).collect()]
    )
    n = len(vals)
    assert sum(r.rows for r in hist) == n
    splits = [r.lo for r in hist[1:]]
    exact = np.histogram(vals, bins=[-np.inf] + splits + [np.inf])[0]
    assert [r.rows for r in hist] == exact.tolist()  # counts exact per split
    sk = SketchSpec("kll", {"k": 200}).create()
    sk.update(vals)
    eps = sk.rank_error_bound()
    for r in hist:
        assert abs(r.rows - n / bins) <= 2 * eps * n + 1  # equi-depth ± 2ε·n

    # heavy mass on one value: duplicate splits collapse, counts still exact
    const = spark.range(10_000).select(
        F.when(F.col("id") % 10 == 0, F.col("id").cast("double"))
        .otherwise(F.lit(7.0))
        .alias("x")
    )
    h2 = histogram_equidepth(const, "x", bins=6).collect()
    assert sum(r.rows for r in h2) == 10_000
    assert len(h2) <= 6

    # empty input and bins=1 degenerate shapes
    empty = spark.range(0).select(F.col("id").cast("double").alias("x"))
    assert histogram_equidepth(empty, "x", bins=4).count() == 0
    one = histogram_equidepth(lineitem.limit(100), "l_extendedprice", bins=1).collect()
    assert len(one) == 1 and one[0].rows == 100


def test_grouped_mg_topk_brackets_exact_counts(spark, events):
    """The generic grouped builder works for Misra–Gries (per-key top-k
    without enumerating candidates), and mg_topk's [lo, hi] brackets the
    exact per-group frequency of every returned heavy hitter."""
    from guava_probably_spark.functions import mg_topk

    g = build_grouped(events, "event_type", "user_id", SketchSpec("mg", {"k": 64}), salt=4)
    got = {
        r.event_type: r.top
        for r in g.select("event_type", mg_topk(5)("sketch").alias("top")).collect()
    }
    exact = {}
    for r in (
        events.groupBy("event_type", "user_id").agg(F.count("*").alias("c")).collect()
    ):
        exact.setdefault(r.event_type, {})[str(r.user_id)] = r.c
    assert set(got) == set(exact)
    for et, tops in got.items():
        assert 1 <= len(tops) <= 5
        for t in tops:
            f = exact[et][t.item]
            assert t.lo <= f <= t.hi, (et, t.item, f, t.lo, t.hi)
        # descending by lo with deterministic tie-break
        los = [t.lo for t in tops]
        assert los == sorted(los, reverse=True)


def test_histogram_equidepth_grouped_within_rank_bounds(spark):
    """Per-key sketch-derived histograms: every bucket's approximate row
    count is within 2 edge-errors of the exact count on the same edges,
    buckets tile [min, max] per key, and per-key totals match n."""
    from guava_probably_spark.operators.histogram import histogram_equidepth_grouped

    rng = np.random.default_rng(29)
    rows = []
    for src, (mu, sig, m) in {
        "a": (10.0, 2.0, 30_000),
        "b": (100.0, 25.0, 20_000),
        "c": (0.0, 1.0, 5_000),
    }.items():
        rows.extend((src, float(v)) for v in rng.normal(mu, sig, m))
    df = spark.createDataFrame(rows, "src string, v double")
    bins = 8
    hist = histogram_equidepth_grouped(df, "src", "v", bins=bins, k=256).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r.src, []).append(r)
    exact = {}
    for src, v in rows:
        exact.setdefault(src, []).append(v)
    assert set(by_key) == set(exact)
    for src, hrows in by_key.items():
        vals = np.sort(np.array(exact[src]))
        n = len(vals)
        assert sum(r.rows for r in hrows) == pytest.approx(n, abs=2 * hrows[0].rows_error_bound)
        # contiguous edges
        for a, b in zip(hrows, hrows[1:]):
            assert a.hi == b.lo
        for r in hrows:
            exact_in = np.searchsorted(vals, r.hi) - np.searchsorted(vals, r.lo)
            if r.bucket == len(hrows) - 1:
                exact_in = n - np.searchsorted(vals, r.lo)
            assert abs(r.rows - exact_in) <= 2 * r.rows_error_bound + 1, (src, r)


def test_histogram_equidepth_grouped_degenerate_keys(spark):
    """Constant-valued and single-row keys still own their rows — they
    emit one degenerate [v, v] bucket instead of vanishing from the
    profile — and a non-string key column keeps its input type."""
    from guava_probably_spark.operators.histogram import histogram_equidepth_grouped

    rows = (
        [(1, 5.0)] * 1_000 + [(2, 42.0)] + [(3, float(i)) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "src int, v double")
    out = histogram_equidepth_grouped(df, "src", "v", bins=4)
    assert dict(out.dtypes)["src"] == "int"  # key type preserved
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.src, []).append(r)
    assert set(by_key) == {1, 2, 3}  # no key vanishes
    (b1,) = by_key[1]
    assert b1.lo == b1.hi == 5.0 and b1.rows == 1_000
    (b2,) = by_key[2]
    assert b2.lo == b2.hi == 42.0 and b2.rows == 1
    assert sum(r.rows for r in by_key[3]) == pytest.approx(
        100, abs=2 * by_key[3][0].rows_error_bound
    )


def test_sketch_fold_sql_fractional_tdigest_delta(spark):
    """sketch_fold must not truncate a fractional t-digest δ: folding to
    80.5 yields a δ=80.5 digest, not a silently coarser δ=80 one."""
    from guava_probably_spark.sketches.tdigest import TDigestSketch

    register_sql(spark)
    sk = TDigestSketch(200.0)
    sk.update(np.arange(10_000, dtype=np.float64))
    df = spark.createDataFrame([(sk.to_bytes(),)], "sketch binary")
    df.createOrReplaceTempView("td_fold_v")
    blob = spark.sql(
        "SELECT sketch_fold(sketch, 80.5) AS s FROM td_fold_v"
    ).collect()[0].s
    folded = Sketch.from_bytes(blob)
    assert folded.delta == 80.5
    assert folded.n == sk.n
