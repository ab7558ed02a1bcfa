"""Driver contract for the spark-graft builder (PySpark target).

Every query is SELF-CHECKING (FIXTURES.md §5): the Spark side computes the
sketch estimate AND the exact answer AND a boolean `within` (estimate inside
the published error bound); the DuckDB oracle recomputes the exact columns
and asserts `within`/`false_negatives` literals. If an estimate drifts out
of bound, the Spark-side boolean flips and the value-hash comparison fails —
the bound check IS the correctness gate.

Column names/types are aligned between queries() and oracle_sql() (driver
hashes values after sorting columns by name).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from guava_probably_spark.functions import cms_freq_udf, hll_cardinality, might_contain_udf
from guava_probably_spark.pipeline.contract import pipeline_oracle_sql, pipeline_queries
from guava_probably_spark.operators import (
    build_grouped,
    collect_sketch,
    sketch_semijoin,
)
from guava_probably_spark.sketches import Sketch, SketchSpec


# single definition of the table-loading convention (path layout, naming)
from guava_probably_spark.pipeline.contract import _t  # noqa: E402


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship (SURVEY.md §7 minimum slice): distinct-count + membership over
    sf0.001 — HLL estimate vs exact within 1.04/√m·3, bloom probe with zero
    false negatives."""
    sf_dir = "/root/testdata/sf0.001"
    events = _t(spark, sf_dir, "events")
    hll, n, _ = collect_sketch(events, "user_id", SketchSpec("hll", {"p": 14}))
    # max(exact, 1): an empty/all-null table must yield within=False rows,
    # not a ZeroDivisionError on the driver (same guard as _hll_distinct)
    exact = max(
        events.select(F.countDistinct("user_id").alias("c")).collect()[0].c, 1
    )
    bloom, _, _ = collect_sketch(
        events, "event_id", SketchSpec("bloom", {"capacity": max(n, 1), "fpp": 0.01})
    )
    probe = might_contain_udf(spark, bloom.to_bytes())
    fn_count = events.filter(~probe(F.col("event_id"))).count()
    rows = [
        Row(
            metric="hll_distinct_users",
            exact=int(exact),
            estimate=float(hll.estimate()),
            within=bool(abs(hll.estimate() - exact) / exact <= hll.relative_error_bound()),
        ),
        Row(
            metric="bloom_false_negatives",
            exact=0,
            estimate=float(fn_count),
            within=bool(fn_count == 0),
        ),
    ]
    return spark.createDataFrame(rows)


# ---------------------------------------------------------------------------
# query helpers
# ---------------------------------------------------------------------------

def _hll_distinct(table: str, col: str, name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _t(spark, sf_dir, table)
        sk, _, _ = collect_sketch(df, col, SketchSpec("hll", {"p": 14}))
        exact = df.select(F.countDistinct(col).alias("c")).collect()[0].c
        within = abs(sk.estimate() - exact) / max(exact, 1) <= sk.relative_error_bound()
        return spark.createDataFrame(
            [Row(name=name, exact_distinct=int(exact), within=bool(within))]
        )

    return q


def _membership(kind: str, name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = _t(spark, sf_dir, "events")
        n_rows = events.count()
        sk, n, ovf = collect_sketch(
            events, "event_id", SketchSpec(kind, {"capacity": n_rows * 2, "fpp": 0.01})
        )
        probe = might_contain_udf(spark, sk.to_bytes())
        fn_count = events.filter(~probe(F.col("event_id"))).count()
        # guaranteed non-members: ids beyond the max (testdata ids are small)
        max_id = events.select(F.max("event_id").alias("m")).collect()[0].m
        max_id = 0 if max_id is None else max_id  # empty table guard
        non = spark.range(max_id + 1, max_id + 1 + 5000).withColumnRenamed("id", "event_id")
        fp_rate = non.filter(probe(F.col("event_id"))).count() / 5000.0
        sigma = (0.01 * 0.99 / 5000.0) ** 0.5
        return spark.createDataFrame(
            [
                Row(
                    name=name,
                    n_members=int(n_rows),
                    false_negatives=int(fn_count),
                    fp_within=bool(fp_rate <= 0.01 + 3 * sigma and ovf == 0),
                )
            ]
        )

    return q


def _q_cuckoo_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    n_rows = events.count()
    # delete workflow ⇒ multiset build (dedup_build=False): under the
    # set-union default two colliding keys share one stored copy, so
    # removing one would false-negative the other
    sk, _, _ = collect_sketch(
        events,
        "event_id",
        SketchSpec(
            "cuckoo", {"capacity": n_rows * 2, "fpp": 0.01, "dedup_build": False}
        ),
    )
    evens = [r.event_id for r in events.filter(F.col("event_id") % 2 == 0).select("event_id").distinct().collect()]
    odds_df = events.filter(F.col("event_id") % 2 == 1)
    import numpy as np

    from guava_probably_spark.sketches.hashing import hash128_u64

    removed = sk.remove_hashes(*hash128_u64(np.array(evens, dtype=np.int64)))
    probe = might_contain_udf(spark, sk.to_bytes())
    odd_fn = odds_df.filter(~probe(F.col("event_id"))).count()
    return spark.createDataFrame(
        [
            Row(
                name="cuckoo_delete",
                n_removed=int(removed.sum()),
                odd_false_negatives=int(odd_fn),
            )
        ]
    )


def _cms_freq(table: str, col: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _t(spark, sf_dir, table)
        sk, _, _ = collect_sketch(df, col, SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01}))
        freq = cms_freq_udf(spark, sk.to_bytes())
        exact = df.groupBy(col).agg(F.count("*").alias("exact_cnt"))
        bound = sk.error_bound()
        return exact.select(
            F.col(col),
            F.col("exact_cnt"),
            (
                (freq(F.col(col)) >= F.col("exact_cnt"))
                & (freq(F.col(col)) - F.col("exact_cnt") <= F.lit(float(bound)))
            ).alias("within"),
        )

    return q


def _quantiles(kind: str, table: str, col: str, name: str):
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    labels = ["p10", "p25", "p50", "p75", "p90"]

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _t(spark, sf_dir, table)
        params = {"k": 200} if kind == "kll" else {"delta": 200.0}
        sk, n, _ = collect_sketch(df, col, SketchSpec(kind, params))
        ests = [float(sk.quantile(x)) for x in qs]
        # exact rank of each estimate, computed distributed (no sort collect)
        aggs = [
            (F.sum(F.when(F.col(col) < F.lit(v), 1).otherwise(0)) / F.count("*")).alias(f"r{i}")
            for i, v in enumerate(ests)
        ]
        ranks = df.agg(*aggs).collect()[0]
        bound = sk.rank_error_bound()
        rows = [
            Row(q_label=lab, within=bool(abs(ranks[f"r{i}"] - qs[i]) <= bound))
            for i, lab in enumerate(labels)
        ]
        return spark.createDataFrame(rows)

    return q


def _q_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch joins both ways: semi (sketch_semijoin) and anti (corpus delta
    via operators/semijoin.sketch_antijoin, kind='sbf' so a dim past the
    broadcast threshold builds its filter ONE-PASS with no capacity, the
    100-TB incremental-ingest shape). Both are exact, so the counts equal
    the plain JOIN / ANTI JOIN oracles. At the test scale factors the part
    dim is within autoBroadcastJoinThreshold, so both take Spark's
    broadcast join; tests/test_spark_pipeline.py runs the sketch regime."""
    from guava_probably_spark.operators import sketch_antijoin

    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dim = part.filter(F.col("p_size") < 15)
    cnt = sketch_semijoin(spark, lineitem, "l_partkey", dim, "p_partkey", fpp=0.01).count()
    anti = sketch_antijoin(
        spark, lineitem, "l_partkey", dim, "p_partkey", kind="sbf", fpp=0.01
    ).count()
    return spark.createDataFrame(
        [
            Row(name="bloom_semijoin", join_cnt=int(cnt)),
            Row(name="sketch_antijoin", join_cnt=int(anti)),
        ]
    )


def _q_merge_associativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(A∪B)∪C == A∪(B∪C) on 3 splits of events.user_id — blob byte-equality
    for bloom/hll/cms/theta/sbf/dd/bottomk (bottomk additionally: every
    witness decodes to a real user_id and the estimate is in bound);
    bound/zero-FN preservation for cuckoo/kll/tdigest;
    exact count/Frobenius additivity + certified spectral bound for fd
    (Frequent Directions over embeddings, Ghashami et al. mergeability)."""
    import numpy as np

    events = _t(spark, sf_dir, "events")
    splits = [events.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)]
    n_rows = events.count()
    eid = np.array([r.event_id for r in events.select("event_id").collect()], dtype=np.int64)
    specs = {
        "bloom": SketchSpec("bloom", {"capacity": n_rows, "fpp": 0.01}),
        "cuckoo": SketchSpec("cuckoo", {"capacity": n_rows * 2, "fpp": 0.01}),
        "hll": SketchSpec("hll", {"p": 12}),
        "cms": SketchSpec("cms", {"epsilon": 0.001, "delta": 0.01}),
        "kll": SketchSpec("kll", {"k": 200}),
        "tdigest": SketchSpec("tdigest", {"delta": 200.0}),
        "mg": SketchSpec("mg", {"k": 32}),
        "theta": SketchSpec("theta", {"k": 256}),
        # scalable bloom: canonical stage-SET union ⇒ blob byte-equality
        # across bracketings (sketches/sbf.py), same class as bloom/hll/cms
        "sbf": SketchSpec("sbf", {"initial_capacity": 1024, "fpp": 0.01}),
        # ddsketch: bucket-count addition is exact ⇒ byte-equality while no
        # collapse fires (max_bins default spans >10^17 dynamic range)
        "dd": SketchSpec("dd", {"alpha": 0.01}),
        # req: randomized relative compactors (Cormode et al. PODS 2021) —
        # bytes are merge-order-sensitive like kll/tdigest; both
        # bracketings must stay within the uniform view of the bound
        "req": SketchSpec("req", {"k": 32}),
        # bottom-k value sample: canonical retained set ⇒ blob byte-equality
        # across bracketings, PLUS every witness must decode to a real key
        # and the (k-1)/θ estimate must sit within 3/√(k-1)
        "bottomk": SketchSpec("bottomk", {"k": 1024}),
        # countsketch: elementwise signed-counter addition is exact ⇒ blob
        # byte-equality (the HLL/CMS class), PLUS the unbiased-estimator
        # guarantees must hold on the merged sketch: every per-user point
        # estimate within √(3·F2/w) and the AMS F2 (self-join size)
        # estimate within √(6/w)·F2 of the exact Σc² (Charikar et al. 2002;
        # Thorup–Zhang 2004)
        "countsketch": SketchSpec("countsketch", {"width": 4096, "depth": 5}),
        # tuple (theta + per-distinct-key integer summaries): canonical
        # retained set + exact integer sums ⇒ blob byte-equality across
        # bracketings, PLUS the Horvitz–Thompson guarantees on the merged
        # sketch: the distinct estimate within theta's 3/√(k−1) band and
        # the distinct-key row-total (weights=1 ⇒ per-key multiplicities)
        # within the Cohen–Kaplan plug-in standard error of the true count
        "tuple": SketchSpec("tuple", {"k": 1024}),
        # quotient filter (sketches/qf.py, Bender et al. PVLDB 2012): the
        # canonical bit-packed table is a pure function of the fingerprint
        # set, so merges are byte-associative — the bloom/hll/cms class,
        # from the third classic filter family (and, unlike bloom, deletable)
        "qf": SketchSpec("qf", {"capacity": 20000, "fpp": 0.01}),
        # varopt (sketches/varopt.py, Cohen et al. SODA 2009): variance-
        # optimal weighted sample; merge-order-sensitive (the kll class)
        # but BOTH bracketings must satisfy the exact invariants — sample
        # size k, Σ est_weight == row count exactly (unit weights), every
        # witness a real key
        "varopt": SketchSpec("varopt", {"k": 256}),
    }
    exact_users = {
        r.user_id: r.c
        for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    rows = []
    for kind, spec in specs.items():
        if kind in ("kll", "tdigest", "dd", "req"):
            col = "value"
        elif kind == "cuckoo":
            col = "event_id"  # unique keys: >2b duplicate fingerprints overflow
        else:
            col = "user_id"
        a, b, c = (collect_sketch(s, col, spec)[0] for s in splits)
        left = a.copy().merge(b.copy()).merge(c.copy())
        right = a.copy().merge(b.copy().merge(c.copy()))
        if kind in ("bloom", "hll", "cms", "theta", "sbf", "dd", "qf"):
            ok = left.to_bytes() == right.to_bytes()
        elif kind == "bottomk":
            nd = len(exact_users)
            ok = (
                left.to_bytes() == right.to_bytes()
                and abs(left.estimate() - nd) <= left.relative_error_bound() * nd
                and all(u in exact_users for u in left.sample())
            )
        elif kind == "tuple":
            nd = len(exact_users)
            total_rows = sum(exact_users.values())
            ok = (
                left.to_bytes() == right.to_bytes()
                and abs(left.estimate() - nd) <= left.relative_error_bound() * nd
                and abs(left.sum_estimate() - total_rows) <= left.sum_error_estimate()
            )
        elif kind == "countsketch":
            users = list(exact_users)
            true_c = np.array([exact_users[u] for u in users], dtype=np.int64)
            f2_exact = int((true_c.astype(object) ** 2).sum())
            est = left.estimate(users)
            ok = (
                left.to_bytes() == right.to_bytes()
                and np.abs(est - true_c).max() <= left.error_bound()
                and abs(left.f2() - f2_exact) <= left.f2_bound() * f2_exact
            )
        elif kind == "varopt":
            total_rows = sum(exact_users.values())
            ok = True
            for sk in (left, right):
                got = sk.sample()
                ok = (
                    ok
                    and sk.size == 256
                    and abs(sk.total_estimate() - total_rows) <= 1e-6 * total_rows
                    # rows are the items (unit weights), so a hot user_id
                    # may legitimately witness more than once
                    and all(u in exact_users for u, _ in got)
                )
        elif kind == "mg":
            # counters are merge-order-sensitive; the bracketing bound is not
            ok = all(
                sk.e <= sk.n / (32 + 1)
                and all(v <= exact_users[u] <= v + sk.e for u, v in sk.counters.items())
                for sk in (left, right)
            )
        elif kind == "cuckoo":
            ok = bool(
                left.might_contain_batch(eid).all() and right.might_contain_batch(eid).all()
            )
        else:
            vals = np.array(
                [r.value for r in events.select("value").collect()], dtype=np.float64
            )
            srt = np.sort(vals)
            qs = np.array([0.25, 0.5, 0.75])
            ok = True
            for sk in (left, right):
                ranks = np.searchsorted(srt, sk.quantile(qs)) / len(srt)
                ok = ok and bool((np.abs(ranks - qs) <= sk.rank_error_bound()).all())
        rows.append(Row(kind=kind, ok=bool(ok)))
    # fd: matrix sketch over the embeddings table. Bracketings may differ in
    # bytes (row order inside B); the MERGEABILITY guarantee is what must hold
    # for both: exact n/frob additivity and 0 ⪯ AᵀA − BᵀB ⪯ shift·I.
    emb = _t(spark, sf_dir, "embeddings")
    fd_spec = SketchSpec("fd", {"ell": 16})
    esplits = [emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i) for i in range(3)]
    fa, fb, fc = (collect_sketch(s, "embedding", fd_spec)[0] for s in esplits)
    fleft = fa.copy().merge(fb.copy()).merge(fc.copy())
    fright = fa.copy().merge(fb.copy().merge(fc.copy()))
    x = np.asarray(
        [r.embedding for r in emb.select("embedding").collect()], dtype=np.float64
    )
    frob = float((x * x).sum())
    gram = x.T @ x
    ok = True
    for sk in (fleft, fright):
        ok = ok and sk.size == len(x)
        ok = ok and abs(sk.frob - frob) <= 1e-6 * max(frob, 1.0)
        ok = ok and sk.shift <= 2.0 * sk.frob / sk.ell + 1e-9
        eig = np.linalg.eigvalsh(gram - sk.gram())
        tol = 1e-6 * max(frob, 1.0)
        ok = ok and float(eig[0]) >= -tol and float(eig[-1]) <= sk.shift + tol
    rows.append(Row(kind="fd", ok=bool(ok)))
    # fold: cross-parameter folds through the SQL sketch_fold surface
    # (functions.register_sql) — the mixed-parameter sketch-table merge
    # story. Byte-identity classes checked end-to-end: HLL p14→p10 and
    # theta k512→k64 folded IN SQL equal direct builds at the coarse
    # parameter; CMS w4096→w1024 folded IN SQL equals the local reshape-sum
    # fold AND commutes with merge byte-for-byte (counts are linear); DD
    # fold(m=2) commutes with merge byte-for-byte (no collapse on this
    # data — the collapses counter is asserted 0).
    import math

    from guava_probably_spark.functions import register_sql

    register_sql(spark)
    hll14, _, _ = collect_sketch(events, "user_id", SketchSpec("hll", {"p": 14}))
    hll10, _, _ = collect_sketch(events, "user_id", SketchSpec("hll", {"p": 10}))
    th512, _, _ = collect_sketch(events, "user_id", SketchSpec("theta", {"k": 512}))
    th64, _, _ = collect_sketch(events, "user_id", SketchSpec("theta", {"k": 64}))
    cms_eps = math.e / 4096 * (1 + 1e-9)  # w = exactly 4096 (all 2^k folds reachable)
    cms_spec = SketchSpec("cms", {"epsilon": cms_eps, "delta": 0.01})
    cms_full, _, _ = collect_sketch(events, "user_id", cms_spec)
    cms_a, cms_b = (collect_sketch(s, "user_id", cms_spec)[0] for s in splits[:2])
    spark.createDataFrame(
        [
            Row(fkind="hll", sketch=hll14.to_bytes(), param=10),
            Row(fkind="theta", sketch=th512.to_bytes(), param=64),
            Row(fkind="cms", sketch=cms_full.to_bytes(), param=4),
        ]
    ).createOrReplaceTempView("fold_assoc_v")
    folded = {
        r.fkind: bytes(r.f)
        for r in spark.sql(
            "SELECT fkind, sketch_fold(sketch, param) AS f FROM fold_assoc_v"
        ).collect()
    }
    dd_a, dd_b = (collect_sketch(s, "value", specs["dd"])[0] for s in splits[:2])
    dd_whole = dd_a.copy().merge(dd_b.copy()).fold_to(2)
    dd_parts = dd_a.fold_to(2).merge(dd_b.fold_to(2))
    # qf: fp >> delta — fold commutes with merge byte-for-byte, and the
    # SQL sketch_fold dispatch produces the identical blob
    qf_a, qf_b = (collect_sketch(s, "user_id", specs["qf"])[0] for s in splits[:2])
    qf_r2 = qf_a.rbits - 2
    spark.createDataFrame(
        [Row(sketch=qf_a.to_bytes(), param=qf_r2)]
    ).createOrReplaceTempView("fold_qf_v")
    qf_sql_folded = bytes(
        spark.sql("SELECT sketch_fold(sketch, param) AS f FROM fold_qf_v").collect()[0].f
    )
    qf_fold_ok = (
        qf_sql_folded == qf_a.fold_to(qf_r2).to_bytes()
        and qf_a.copy().merge(qf_b.copy()).fold_to(qf_r2).to_bytes()
        == qf_a.fold_to(qf_r2).merge(qf_b.fold_to(qf_r2)).to_bytes()
    )
    fold_ok = (
        qf_fold_ok
        and
        folded["hll"] == hll10.to_bytes()
        and folded["theta"] == th64.to_bytes()
        and folded["cms"] == cms_full.fold_to(4).to_bytes()
        and cms_a.copy().merge(cms_b.copy()).fold_to(4).to_bytes()
        == cms_a.fold_to(4).merge(cms_b.fold_to(4)).to_bytes()
        and dd_whole.collapses == 0
        and dd_whole.to_bytes() == dd_parts.to_bytes()
    )
    rows.append(Row(kind="fold", ok=bool(fold_ok)))
    # shll (sliding-window HLL, sketches/shll.py): canonical Pareto-frontier
    # state ⇒ blob byte-equality across bracketings AND vs the whole build
    # (the bloom/hll/cms class, despite variable-length state), through the
    # two-column weighted build (timestamps ride the weight slot). PLUS the
    # windowed guarantee on the merged sketch: distinct estimate over the
    # trailing half-range within 3·1.04/√m of the exact windowed count, and
    # the full-window registers byte-equal a plain HLL of the same elements.
    from guava_probably_spark.operators import collect_weighted_sketch
    from guava_probably_spark.sketches import SlidingHllSketch  # noqa: F401

    ev_ts = events.withColumn("ts_epoch", F.col("ts").cast("timestamp").cast("long"))
    s_splits = [
        ev_ts.filter(F.pmod(F.col("event_id"), F.lit(3)) == i) for i in range(3)
    ]
    shll_spec = SketchSpec("shll", {"p": 12})
    sa, sb, sc = (
        collect_weighted_sketch(s, "user_id", "ts_epoch", shll_spec)[0]
        for s in s_splits
    )
    s_whole = collect_weighted_sketch(ev_ts, "user_id", "ts_epoch", shll_spec)[0]
    s_left = sa.copy().merge(sb.copy()).merge(sc.copy())
    s_right = sa.copy().merge(sb.copy().merge(sc.copy()))
    lo, hi = (
        ev_ts.agg(F.min("ts_epoch"), F.max("ts_epoch")).collect()[0]
    )
    half = (hi - lo) // 2
    exact_half = (
        ev_ts.filter(F.col("ts_epoch") >= hi - half)
        .select("user_id")
        .distinct()
        .count()
    )
    est_half = s_left.estimate_window(half)
    hll_full, _, _ = collect_sketch(events, "user_id", SketchSpec("hll", {"p": 12}))
    shll_ok = (
        s_left.to_bytes() == s_right.to_bytes() == s_whole.to_bytes()
        and s_left.to_hll().to_bytes() == hll_full.to_bytes()
        and abs(est_half - exact_half)
        <= max(s_left.relative_error_bound() * exact_half, 3.0)
    )
    rows.append(Row(kind="shll", ok=bool(shll_ok)))
    return spark.createDataFrame(rows)


def _q_grouped_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    g = build_grouped(events, "event_type", "user_id", SketchSpec("hll", {"p": 14}))
    est = g.select("event_type", hll_cardinality()("sketch").alias("est"))
    exact = events.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_distinct"))
    bound = 3 * 1.04 / (2 ** 14) ** 0.5 + 0.005
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.greatest(F.col("exact_distinct"), F.lit(1))
                <= F.lit(bound)
            ).alias("within"),
        )
    )



def _q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-by-merge (SURVEY.md §2.3 grouping sets): the global sketch is
    the MERGE of the per-group sketches, not a recompute — verified by blob
    byte-equality against the direct global build."""
    events = _t(spark, sf_dir, "events")
    spec = SketchSpec("hll", {"p": 14})
    g = build_grouped(events, "event_type", "user_id", spec)
    rows = g.select("event_type", "sketch").collect()
    acc = None
    for r in rows:
        sk = Sketch.from_bytes(r.sketch)
        acc = sk if acc is None else acc.merge(sk)
    direct, _, _ = collect_sketch(events, "user_id", spec)
    rollup_exact = acc.to_bytes() == direct.to_bytes()
    bound = direct.relative_error_bound()
    exact = {
        r.event_type: r.d
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    exact["ALL"] = events.select(F.countDistinct("user_id").alias("d")).collect()[0].d
    per_group = {r.event_type: Sketch.from_bytes(r.sketch) for r in rows}
    per_group["ALL"] = acc
    out = [
        Row(
            level=k,
            exact_distinct=int(exact[k]),
            within=bool(
                abs(per_group[k].estimate() - exact[k]) / max(exact[k], 1)
                <= bound + 0.005
                and rollup_exact
            ),
        )
        for k in sorted(exact)
    ]
    return spark.createDataFrame(out)


def _q_expected_fpp_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expectedFpp within the configured bound across the FPP grid
    (BASELINE.md row 3) for the three filter kinds (bloom, cuckoo, quotient
    filter), built distributed — plus the
    remaining ProbabilisticFilter contract ops (SURVEY §2.1 rows 6/12/15/16:
    containsAll, clear, copy, equals/hashCode) exercised on the
    distributed-built filters so every reference operator has a driver row."""
    events = _t(spark, sf_dir, "events")
    n = events.count()
    rows = []
    built = {}
    for kind in ("bloom", "cuckoo", "qf"):
        for fpp in (0.03, 0.01, 0.001):
            sk, _, ovf = collect_sketch(
                events, "event_id", SketchSpec(kind, {"capacity": n, "fpp": fpp})
            )
            built[(kind, fpp)] = sk
            ok = ovf == 0 and sk.expected_fpp() <= fpp * 1.6
            rows.append(Row(name=f"{kind}_{fpp}", within=bool(ok)))
    ids = [r.event_id for r in events.select("event_id").limit(500).collect()]
    for kind in ("bloom", "cuckoo", "qf"):
        sk = built[(kind, 0.01)]
        contains_all = bool(all(sk.might_contain_batch(_np_ids(ids))))
        cp = sk.copy()
        equals_ok = cp == sk and cp is not sk and cp.to_bytes() == sk.to_bytes()
        cp.clear()
        clear_ok = cp.is_empty() and not cp.might_contain_batch(_np_ids(ids)).any()
        unchanged = sk.might_contain_batch(_np_ids(ids)).all()  # clear() on the COPY
        rows.append(Row(name=f"{kind}_contains_all", within=bool(contains_all)))
        rows.append(Row(name=f"{kind}_copy_equals", within=bool(equals_ok)))
        rows.append(
            Row(name=f"{kind}_clear", within=bool(clear_ok and unchanged))
        )
    return spark.createDataFrame(rows)


def _np_ids(ids):
    import numpy as np

    return np.array(ids, dtype=np.int64)


def _q_kll_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank queries: KLL rank(v) vs exact fraction below v (distributed)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    sk, total, _ = collect_sketch(
        lineitem, "l_extendedprice", SketchSpec("kll", {"k": 200})
    )
    probes = [float(sk.quantile(q)) for q in (0.2, 0.5, 0.8)]
    import numpy as np

    est_ranks = sk.rank(np.array(probes))
    aggs = [
        (F.sum(F.when(F.col("l_extendedprice") < F.lit(v), 1).otherwise(0)) / F.count("*")).alias(f"r{i}")
        for i, v in enumerate(probes)
    ]
    exact = lineitem.agg(*aggs).collect()[0]
    bound = sk.rank_error_bound()
    rows = [
        Row(probe=f"q{int(q*100)}", within=bool(abs(est_ranks[i] - exact[f"r{i}"]) <= bound))
        for i, q in enumerate((0.2, 0.5, 0.8))
    ]
    return spark.createDataFrame(rows)



def _q_grouped_hll_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized high-cardinality grouped HLL (operators.grouped_hll): one
    sketch per l_partkey (~20k groups at sf0.01), all estimates within
    bound vs exact distinct l_orderkey per part — through BOTH hash paths:
    'murmur' (Python murmur3 after the key exchange) and 'prehash' (JVM-side xxhash64,
    the wide-value fast path; FUNNEL_PREHASHED register domain, same
    1.04/√m bound)."""
    from guava_probably_spark.operators import grouped_hll

    lineitem = _t(spark, sf_dir, "lineitem")
    exact = lineitem.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("d")
    )
    # small-cardinality groups sit in the linear-counting regime where the
    # error is collision-driven (Poisson n²/2m ≈ a few counts), not the
    # 1.04/√m relative bound — allow max(relative bound, absolute slack 3)
    bound = 3 * 1.04 / (2 ** 12) ** 0.5 + 0.01
    outs = []
    for path in ("murmur", "prehash"):
        est = grouped_hll(
            lineitem, "l_partkey", "l_orderkey", p=12, output="estimate",
            prehash=(path == "prehash"),
        )
        joined = exact.join(est, "l_partkey").select(
            (
                F.abs(F.col("estimate") - F.col("d"))
                <= F.greatest(F.lit(bound) * F.col("d"), F.lit(3.0))
            ).alias("ok")
        )
        outs.append(
            joined.agg(
                F.lit(path).alias("path"),
                F.count("*").alias("n_groups"),
                F.min(F.col("ok").cast("int")).cast("boolean").alias("all_within"),
            )
        )
    return outs[0].unionByName(outs[1])


def _q_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-ROLLUP over sketches (operators.rollup_sketches): finest level
    scanned once, every coarser level produced by merging blobs; estimates
    at every level within the HLL bound vs exact (oracle: GROUP BY ROLLUP)."""
    from guava_probably_spark.operators import rollup_sketches

    lineitem = _t(spark, sf_dir, "lineitem")
    spec = SketchSpec("hll", {"p": 14})
    keys = ["l_returnflag", "l_linestatus"]
    g = build_grouped(lineitem, keys, "l_orderkey", spec)
    rolled = rollup_sketches(g, keys)
    bound = 3 * 1.04 / (2 ** 14) ** 0.5 + 0.005
    est = rolled.select(
        *keys, hll_cardinality()("sketch").alias("est")
    )
    exact = lineitem.rollup(*keys).agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    return (
        exact.join(est, [exact[k].eqNullSafe(est[k]) for k in keys])
        .select(
            exact["l_returnflag"],
            exact["l_linestatus"],
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.greatest(F.col("exact_distinct"), F.lit(1))
                <= F.lit(bound)
            ).alias("within"),
        )
    )


def _q_cube_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-CUBE over sketches (operators.cube_sketches): all 2^k subset
    levels from ONE finest-level scan, coarser levels by blob merge;
    estimates within bound at every level (oracle: GROUP BY CUBE)."""
    from guava_probably_spark.operators import cube_sketches

    lineitem = _t(spark, sf_dir, "lineitem")
    spec = SketchSpec("hll", {"p": 14})
    keys = ["l_returnflag", "l_linestatus"]
    g = build_grouped(lineitem, keys, "l_orderkey", spec)
    cubed = cube_sketches(g, keys)
    est = cubed.select(*keys, hll_cardinality()("sketch").alias("est"))
    exact = lineitem.cube(*keys).agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    bound = 3 * 1.04 / (2 ** 14) ** 0.5 + 0.005
    return (
        exact.join(est, [exact[k].eqNullSafe(est[k]) for k in keys])
        .select(
            exact["l_returnflag"],
            exact["l_linestatus"],
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.greatest(F.col("exact_distinct"), F.lit(1))
                <= F.lit(bound)
            ).alias("within"),
        )
    )


def _q_grouped_kll_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group medians from BOTH grouped quantile-sketch families
    (operators/grouped_kll: one stable sort per partition + segment-loop
    updates — no applyInPandas): 'kll' rows rank-check the estimate
    against the published rank-error bound; 'dd' rows (grouped_dd —
    relative-error DDSketch per key) check the VALUE guarantee: some
    actual value within α of the estimate must have a rank interval
    containing 0.5, i.e. rank(est/(1+α)) ≤ 0.5 ≤ rank≤(est/(1−α)) —
    both checks fully distributed (conditional aggregates, no sort)."""
    from guava_probably_spark.functions import quantile_udf
    from guava_probably_spark.operators import grouped_dd, grouped_kll

    events = _t(spark, sf_dir, "events")
    g = grouped_kll(events, "event_type", "value", k=200).withColumnRenamed(
        "key", "event_type"
    )
    med = g.select("event_type", quantile_udf(0.5)("sketch").alias("med"))
    bound = 3 * 1.33 / 200
    kll_rows = (
        events.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.when(F.col("value") < F.col("med"), 1).otherwise(0))
                / F.count("*")
            ).alias("rank_of_med")
        )
        .select(
            "event_type",
            F.lit("kll").alias("kind"),
            (F.abs(F.col("rank_of_med") - F.lit(0.5)) <= F.lit(bound)).alias("within"),
        )
    )
    alpha = 0.01
    gd = grouped_dd(events, "event_type", "value", alpha=alpha).withColumnRenamed(
        "key", "event_type"
    )
    dmed = gd.select("event_type", quantile_udf(0.5)("sketch").alias("med"))
    # window endpoints in value space; min/max handles negative estimates
    lo = F.least(F.col("med") / (1 + alpha), F.col("med") / (1 - alpha))
    hi = F.greatest(F.col("med") / (1 + alpha), F.col("med") / (1 - alpha))
    dd_rows = (
        events.join(dmed, "event_type")
        .groupBy("event_type")
        .agg(
            (F.sum(F.when(F.col("value") < lo, 1).otherwise(0)) / F.count("*")).alias("r_lo"),
            (F.sum(F.when(F.col("value") <= hi, 1).otherwise(0)) / F.count("*")).alias("r_hi"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.lit("dd").alias("kind"),
            (
                (F.col("r_lo") <= 0.5 + 1.5 / F.col("n"))
                & (F.col("r_hi") >= 0.5 - 1.5 / F.col("n"))
            ).alias("within"),
        )
    )
    return kll_rows.unionByName(dd_rows)


def _q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-prefix running distinct (operators/window.py): per-user running
    count of distinct event_types ordered by ts — exact column matches the
    oracle's windowed count(DISTINCT), HLL prefix estimate within bound."""
    from guava_probably_spark.operators import running_distinct

    events = _t(spark, sf_dir, "events")
    out = running_distinct(
        events, "user_id", "ts", "event_type", p=12, carry=["event_id"]
    )
    bound = 3 * 1.04 / (2 ** 12) ** 0.5
    return out.select(
        "user_id",
        "event_id",
        "run_distinct",
        (
            F.abs(F.col("estimate") - F.col("run_distinct"))
            <= F.greatest(F.lit(bound) * F.col("run_distinct"), F.lit(3.0))
        ).alias("within"),
    )


def _q_hll_window_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window sketch aggregation: daily HLL(user_id) windows over
    events.ts via the grouped build — the batch twin of the streaming
    windowed sketches (streaming/), oracle-checked per window. The second
    UNION branch ('roll7') rolls a 7-row sliding merge over the daily
    sketch table via operators/rollup.rolling_merge — 7-day actives with NO
    rescan of raw events (the mergeable-sketch payoff) — oracle-checked
    against an exact windowed COUNT(DISTINCT)."""
    from pyspark.sql import Window
    from guava_probably_spark.operators import rolling_merge

    events = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    g = build_grouped(events, "day", "user_id", SketchSpec("hll", {"p": 14}))
    est = g.select("day", hll_cardinality()("sketch").alias("est"))
    exact = events.groupBy("day").agg(F.countDistinct("user_id").alias("exact_distinct"))
    bound = 3 * 1.04 / (2 ** 14) ** 0.5

    def within(df):
        return df.select(
            "kind",
            "day",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= F.greatest(F.lit(bound) * F.col("exact_distinct"), F.lit(3.0))
            ).alias("within"),
        )

    daily = within(
        exact.join(est, "day").withColumn("kind", F.lit("daily"))
    )

    # roll7: merge the last 7 daily blobs per day (global window over the
    # ~30-row daily table — the documented single-partition posture of
    # rolling_merge without partition_cols; blobs only, never raw rows)
    rolled = rolling_merge(g.select("day", "sketch", "n"), "day", window=7)
    est7 = rolled.select(
        "day", hll_cardinality()("window_sketch").alias("est")
    )
    du = events.select("day", "user_id").distinct()
    days = (
        du.select("day")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("day")))
    )
    a = days.select(F.col("day").alias("aday"), F.col("rn").alias("arn"))
    b = days.select(F.col("day").alias("bday"), F.col("rn").alias("brn"))
    win7 = a.join(
        b,
        (F.col("brn") >= F.col("arn") - 6) & (F.col("brn") <= F.col("arn")),
    )
    exact7 = (
        win7.join(du, F.col("bday") == F.col("day"))
        .groupBy("aday")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .withColumnRenamed("aday", "day")
    )
    roll = within(
        exact7.join(est7, "day").withColumn("kind", F.lit("roll7"))
    )

    # sliding: ONE SlidingHllSketch blob (sketches/shll.py — timestamped
    # register frontiers) answers EVERY trailing window after the fact —
    # w1/w7/w30 actives from the same one-pass build, where daily+roll7
    # fix the window grid at build time. Timestamps ride the weight slot
    # of the generic two-column build; exactness of the comparison is
    # timezone-shift-invariant (cutoff = max_ts − W in the same epoch map).
    from guava_probably_spark.operators import collect_weighted_sketch

    ev_ts = events.withColumn("ts_epoch", F.col("ts").cast("timestamp").cast("long"))
    shll, _, _ = collect_weighted_sketch(
        ev_ts, "user_id", "ts_epoch", SketchSpec("shll", {"p": 14})
    )
    srows = []
    for wdays in (1, 7, 30):
        w = wdays * 86400
        exact_w = (
            ev_ts.filter(F.col("ts_epoch") >= shll.max_ts - w)
            .select("user_id")
            .distinct()
            .count()
        )
        est_w = shll.estimate_window(w)
        srows.append(
            Row(
                kind="sliding",
                day=f"w{wdays}",
                exact_distinct=int(exact_w),
                within=bool(abs(est_w - exact_w) <= max(bound * exact_w, 3.0)),
            )
        )
    sliding = spark.createDataFrame(srows).select(
        "kind", "day", F.col("exact_distinct").cast("long"), "within"
    )
    return daily.unionByName(roll).unionByName(sliding)


def _q_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-operation estimates (union by register max — the sketch
    merge; intersection by inclusion-exclusion) across two disjoint event
    splits, vs exact UNION/INTERSECT cardinalities."""
    events = _t(spark, sf_dir, "events")
    halves = [events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i) for i in range(2)]
    spec = SketchSpec("hll", {"p": 14})
    a, b = (collect_sketch(h, "user_id", spec)[0] for h in halves)
    exact_union = events.select(F.countDistinct("user_id").alias("c")).collect()[0].c
    exact_int = (
        halves[0]
        .select("user_id")
        .intersect(halves[1].select("user_id"))
        .count()
    )
    rel = 3 * 1.04 / (2 ** 14) ** 0.5
    u_est = a.union_estimate(b)
    i_est = a.intersect_estimate(b)
    # intersection error compounds across the three estimates it's built from
    i_slack = rel * (a.estimate() + b.estimate() + u_est) + 3.0
    rows = [
        Row(
            op="intersect",
            exact=int(exact_int),
            within=bool(abs(i_est - exact_int) <= i_slack),
        ),
        Row(
            op="union",
            exact=int(exact_union),
            within=bool(
                abs(u_est - exact_union) <= max(rel * exact_union, 3.0)
            ),
        ),
    ]
    return spark.createDataFrame(rows)


def _q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped mode (operators/grouped_mode.py): each user's most
    frequent event_type, ties to the smallest value — vectorized run-length
    kernel, oracle reproduces the tie-break with min() over the max-count
    set."""
    from guava_probably_spark.operators import grouped_mode

    events = _t(spark, sf_dir, "events")
    return grouped_mode(events, "user_id", "event_type")


def _q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact high-cardinality grouped quantiles (operators/grouped_quantiles):
    one lexsort pass answers every quantile for every key — nearest-rank
    convention matches DuckDB quantile_disc exactly."""
    from guava_probably_spark.operators import grouped_quantiles

    lineitem = _t(spark, sf_dir, "lineitem")
    return grouped_quantiles(
        lineitem, "l_partkey", "l_extendedprice", qs=(0.25, 0.5, 0.75)
    )


def _q_quantile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier trim (operators/grouped_quantiles.quantile_trim):
    drop documents longer than their source's p90 — threshold pass via the
    exact lexsort kernel, then a broadcast-join codegen filter."""
    from guava_probably_spark.operators.grouped_quantiles import quantile_trim

    docs = _t(spark, sf_dir, "documents")
    return quantile_trim(docs, "source", "n_chars", 0.9).select("doc_id")


def _q_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped theta retention (operators/grouped_theta.py): one KMV sketch
    per day (vectorized across all days in one pass), then day-over-day user
    retention = intersect_estimate between sketch ROWS — exact below
    saturation, so the oracle computes the same numbers with INTERSECT."""
    from guava_probably_spark.operators import grouped_theta

    events = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    g = grouped_theta(events, "day", "user_id", k=16384)
    sk = {r.day: Sketch.from_bytes(r.sketch) for r in g.collect()}
    days = sorted(sk)[:4]
    rows = [
        Row(
            day_pair=f"{a}..{b}",
            retained_users=int(round(sk[a].intersect_estimate(sk[b]))),
        )
        for a, b in zip(days, days[1:])
    ]
    return spark.createDataFrame(rows)


def _q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/sessionize.py): inactivity-gap session
    ids from pure built-in window expressions (lag + cumsum, whole-stage
    codegen) — the Catalyst twin of the streaming session operator. Exact,
    so the oracle runs the same formulation in DuckDB."""
    from guava_probably_spark.operators import sessionize

    events = _t(spark, sf_dir, "events")
    s = sessionize(events, "user_id", "ts", gap="12 hours")
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (streaming.session_sketch_stream): per-conv
    inactivity-gap sessions closed by event-time timeout; emitted rows carry
    the session sketch — exact at this cardinality, so the oracle is a
    literal table."""
    import tempfile

    import pandas as pd

    from guava_probably_spark.streaming import session_sketch_stream

    base = tempfile.mkdtemp(prefix="gps_sessions_")
    t0 = pd.Timestamp("2024-03-01 10:00:00")

    def mk(rows, path):
        pdf = pd.DataFrame(rows, columns=["conv_id", "ts", "tool"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)

    mk(
        [
            ("A", t0, "bash"),
            ("A", t0 + pd.Timedelta(minutes=2), "edit"),
            ("A", t0 + pd.Timedelta(minutes=4), "bash"),
            ("B", t0 + pd.Timedelta(minutes=1), "grep"),
        ],
        base + "/staged/b1",
    )
    mk([("C", t0 + pd.Timedelta(hours=10), "x")], base + "/staged/b2")
    mk([("C", t0 + pd.Timedelta(hours=11), "y")], base + "/staged/b3")
    incoming = base + "/incoming"
    os.makedirs(incoming)
    stream = spark.readStream.schema(
        "conv_id string, ts timestamp, tool string"
    ).parquet(incoming)
    out = session_sketch_stream(
        stream, "conv_id", "ts", "tool", SketchSpec("hll", {"p": 10}),
        gap="10 minutes", watermark="1 minute",
    )
    import glob as _glob
    import shutil as _shutil

    q = (
        out.writeStream.format("memory")
        .queryName("gps_sessions_q")
        .outputMode("append")
        .option("checkpointLocation", base + "/ck")
        .start()
    )
    try:
        for b in ("b1", "b2", "b3"):
            for f in _glob.glob(f"{base}/staged/{b}/part-*.parquet"):
                _shutil.copy(f, incoming + f"/{b}.parquet")
            q.processAllAvailable()
        rows = spark.sql("SELECT * FROM gps_sessions_q").collect()
    finally:
        q.stop()
    out_rows = [
        Row(
            conv_id=r.conv_id,
            n_turns=int(r.n),
            distinct_tools=int(round(Sketch.from_bytes(bytes(r.sketch)).estimate())),
            session_minutes=int(
                (r.session_end - r.session_start).total_seconds() // 60
            ),
        )
        for r in sorted(rows, key=lambda r: r.conv_id)
    ]
    return spark.createDataFrame(out_rows)


def _q_arrow_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row payload-integrity invariant (BASELINE.json input_hint: per-turn
    text equality): documents pass through the same JVM→Python Arrow boundary
    every sketch kernel uses (mapInArrow round-trip) and come back BIT-EXACT —
    proven by md5 parity with the oracle reading the parquet directly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def ident(batches):
        yield from batches

    rt = docs.mapInArrow(ident, "doc_id bigint, text string")
    return rt.select("doc_id", F.md5(F.col("text")).alias("text_md5"))


def _q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-size estimation (Cormode–Muthukrishnan §4.2):
    |lineitem ⋈ σ(part)| from two CMS blobs — no shuffle, no join executed.
    One-sided overestimate, est − true ≤ ε·N_A·N_B w.p. ≥ 1−δ."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 15)
    spec = SketchSpec("cms", {"epsilon": 5e-5, "delta": 0.01})
    a, _, _ = collect_sketch(lineitem, "l_partkey", spec)
    b, _, _ = collect_sketch(part, "p_partkey", spec)
    est = a.inner_product(b)
    bound = a.inner_product_bound(b)
    exact = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey).count()
    )
    return spark.createDataFrame(
        [
            Row(
                name="cms_join_size",
                exact_join=int(exact),
                within=bool(exact <= est <= exact + bound),
            )
        ]
    )


def _q_hll_composite_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite multi-column funnel (functions.composite_key): distinct
    (user_id, event_type) PAIRS sketched as one canonical JSON-struct string
    — codegen'd JVM-side, no custom funnel plumbing."""
    from guava_probably_spark.functions import composite_key

    events = _t(spark, sf_dir, "events").withColumn(
        "pair", composite_key("user_id", "event_type")
    )
    sk, _, _ = collect_sketch(events, "pair", SketchSpec("hll", {"p": 14}))
    exact = (
        events.select("user_id", "event_type").distinct().count()
    )
    within = abs(sk.estimate() - exact) / max(exact, 1) <= sk.relative_error_bound() + 0.005
    return spark.createDataFrame(
        [Row(name="hll_composite_pairs", exact_distinct=int(exact), within=bool(within))]
    )


def _q_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV set operations (sketches/theta.py): union, intersection AND
    difference estimated directly on the retained hash sample — bounded error
    (vs HLL's unbounded inclusion–exclusion intersection). Below saturation
    (distinct ≤ k) every estimate is EXACT, so the oracle checks equality."""
    events = _t(spark, sf_dir, "events")
    halves = [events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i) for i in range(2)]
    spec = SketchSpec("theta", {"k": 16384})
    a, b = (collect_sketch(h, "user_id", spec)[0] for h in halves)
    ests = {
        "diff_a_minus_b": a.difference_estimate(b),
        "intersect": a.intersect_estimate(b),
        "union": a.union_estimate(b),
    }
    rows = [
        Row(op=op, estimate=int(round(v)), within=bool(a.theta == 1.0 and b.theta == 1.0))
        for op, v in sorted(ests.items())
    ]
    return spark.createDataFrame(rows)



def _q_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located sketch-store merge (operators/store.py): two half-tables
    written bucketed by key merge with ZERO Exchange operators in the plan
    (asserted); merged counts are exact and merged HLL estimates within
    bound — the shuffle was paid once at write time."""
    import tempfile

    from guava_probably_spark.operators import (
        merge_sketch_tables,
        write_bucketed_sketches,
    )

    events = _t(spark, sf_dir, "events")
    halves = [events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i) for i in range(2)]
    spec = SketchSpec("hll", {"p": 14})
    base = tempfile.mkdtemp(prefix="gps_bucketed_")
    for i, h in enumerate(halves):
        g = build_grouped(h, "event_type", "user_id", spec)
        spark.sql(f"DROP TABLE IF EXISTS gps_sketch_half_{i}")
        write_bucketed_sketches(
            g, f"gps_sketch_half_{i}", "event_type", buckets=4, path=f"{base}/h{i}"
        )
    merged = merge_sketch_tables(spark, "gps_sketch_half_0", "gps_sketch_half_1", "event_type")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    no_exchange = "Exchange" not in plan
    est = merged.select(
        "event_type", "n", hll_cardinality()("sketch").alias("est")
    )
    exact = events.groupBy("event_type").agg(
        F.count("*").alias("n_rows"), F.countDistinct("user_id").alias("exact_distinct")
    )
    bound = 3 * 1.04 / (2 ** 14) ** 0.5
    out = exact.join(est, "event_type").select(
        "event_type",
        "n_rows",
        "exact_distinct",
        (
            (F.col("n") == F.col("n_rows"))
            & F.lit(no_exchange)
            & (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= F.greatest(F.lit(bound) * F.col("exact_distinct"), F.lit(3.0))
            )
        ).alias("within"),
    )
    rows = out.collect()  # materialize before dropping the tables
    for i in range(2):
        spark.sql(f"DROP TABLE IF EXISTS gps_sketch_half_{i}")
    return spark.createDataFrame(rows)



# ---------------------------------------------------------------------------
# grid queries: several operators per driver row budget (the driver records
# at most 50 correctness rows — round-1 left 17 registered queries untested;
# these unions keep EVERY operator behind a green row at exactly 50 queries)
# ---------------------------------------------------------------------------

def _q_hll_distinct_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global HLL distinct over three (table, column) funnels — long keys,
    string keys, and long document texts — each within 3·1.04/√m of exact;
    plus the ONE-SCAN table profiler (operators/profile.py) over four
    events columns, where `within` bundles the profile's whole claim set:
    distinct in bound, n/nulls exact, numeric min/max/mean exact + median
    rank in the KLL band, top-1 heavy hitter bracketed by MG."""
    parts = [
        _hll_distinct("events", "user_id", "hll_events_distinct_users")(spark, sf_dir),
        _hll_distinct("lineitem", "l_partkey", "hll_lineitem_distinct_parts")(spark, sf_dir),
        _hll_distinct("documents", "text", "hll_documents_distinct_texts")(spark, sf_dir),
        _profile_rows(spark, sf_dir),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _profile_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiler branch of hll_distinct_grid — same (name, exact_distinct,
    within) schema, one row per profiled events column."""
    import numpy as np

    from guava_probably_spark.operators import profile_summary

    events = _t(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "value", "ts"]
    prof = {r.column: r for r in profile_summary(events, columns=cols).collect()}
    exact = events.agg(
        F.count("*").alias("n"),
        *[F.countDistinct(c).alias(f"d_{c}") for c in cols],
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.avg("value").alias("mean"),
    ).collect()[0]
    rows = []
    for c in cols:
        r = prof[c]
        d = exact[f"d_{c}"]
        ok = (
            r.n == exact.n
            and r.nulls == 0
            and abs(r.distinct_est - d) <= r.distinct_rel_err * d
        )
        if c == "value":
            ok = (
                ok
                and r.vmin == exact.vmin
                and r.vmax == exact.vmax
                and abs(r.mean - exact.mean) <= 1e-9 * abs(exact.mean)
            )
            vals = np.sort(
                np.array(
                    [x.value for x in events.select("value").collect()],
                    dtype=np.float64,
                )
            )
            rank = np.searchsorted(vals, r.q50) / len(vals)
            ok = ok and abs(rank - 0.5) <= 3 * 1.7 / 200 + 0.01
        if c == "event_type":
            top_exact = (
                events.groupBy("event_type").count().orderBy(F.desc("count")).first()
            )
            t = r.top_items[0]
            ok = (
                ok
                and t.item == top_exact.event_type
                and t.lo <= top_exact["count"] <= t.hi
            )
        rows.append(
            Row(name=f"profile_events_{c}", exact_distinct=int(d), within=bool(ok))
        )
    return spark.createDataFrame(rows)


def _q_membership_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter membership across kinds and funnels: bloom(events), cuckoo
    (events), quotient filter (events — sketches/qf.py, Bender et al. 2012,
    the third filter family: canonical bit-packed table, byte-associative
    merges), frozen sharded XOR filters (events — the static serving-side
    compaction, operators/freeze.py), scalable bloom (events — the
    unknown-capacity one-pass build, distributed partial merge = canonical
    stage-set union), cuckoo over long UTF-8 document texts — zero false
    negatives everywhere, FP rate within bound where probed."""
    a = _membership("bloom", "bloom_events_membership")(spark, sf_dir)
    b = _membership("cuckoo", "cuckoo_events_membership")(spark, sf_dir)
    qf = _membership("qf", "qf_events_membership")(spark, sf_dir)
    xr = _xor_frozen_membership_row(spark, sf_dir)
    s = _sbf_membership_row(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    sk, _, ovf = collect_sketch(
        docs, "text", SketchSpec("cuckoo", {"capacity": n * 2, "fpp": 0.01})
    )
    probe = might_contain_udf(spark, sk.to_bytes())
    fn_count = docs.filter(~probe(F.col("text"))).count()
    c = spark.createDataFrame(
        [
            Row(
                name="documents_text_membership",
                n_members=int(n),
                false_negatives=int(fn_count + ovf),
                fp_within=True,
            )
        ]
    )
    return (
        a.unionByName(b)
        .unionByName(qf)
        .unionByName(xr)
        .unionByName(s)
        .unionByName(c)
        .unionByName(_xormap_lookup_row(spark, sf_dir))
    )


def _xormap_lookup_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen XOR static map (sketches/xormap.py) through
    operators/freeze.py frozen_lookup_join (at driver scale the blob table
    is within the broadcast threshold, so the broadcast-UDF plan; the
    shard join past it): every frozen part key must return its
    exact value (false_negatives counts misses AND wrong values — both
    must be 0; the map is exact for members), strangers resolve NULL
    except the 2^-f fingerprint tail."""
    from guava_probably_spark.operators import freeze_map, frozen_lookup_join

    part = _t(spark, sf_dir, "part")
    shards = 8
    dim = part.select("p_partkey", (F.col("p_partkey") % 97).alias("v"))
    frozen = freeze_map(dim, "p_partkey", "v", fbits=8, vbits=7, shards=shards)
    looked = frozen_lookup_join(part, "p_partkey", frozen, shards, out_col="lv")
    bad = looked.filter(
        F.col("lv").isNull() | (F.col("lv") != F.col("p_partkey") % 97)
    ).count()
    n = part.count()
    maxk = part.agg(F.max("p_partkey").alias("m")).collect()[0].m or 0
    strangers = spark.range(maxk + 1, maxk + 1 + 5000).withColumnRenamed(
        "id", "p_partkey"
    )
    hits = (
        frozen_lookup_join(strangers, "p_partkey", frozen, shards, out_col="lv")
        .filter(F.col("lv").isNotNull())
        .count()
    )
    bound = 2.0**-8
    sigma = (bound * (1.0 - bound) / 5000.0) ** 0.5
    return spark.createDataFrame(
        [
            Row(
                name="xormap_frozen_lookup",
                n_members=int(n),
                false_negatives=int(bad),
                fp_within=bool(hits / 5000.0 <= bound + 4 * sigma),
            )
        ]
    )


def _xor_frozen_membership_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen (serving-side) membership: sharded XOR-filter freeze of
    events.event_id (operators/freeze.py — keys hash JVM-side, each
    shard's filter solved executor-side, no key list on the driver), then
    the probe path over the broadcast blob table: zero false negatives
    over every member, non-member FP rate within the exact 2^-f bound
    (sketches/xorf.py, Graf & Lemire 2020)."""
    from guava_probably_spark.operators import freeze_filter, frozen_probe_udf

    events = _t(spark, sf_dir, "events")
    n_rows = events.count()
    shards = 16
    frozen = freeze_filter(events, "event_id", fbits=8, shards=shards)
    probe = frozen_probe_udf(spark, frozen, shards)
    fn_count = events.filter(~probe(F.xxhash64(F.col("event_id")))).count()
    max_id = events.select(F.max("event_id").alias("m")).collect()[0].m
    max_id = 0 if max_id is None else max_id
    non = spark.range(max_id + 1, max_id + 1 + 5000).withColumnRenamed("id", "event_id")
    fp_rate = non.filter(probe(F.xxhash64(F.col("event_id")))).count() / 5000.0
    bound = 2.0**-8
    sigma = (bound * (1.0 - bound) / 5000.0) ** 0.5
    return spark.createDataFrame(
        [
            Row(
                name="xor_frozen_membership",
                n_members=int(n_rows),
                false_negatives=int(fn_count),
                fp_within=bool(fp_rate <= bound + 3 * sigma),
            )
        ]
    )


def _sbf_membership_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable-bloom membership (sketches/sbf.py, Almeida et al. 2007):
    build one-pass with NO capacity hint over events.event_id (initial
    stage deliberately tiny so the growth schedule actually fires), merge
    distributed partials (stage-set union), probe every member (zero FN is
    the SBF contract) and 5k guaranteed non-members against the compound
    stage bound Σ stage_fpp."""
    events = _t(spark, sf_dir, "events")
    n_rows = events.count()
    sk, n, _ = collect_sketch(
        events, "event_id", SketchSpec("sbf", {"initial_capacity": 512, "fpp": 0.02})
    )
    sk = sk.compact()
    probe = might_contain_udf(spark, sk.to_bytes())
    fn_count = events.filter(~probe(F.col("event_id"))).count()
    max_id = events.select(F.max("event_id").alias("m")).collect()[0].m
    max_id = 0 if max_id is None else max_id
    non = spark.range(max_id + 1, max_id + 1 + 5000).withColumnRenamed("id", "event_id")
    fp_rate = non.filter(probe(F.col("event_id"))).count() / 5000.0
    bound = sum(st.fpp for st in sk.stages) if sk.stages else 0.02
    sigma = (bound * (1.0 - bound) / 5000.0) ** 0.5
    return spark.createDataFrame(
        [
            Row(
                name="sbf_events_membership",
                n_members=int(n_rows),
                false_negatives=int(fn_count),
                fp_within=bool(fp_rate <= bound + 3 * sigma),
            )
        ]
    )


def _q_frequency_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point-frequency bracketing (exact ≤ est ≤ exact + εN) over two
    tables/funnels; the exact_cnt column doubles as the exact-path check.
    Also carries the blob-only drift monitors (mg_share_drift / sketch_ks,
    functions/__init__.py) with EXACT-integer oracles, the weighted
    quantile builds (KLL/t-digest ``update(weights=)``) checked against
    the exact weighted CDF, and the hashed-feature logreg quality scores
    (pipeline/classifier.py) as pinned fixed-point BIGINTs."""
    e = _cms_freq("events", "event_type")(spark, sf_dir).select(
        F.lit("cms_events_type").alias("name"),
        F.col("event_type").cast("string").alias("item"),
        "exact_cnt",
        "within",
    )
    l = _cms_freq("lineitem", "l_returnflag")(spark, sf_dir).select(
        F.lit("cms_lineitem_returnflag").alias("name"),
        F.col("l_returnflag").cast("string").alias("item"),
        "exact_cnt",
        "within",
    )
    return (
        e.unionByName(l)
        .unionByName(_grouped_cms_rows(spark, sf_dir))
        .unionByName(_drift_rows(spark, sf_dir))
        .unionByName(_weighted_quantile_rows(spark, sf_dir))
        .unionByName(_logreg_rows(spark, sf_dir))
    )


def _drift_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-only drift monitors, hard-checked with exact integers.

    mg_share_drift: events split by user_id parity, MG(k=64) on event_type
    per half — k exceeds the type cardinality so both sketches are EXACT
    (e = 0) and every certified bracket collapses to the true share delta
    |c_a/n_a − c_b/n_b|; exact_cnt pins floor(lo · 2^20), which the oracle
    recomputes from exact group counts with the same IEEE double ops.

    sketch_ks (through the registered SQL surface): two rows whose KS
    distance is an exact integer REGARDLESS of sketch compaction —
    identical blobs (d = 0 exactly) and disjoint supports (rank is exactly
    1 beyond a sketch's max and exactly 0 below its min, so d = 1
    exactly)."""
    from guava_probably_spark.functions import mg_share_drift, register_sql

    events = _t(spark, sf_dir, "events")
    a, _, _ = collect_sketch(
        events.filter(F.col("user_id") % 2 == 0),
        "event_type",
        SketchSpec("mg", {"k": 64}),
    )
    b, _, _ = collect_sketch(
        events.filter(F.col("user_id") % 2 == 1),
        "event_type",
        SketchSpec("mg", {"k": 64}),
    )
    exact = a.e == 0 and b.e == 0
    rows = [
        Row(
            name="mg_share_drift_events",
            item=str(item),
            exact_cnt=int(math.floor(lo * 1048576.0)),
            within=bool(exact and lo == hi),
        )
        for item, lo, hi in mg_share_drift(a, b)
    ]
    ka, _, _ = collect_sketch(events, "value", SketchSpec("kll", {"k": 200}))
    kc, _, _ = collect_sketch(
        events.select((F.col("value") + F.lit(1e9)).alias("value")),
        "value",
        SketchSpec("kll", {"k": 200}),
    )
    register_sql(spark)
    blob_a, blob_c = bytearray(ka.to_bytes()), bytearray(kc.to_bytes())
    spark.createDataFrame(
        [("identical", blob_a, blob_a), ("disjoint", blob_a, blob_c)],
        "item string, a binary, b binary",
    ).createOrReplaceTempView("gp_ks_drift")
    for r in spark.sql("SELECT item, sketch_ks(a, b) AS d FROM gp_ks_drift").collect():
        rows.append(
            Row(
                name="ks_events_value",
                item=r.item,
                exact_cnt=int(math.floor(r.d * 1048576.0)),
                within=bool(r.d == (0.0 if r.item == "identical" else 1.0)),
            )
        )
    return spark.createDataFrame(rows)


def _weighted_quantile_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantile builds (``update(weights=)``, sketches/kll.py +
    tdigest.py) over lineitem price weighted by quantity.  exact_cnt =
    floor(exact weighted quantile), where "exact" is the smallest price
    with cumulative weight ≥ q·W — the weighted-CDF recompute the DuckDB
    oracle repeats verbatim (l_quantity is integer-valued, so double sums
    are exact and order-free on both engines).  within = the sketch
    estimate's exact weighted rank inside the published band."""
    from pyspark.sql import Window

    from guava_probably_spark.operators import collect_weighted_sketch

    li = _t(spark, sf_dir, "lineitem")
    tw = float(li.agg(F.sum("l_quantity")).collect()[0][0])
    win = Window.orderBy("l_extendedprice").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = li.select(
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(win).alias("cw"),
    )
    qs = [0.25, 0.5, 0.75]
    exact_q = {
        q: float(
            cum.filter(F.col("cw") >= F.lit(q * tw)).agg(F.min("v")).collect()[0][0]
        )
        for q in qs
    }
    rows = []
    for kind, params, tag in (
        ("kll", {"k": 200}, "kll"),
        ("tdigest", {"delta": 200.0}, "td"),
    ):
        sk, _, _ = collect_weighted_sketch(
            li, "l_extendedprice", "l_quantity", SketchSpec(kind, params)
        )
        ests = {q: float(sk.quantile(q)) for q in qs}
        aggs = []
        for i, q in enumerate(qs):
            v = ests[q]
            aggs.append(
                (
                    F.sum(
                        F.when(F.col("l_extendedprice") < F.lit(v), F.col("l_quantity")).otherwise(0.0)
                    )
                    / F.lit(tw)
                ).alias(f"lo{i}")
            )
            aggs.append(
                (
                    F.sum(
                        F.when(F.col("l_extendedprice") <= F.lit(v), F.col("l_quantity")).otherwise(0.0)
                    )
                    / F.lit(tw)
                ).alias(f"hi{i}")
            )
        band = li.agg(*aggs).collect()[0]
        eps = sk.rank_error_bound() if hasattr(sk, "rank_error_bound") else 0.02
        for i, q in enumerate(qs):
            err = max(0.0, band[f"lo{i}"] - q, q - band[f"hi{i}"])
            rows.append(
                Row(
                    name="weighted_quantile_lineitem",
                    item=f"{tag}_p{int(q * 100)}",
                    exact_cnt=int(math.floor(exact_q[q])),
                    within=bool(err <= eps + 0.01),
                )
            )
    return spark.createDataFrame(rows)


def _logreg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature logistic-regression quality classifier
    (pipeline/classifier.py): deterministic fit (GD from w = 0, fixed
    iters/lr, no randomness) on documents labeled by a deterministic rule
    (text contains the token 'spark' — perfectly separable from the
    L1-normalized hashed bag-of-words features, so the convergence
    certificate is sharp; the testdata's metadata columns are uncorrelated
    with its synthetic vocabulary), then per-doc scores for
    doc_id < 10 pinned as floor(score·2^12) BIGINTs.  2^12 (not 2^20)
    because the gradient fold is partition-order float-associative to
    ~1e-9 — 12 fixed bits keep a sharp value check with ~4e-6 flip margin
    at a boundary.  The oracle pins the expected fixed-point literals
    (sf0.01 is the only compare scale)."""
    from guava_probably_spark.pipeline.classifier import quality_classifier_scores

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.col("text").contains("spark").cast("int").alias("label"),
    )
    scored, _, info = quality_classifier_scores(
        docs, "doc_id", "text", "label", dim=1 << 16, iters=30, lr=2.0
    )
    hist = info["history"]
    # the model must actually have learned (beat the coin) and the loss
    # must be monotone down — the convergence certificate for fixed-lr GD
    # on this convex objective
    ok = hist[-1]["accuracy"] > 0.6 and all(
        hist[i + 1]["loss"] <= hist[i]["loss"] + 1e-12 for i in range(len(hist) - 1)
    )
    rows = [
        Row(
            name="logreg_quality_score",
            item=str(r.id),
            exact_cnt=int(math.floor(r.score * 4096.0)),
            within=bool(ok),
        )
        for r in scored.filter(F.col("id") < 10).collect()
    ]
    return spark.createDataFrame(rows)


def _grouped_cms_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized grouped CMS (operators/grouped_cms): per-event_type CMS
    over user_id. exact_cnt = the operator's per-key row total (oracle:
    count(user_id) per type, exact). within = (a) the per-key sketches
    MERGE to a blob byte-identical to the directly-built global CMS
    (counts are additive, so grouped→merge must reproduce the one-shot
    build bit-for-bit) and (b) each key's min-user frequency brackets
    within exact ≤ est ≤ exact + εN."""
    from guava_probably_spark.operators import grouped_cms

    events = _t(spark, sf_dir, "events")
    eps, delta = 0.001, 0.01
    g = sorted(
        grouped_cms(events, "event_type", "user_id", eps, delta).collect(),
        key=lambda r: r.key,
    )
    glob, _, _ = collect_sketch(
        events, "user_id", SketchSpec("cms", {"epsilon": eps, "delta": delta})
    )
    acc = None
    per_key = {}
    for r in g:
        per_key[r.key] = (Sketch.from_bytes(r.sketch), r.n)
        # merge() mutates the accumulator — decode a fresh copy so the
        # per-key sketches used for probing below stay un-merged
        sk = Sketch.from_bytes(r.sketch)
        acc = sk if acc is None else acc.merge(sk)
    ident = acc is not None and acc.to_bytes() == glob.to_bytes()
    mins = (
        events.groupBy("event_type")
        .agg(F.min("user_id").alias("u"))
        .withColumnRenamed("event_type", "met")
    )
    probe_exact = {
        r.met: (r.u, r.c)
        for r in events.join(
            mins,
            (events.event_type == mins.met) & (events.user_id == mins.u),
        )
        .groupBy("met", "u")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    rows = []
    for key, (sk, n) in per_key.items():
        u, exact = probe_exact[key]
        est = int(sk.estimate(_np_ids([u]))[0])
        ok = ident and exact <= est <= exact + sk.error_bound()
        rows.append(
            Row(name="grouped_cms_user_freq", item=str(key), exact_cnt=int(n), within=bool(ok))
        )
    return spark.createDataFrame(rows)


def _q_quantile_rank_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketches in all three guarantee flavors: KLL + t-digest
    quantile() estimates rank-checked against exact, KLL rank() probes,
    and DDSketch quantile() estimates VALUE-checked within the published
    relative-error α (Masson et al. VLDB 2019 — the heavy-tail guarantee
    the rank-error sketches can't give; sketches/dd.py)."""
    k = _quantiles("kll", "lineitem", "l_extendedprice", "kll")(spark, sf_dir).select(
        F.lit("kll_lineitem_price").alias("name"), "q_label", "within"
    )
    t = _quantiles("tdigest", "events", "value", "td")(spark, sf_dir).select(
        F.lit("tdigest_events_value").alias("name"), "q_label", "within"
    )
    r = _q_kll_rank(spark, sf_dir).select(
        F.lit("kll_rank_lineitem").alias("name"),
        F.col("probe").alias("q_label"),
        "within",
    )
    d = _q_dd_relative(spark, sf_dir).select(
        F.lit("dd_lineitem_price").alias("name"), "q_label", "within"
    )
    rq = _q_req_relative(spark, sf_dir).select(
        F.lit("req_lineitem_price").alias("name"), "q_label", "within"
    )
    h = _histogram_rows(spark, sf_dir)
    return (
        k.unionByName(t)
        .unionByName(r)
        .unionByName(d)
        .unionByName(rq)
        .unionByName(h)
    )


def _q_req_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REQ high-rank-accuracy rows (sketches/req.py — Cormode, Karnin,
    Liberty, Thaler, Veselý, PODS 2021): quantile estimates at the extreme
    upper ranks, each checked with the RELATIVE bound
    |R(v̂) − q| ≤ ε·(1−q+1/n) — error proportional to the distance from
    the top, the guarantee class the uniform-band rank sketches (KLL,
    t-digest) cannot give. Tie-aware: the error is the distance to the
    estimate's rank interval [P(x<v̂), P(x≤v̂)], computed distributed."""
    df = _t(spark, sf_dir, "lineitem")
    sk, n, _ = collect_sketch(df, "l_extendedprice", SketchSpec("req", {"k": 32}))
    qs = [0.5, 0.9, 0.99, 0.999]
    labels = ["p50", "p90", "p99", "p999"]
    ests = [float(sk.quantile(x)) for x in qs]
    aggs = []
    for i, v in enumerate(ests):
        aggs.append(
            (F.sum(F.when(F.col("l_extendedprice") < F.lit(v), 1).otherwise(0)) / F.count("*")).alias(f"lo{i}")
        )
        aggs.append(
            (F.sum(F.when(F.col("l_extendedprice") <= F.lit(v), 1).otherwise(0)) / F.count("*")).alias(f"hi{i}")
        )
    row = df.agg(*aggs).collect()[0]
    eps = sk.relative_rank_error_bound()
    rows = []
    for i, (q, lab) in enumerate(zip(qs, labels)):
        err = max(0.0, row[f"lo{i}"] - q, q - row[f"hi{i}"])
        rows.append(
            Row(q_label=lab, within=bool(err <= eps * (1.0 - q + 1.0 / max(n, 1))))
        )
    return spark.createDataFrame(rows)


def _histogram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram contracts (operators/histogram.py), global and
    grouped:

    - global over lineitem.l_extendedprice: bucket counts are EXACT for
      the sketch-chosen splits (independent one-pass conditional-agg
      recount), sum to n, and each bucket's depth is n/bins within the
      published KLL rank error per edge (2·ε·n + 1);
    - grouped over documents (source, n_chars), straight from grouped-KLL
      blobs: every key appears, per-key totals and per-bucket counts land
      within the operator's OWN rows_error_bound (the explicit error
      column the curate_job profile ships).
    """
    import numpy as np

    from guava_probably_spark.operators.histogram import (
        histogram_equidepth,
        histogram_equidepth_grouped,
    )

    bins = 8
    li = _t(spark, sf_dir, "lineitem")
    hist = histogram_equidepth(li, "l_extendedprice", bins=bins).collect()
    vals = li.select(F.col("l_extendedprice").cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    n = vals.count()
    splits = [r.lo for r in hist[1:]]
    conds = []
    for b in range(len(hist)):
        c = F.lit(True)
        if b > 0:
            c = c & (F.col("v") >= splits[b - 1])
        if b < len(splits):
            c = c & (F.col("v") < splits[b])
        conds.append(F.sum(c.cast("long")).alias(f"c{b}"))
    recount = vals.agg(*conds).collect()[0]
    counts_exact = all(int(recount[f"c{b}"]) == hist[b].rows for b in range(len(hist)))
    total_exact = sum(r.rows for r in hist) == n
    # eps from a same-spec local build (rank_error_bound needs the built
    # sketch; n values at sf0.01 are a sub-MB collect — gate-only code)
    sk = SketchSpec("kll", {"k": 200}).create()
    sk.update(np.array([r.v for r in vals.collect()], dtype=np.float64))
    eps = sk.rank_error_bound()
    depth_within = all(abs(r.rows - n / bins) <= 2 * eps * n + 1 for r in hist)

    docs = _t(spark, sf_dir, "documents")
    ghist = histogram_equidepth_grouped(docs, "source", "n_chars", bins=4).collect()
    by_key: dict = {}
    for r in ghist:
        by_key.setdefault(r.source, []).append(r)
    exact: dict = {}
    for r in docs.select("source", F.col("n_chars").cast("double").alias("v")).collect():
        exact.setdefault(r.source, []).append(r.v)
    keys_complete = set(by_key) == set(exact)
    buckets_within = True
    totals_within = True
    for src, hrows in by_key.items():
        va = np.sort(np.array(exact[src], dtype=np.float64))
        nk = len(va)
        err = hrows[0].rows_error_bound
        totals_within = totals_within and abs(sum(r.rows for r in hrows) - nk) <= 2 * err
        for r in hrows:
            exact_in = int(np.searchsorted(va, r.hi) - np.searchsorted(va, r.lo))
            if r.bucket == len(hrows) - 1:
                exact_in = int(nk - np.searchsorted(va, r.lo))
            buckets_within = buckets_within and abs(r.rows - exact_in) <= 2 * r.rows_error_bound + 1
    pca = _pca_project_rows(spark, sf_dir)
    return spark.createDataFrame(
        [
            *pca,
            Row(name="histogram_lineitem_price", q_label="counts_exact", within=bool(counts_exact)),
            Row(name="histogram_lineitem_price", q_label="total_exact", within=bool(total_exact)),
            Row(name="histogram_lineitem_price", q_label="depth_within", within=bool(depth_within)),
            Row(name="histogram_docs_by_source", q_label="keys_complete", within=bool(keys_complete)),
            Row(name="histogram_docs_by_source", q_label="buckets_within", within=bool(buckets_within)),
            Row(name="histogram_docs_by_source", q_label="totals_within", within=bool(totals_within)),
        ]
    )


def _q_dd_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch value-relative accuracy: each quantile estimate is within
    α·|true value| of the exact quantile (computed distributed via Spark's
    exact percentile aggregate — no sort collect)."""
    alpha = 0.01
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    labels = ["p10", "p25", "p50", "p75", "p90", "p99"]
    df = _t(spark, sf_dir, "lineitem")
    sk, n, _ = collect_sketch(df, "l_extendedprice", SketchSpec("dd", {"alpha": alpha}))
    ests = [float(v) for v in sk.quantile(qs)]
    # the guarantee is vs an ACTUAL value at rank ⌊q·(n−1)⌋ — Spark's
    # percentile() interpolates, but percentile at k/(n−1) lands on the
    # exact k-th order statistic, so deinterpolate the probe points
    qf = [math.floor(q * (n - 1)) / (n - 1) for q in qs]
    exact = df.agg(
        F.expr(
            "percentile(l_extendedprice, array(" + ",".join(map(repr, qf)) + "))"
        ).alias("p")
    ).collect()[0].p
    rows = [
        Row(
            q_label=lab,
            within=bool(abs(est - float(ex)) <= alpha * abs(float(ex)) * 1.001),
        )
        for lab, est, ex in zip(labels, ests, exact)
    ]
    # collapses as its OWN row (ADVICE r3): a max_bins collapse voids the
    # α bound for the clamped low tail — reporting it separately makes a
    # collapse failure distinguishable from a bound violation in triage
    rows.append(Row(q_label="collapses_zero", within=bool(sk.collapses == 0)))
    return spark.createDataFrame(rows)


def _pca_project_rows(spark: SparkSession, sf_dir: str) -> list:
    """FD → top_directions → pca_project (pipeline/similarity.py), the
    dimensionality-reduction front of the ANN stack, on the real embeddings
    table:

    - 'distributed_matches_local': the mapInArrow blocked matmul equals the
      local numpy projection on every vector (the distributed path is the
      thing under test; numpy is ground truth);
    - 'variance_within': captured variance along FD's k directions —
      computed DISTRIBUTED as Σ‖proj‖² over the projected table — is at
      least the exact top-k eigen mass of AᵀA minus the sketch's CERTIFIED
      spectral bound per direction (u'(AᵀA−BᵀB)u ≤ shift and Weyl give
      captured ≥ Σσᵢ − 2k·shift).
    """
    import numpy as np

    from guava_probably_spark.pipeline.similarity import pca_project

    k = 8
    emb = _t(spark, sf_dir, "embeddings")
    sk, n, _ = collect_sketch(emb, "embedding", SketchSpec("fd", {"ell": 24}))
    dirs = sk.top_directions(k)
    proj = pca_project(emb, dirs)
    got = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in proj.collect()}
    A = np.asarray(
        [
            (r.vec_id, r.embedding)
            for r in emb.select("vec_id", "embedding").collect()
        ],
        dtype=object,
    )
    ids = np.array([int(x[0]) for x in A])
    X = np.asarray([x[1] for x in A], dtype=np.float64)
    exp = (X @ dirs.T).astype(np.float32).astype(np.float64)
    match = len(got) == n and all(
        np.allclose(got[i], exp[j], rtol=1e-5, atol=1e-5) for j, i in enumerate(ids)
    )
    captured = proj.select(
        F.expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").alias("s")
    ).agg(F.sum("s").alias("t")).collect()[0].t
    eig = np.linalg.eigvalsh(X.T @ X)[::-1]
    topk_mass = float(eig[:k].sum())
    tol = 1e-6 * max(float((X * X).sum()), 1.0)
    var_ok = captured >= topk_mass - 2 * k * sk.shift - tol
    return [
        Row(name="pca_project_embeddings", q_label="distributed_matches_local", within=bool(match)),
        Row(name="pca_project_embeddings", q_label="variance_within", within=bool(var_ok)),
    ]


def _q_heavy_hitters_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters three ways: CMS (estimate over an exact candidate set),
    Misra–Gries (candidates INSIDE the summary, bracketing bound, plus a
    >k-cardinality decrement stress pass) — φ = 0.1 — and per-key top-k
    extraction (functions.mg_topk over a grouped MG build: every returned
    item's [lo, hi] must bracket its exact per-group frequency, ordered
    descending; exact_cnt pins the true per-type max user frequency)."""
    events = _t(spark, sf_dir, "events")
    exact = {
        r.event_type: r.c
        for r in events.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    phi = 0.1
    cms, _, _ = collect_sketch(
        events, "event_type", SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01})
    )
    cms_hh = set(cms.heavy_hitters(sorted(exact), phi=phi))
    cms_bound = cms.error_bound()
    mg, n_mg, _ = collect_sketch(events, "event_type", SketchSpec("mg", {"k": 64}))
    mg_hh = mg.heavy_hitters(phi)
    # stress pass on a >k-cardinality column: bracketing under decrements
    sk_u, n_u, _ = collect_sketch(events, "user_id", SketchSpec("mg", {"k": 32}))
    exact_u = {
        r.user_id: r.c
        for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    stress_ok = sk_u.e <= n_u / (32 + 1) and all(
        c <= exact_u[u] <= c + sk_u.e for u, c in sk_u.counters.items()
    )
    rows = []
    for t, c in sorted(exact.items()):
        if c < phi * n:
            continue
        est = int(cms.estimate([t])[0])
        rows.append(
            Row(
                method="cms",
                event_type=t,
                exact_cnt=int(c),
                within=bool(t in cms_hh and c <= est <= c + cms_bound),
            )
        )
        rows.append(
            Row(
                method="mg",
                event_type=t,
                exact_cnt=int(c),
                within=bool(
                    t in mg_hh
                    and mg.estimate_count(t) <= c <= mg.estimate_count(t) + mg.e
                    and stress_ok
                ),
            )
        )
    # mg_topk: grouped MG build + SQL-surface per-key top-5 extraction.
    # within = every returned item's [lo, hi] brackets its exact per-group
    # user frequency AND the list is lo-descending; exact_cnt = the true
    # max per-user count of the group (oracle-recomputable, so the hash
    # pins real frequencies, not just labels).
    from guava_probably_spark.functions import mg_topk

    g = build_grouped(events, "event_type", "user_id", SketchSpec("mg", {"k": 64}))
    tops = {
        r.event_type: r.top
        for r in g.select("event_type", mg_topk(5)("sketch").alias("top")).collect()
    }
    exact_tu: dict = {}
    for r in events.groupBy("event_type", "user_id").agg(F.count("*").alias("c")).collect():
        exact_tu.setdefault(r.event_type, {})[str(r.user_id)] = r.c
    for t in sorted(exact_tu):
        per_user = exact_tu[t]
        items = tops.get(t, [])
        ok = 1 <= len(items) <= 5
        for it in items:
            f_exact = per_user.get(it.item)
            ok = ok and f_exact is not None and it.lo <= f_exact <= it.hi
        los = [it.lo for it in items]
        ok = ok and los == sorted(los, reverse=True)
        rows.append(
            Row(
                method="mg_topk",
                event_type=t,
                exact_cnt=int(max(per_user.values())),
                within=bool(ok),
            )
        )
    return spark.createDataFrame(rows)


def _q_rollup_cube_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets by MERGE, never recompute: one-level rollup with blob
    byte-equality vs the direct global build, two-level SQL-ROLLUP, and
    two-level SQL-CUBE — estimates within bound at EVERY level."""
    ev = _q_hll_rollup(spark, sf_dir).select(
        F.lit("rollup_merge_events").alias("op"),
        F.col("level").alias("k1"),
        F.lit("*").alias("k2"),
        "exact_distinct",
        "within",
    )
    ro = _q_rollup_two_level(spark, sf_dir).select(
        F.lit("rollup_lineitem").alias("op"),
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("k1"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("k2"),
        "exact_distinct",
        "within",
    )
    cu = _q_cube_two_level(spark, sf_dir).select(
        F.lit("cube_lineitem").alias("op"),
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("k1"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("k2"),
        "exact_distinct",
        "within",
    )
    return ev.unionByName(ro).unionByName(cu)


def _q_overlap_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (operators/overlap.py): ONE corpus
    scan builds per-source theta sketches, then every |A∩B| / |A∪B| /
    |A\\B| across all 190 source pairs is computed from blobs alone via a
    broadcast pair join (no corpus self-join). Cross-source duplicate
    texts are planted (fixture sources are disjoint); per-source distinct
    counts sit far below k=4096, so every estimate is EXACT and the oracle
    compares pairwise COUNT-DISTINCT set algebra directly. `within`
    asserts the exactness regime Spark-side (integral estimates)."""
    from guava_probably_spark.operators import source_overlap_matrix

    docs = _t(spark, sf_dir, "documents")
    shifted = F.concat(
        F.lit("src"),
        ((F.substring("source", 4, 10).cast("int") + 1) % 20).cast("string"),
    )
    copies = docs.filter(F.col("doc_id") % 4 == 0).select(
        shifted.alias("source"), "text"
    )
    aug = docs.select("source", "text").unionByName(copies)
    m = source_overlap_matrix(aug, "source", "text", k=4096)
    pair = F.concat_ws("|", "a", "b")

    def branch(op: str, col):
        return m.select(
            F.lit("overlap").alias("kind"),
            F.concat(pair, F.lit("|" + op)).alias("op"),
            F.round(col).cast("long").alias("exact"),
            (F.abs(col - F.round(col)) < F.lit(1e-9)).alias("within"),
        )

    return (
        branch("intersect", F.col("est_inter"))
        .unionByName(branch("union", F.col("est_union")))
        .unionByName(branch("diff_a_minus_b", F.col("est_diff")))
    )


def _q_setops_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates across two event splits: HLL (union by
    register max, intersection by inclusion–exclusion, compounded-error
    slack) vs theta/KMV (direct sample estimates, EXACT below saturation),
    plus the all-pairs source-overlap matrix from per-source theta blobs."""
    h = _q_hll_setops(spark, sf_dir).select(
        F.lit("hll").alias("kind"), "op", "exact", "within"
    )
    t = _q_theta_setops(spark, sf_dir).select(
        F.lit("theta").alias("kind"), "op", F.col("estimate").alias("exact"), "within"
    )
    return h.unionByName(t).unionByName(_q_overlap_setops(spark, sf_dir))


# ---------------------------------------------------------------------------
# driver surface
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # exactly 50 entries (24 pipeline + 26 main): the driver records at most
    # 50 correctness rows, so every registered query gets a green row —
    # related single-operator queries from round 1 are merged into grids
    # (each half keeps its own oracle branch inside the UNION).
    return {
        **pipeline_queries(),
        "hll_distinct_grid": _q_hll_distinct_grid,
        "filter_membership_grid": _q_membership_grid,
        "cuckoo_delete": _q_cuckoo_delete,
        "cms_frequency_grid": _q_frequency_grid,
        "quantile_rank_grid": _q_quantile_rank_grid,
        "bloom_semijoin_lineitem_part": _q_semijoin,
        "merge_associativity": _q_merge_associativity,
        "grouped_hll_users_by_type": _q_grouped_hll,
        "heavy_hitters_grid": _q_heavy_hitters_grid,
        "rollup_cube_grid": _q_rollup_cube_grid,
        "expected_fpp_grid": _q_expected_fpp_grid,
        "grouped_hll_highcard_parts": _q_grouped_hll_highcard,
        "grouped_kll_median_by_type": _q_grouped_kll_median,
        "running_distinct_user_types": _q_running_distinct,
        "hll_window_daily_users": _q_hll_window_daily,
        "setops_grid": _q_setops_grid,
        "grouped_mode_user_event_type": _q_grouped_mode,
        "grouped_quantiles_part_price": _q_grouped_quantiles,
        "quantile_trim_documents": _q_quantile_trim,
        "theta_retention_daily": _q_theta_retention,
        "batch_sessionize_users": _q_batch_sessionize,
        "streaming_session_windows": _q_streaming_sessions,
        "arrow_text_roundtrip_md5": _q_arrow_text_roundtrip,
        "cms_join_size_lineitem_part": _q_cms_join_size,
        "hll_composite_user_type_pairs": _q_hll_composite_distinct,
        "bucketed_merge_user_distinct": _q_bucketed_merge,
    }


# floor(score · 2^12) for documents doc_id 0..9, pinned from the
# deterministic fit in _logreg_rows (GD from w = 0, fixed iters/lr, labels
# text-contains-'spark'; verified bit-identical across partitionings with
# ≥0.18 fractional margin to every floor boundary).  One literal set per
# testdata scale — the oracle picks the set whose corpus it is reading via
# sum(n_chars) (scales share the 500-doc count): sf0.01 is the driver's
# compare scale, sf0.001 is tests/test_entry.py's.  The 12-bit fixed point
# absorbs the ~1e-9 partition-order float jitter of the gradient fold.
_LOGREG_SCORES: dict[int, list[tuple[int, int]]] = {
    149174: [  # sum(n_chars) at sf0.01
        (0, 3152), (1, 3155), (2, 3146), (3, 3170), (4, 3148),
        (5, 3145), (6, 3118), (7, 3149), (8, 3161), (9, 3159),
    ],
    153156: [  # sum(n_chars) at sf0.001
        (0, 3191), (1, 3174), (2, 3167), (3, 3158), (4, 3183),
        (5, 3156), (6, 3171), (7, 3167), (8, 3166), (9, 3172),
    ],
}
_LOGREG_ORACLE = " UNION ALL ".join(
    [""]
    + [
        "SELECT 'logreg_quality_score', CAST(t.id AS VARCHAR), "
        "CAST(t.s AS BIGINT), true FROM (VALUES "
        + ", ".join(f"({i}, {s})" for i, s in scores)
        + ") AS t(id, s) "
        f"WHERE (SELECT sum(n_chars) FROM documents) = {key}"
        for key, scores in _LOGREG_SCORES.items()
    ]
)


def oracle_sql() -> dict[str, str]:
    return {
        **pipeline_oracle_sql(),
        "hll_distinct_grid": (
            "SELECT 'hll_events_distinct_users' AS name, "
            "count(DISTINCT user_id) AS exact_distinct, true AS within FROM events "
            "UNION ALL SELECT 'hll_lineitem_distinct_parts', "
            "count(DISTINCT l_partkey), true FROM lineitem "
            "UNION ALL SELECT 'hll_documents_distinct_texts', "
            "count(DISTINCT text), true FROM documents "
            "UNION ALL SELECT 'profile_events_user_id', "
            "count(DISTINCT user_id), true FROM events "
            "UNION ALL SELECT 'profile_events_event_type', "
            "count(DISTINCT event_type), true FROM events "
            "UNION ALL SELECT 'profile_events_value', "
            "count(DISTINCT value), true FROM events "
            "UNION ALL SELECT 'profile_events_ts', "
            "count(DISTINCT ts), true FROM events"
        ),
        "filter_membership_grid": (
            "SELECT 'bloom_events_membership' AS name, count(*) AS n_members, "
            "CAST(0 AS BIGINT) AS false_negatives, true AS fp_within FROM events "
            "UNION ALL SELECT 'cuckoo_events_membership', count(*), "
            "CAST(0 AS BIGINT), true FROM events "
            "UNION ALL SELECT 'qf_events_membership', count(*), "
            "CAST(0 AS BIGINT), true FROM events "
            "UNION ALL SELECT 'xor_frozen_membership', count(*), "
            "CAST(0 AS BIGINT), true FROM events "
            "UNION ALL SELECT 'sbf_events_membership', count(*), "
            "CAST(0 AS BIGINT), true FROM events "
            "UNION ALL SELECT 'documents_text_membership', count(*), "
            "CAST(0 AS BIGINT), true FROM documents "
            "UNION ALL SELECT 'xormap_frozen_lookup', count(*), "
            "CAST(0 AS BIGINT), true FROM part"
        ),
        "cuckoo_delete": (
            "SELECT 'cuckoo_delete' AS name, "
            "count(DISTINCT event_id) FILTER (WHERE event_id % 2 = 0) AS n_removed, "
            "CAST(0 AS BIGINT) AS odd_false_negatives FROM events"
        ),
        "cms_frequency_grid": (
            "SELECT 'cms_events_type' AS name, CAST(event_type AS VARCHAR) AS item, "
            "count(*) AS exact_cnt, true AS within FROM events GROUP BY event_type "
            "UNION ALL SELECT 'cms_lineitem_returnflag', "
            "CAST(l_returnflag AS VARCHAR), count(*), true "
            "FROM lineitem GROUP BY l_returnflag "
            "UNION ALL SELECT 'grouped_cms_user_freq', "
            "CAST(event_type AS VARCHAR), count(user_id), true "
            "FROM events GROUP BY event_type "
            # mg_share_drift: exact share-delta fixed points from exact
            # group counts — same IEEE double ops as the Python brackets
            "UNION ALL SELECT 'mg_share_drift_events', "
            "CAST(event_type AS VARCHAR), CAST(floor(abs("
            "count(*) FILTER (WHERE user_id % 2 = 0) / "
            "CAST((SELECT count(*) FROM events WHERE user_id % 2 = 0) AS DOUBLE) "
            "- count(*) FILTER (WHERE user_id % 2 = 1) / "
            "CAST((SELECT count(*) FROM events WHERE user_id % 2 = 1) AS DOUBLE)"
            ") * 1048576.0) AS BIGINT), true FROM events GROUP BY event_type "
            # sketch_ks: identical blobs -> exactly 0; disjoint supports
            # (value vs value + 1e9) -> exactly 1 = 2^20 fixed
            "UNION ALL SELECT 'ks_events_value', 'identical', "
            "CAST(0 AS BIGINT), true "
            "UNION ALL SELECT 'ks_events_value', 'disjoint', "
            "CAST(1048576 AS BIGINT), true "
            # weighted quantiles: smallest price with cumulative quantity
            # weight >= q*W (integer-valued weights -> exact double sums)
            "UNION ALL SELECT 'weighted_quantile_lineitem', t.item, "
            "(SELECT CAST(floor(min(v)) AS BIGINT) FROM "
            "(SELECT l_extendedprice AS v, sum(l_quantity) OVER "
            "(ORDER BY l_extendedprice) AS cw FROM lineitem) wq_c, "
            "(SELECT sum(l_quantity) AS tw FROM lineitem) wq_w "
            "WHERE cw >= t.f * tw), true "
            "FROM (VALUES ('kll_p25', 0.25), ('kll_p50', 0.5), "
            "('kll_p75', 0.75), ('td_p25', 0.25), ('td_p50', 0.5), "
            "('td_p75', 0.75)) AS t(item, f)"
            + _LOGREG_ORACLE
        ),
        "quantile_rank_grid": (
            "SELECT name, q_label, true AS within FROM (VALUES "
            "('kll_lineitem_price', 'p10'), ('kll_lineitem_price', 'p25'), "
            "('kll_lineitem_price', 'p50'), ('kll_lineitem_price', 'p75'), "
            "('kll_lineitem_price', 'p90'), "
            "('tdigest_events_value', 'p10'), ('tdigest_events_value', 'p25'), "
            "('tdigest_events_value', 'p50'), ('tdigest_events_value', 'p75'), "
            "('tdigest_events_value', 'p90'), "
            "('kll_rank_lineitem', 'q20'), ('kll_rank_lineitem', 'q50'), "
            "('kll_rank_lineitem', 'q80'), "
            "('dd_lineitem_price', 'p10'), ('dd_lineitem_price', 'p25'), "
            "('dd_lineitem_price', 'p50'), ('dd_lineitem_price', 'p75'), "
            "('dd_lineitem_price', 'p90'), ('dd_lineitem_price', 'p99'), "
            "('dd_lineitem_price', 'collapses_zero'), "
            "('req_lineitem_price', 'p50'), ('req_lineitem_price', 'p90'), "
            "('req_lineitem_price', 'p99'), ('req_lineitem_price', 'p999'), "
            "('histogram_lineitem_price', 'counts_exact'), "
            "('histogram_lineitem_price', 'total_exact'), "
            "('histogram_lineitem_price', 'depth_within'), "
            "('histogram_docs_by_source', 'keys_complete'), "
            "('histogram_docs_by_source', 'buckets_within'), "
            "('histogram_docs_by_source', 'totals_within'), "
            "('pca_project_embeddings', 'distributed_matches_local'), "
            "('pca_project_embeddings', 'variance_within')"
            ") AS t(name, q_label)"
        ),
        "bloom_semijoin_lineitem_part": (
            "SELECT 'bloom_semijoin' AS name, count(*) AS join_cnt "
            "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 15 "
            "UNION ALL SELECT 'sketch_antijoin', count(*) FROM lineitem "
            "ANTI JOIN (SELECT p_partkey FROM part WHERE p_size < 15) d "
            "ON l_partkey = d.p_partkey"
        ),
        "merge_associativity": (
            "SELECT kind, true AS ok FROM (VALUES ('bloom'), ('cuckoo'), ('hll'), "
            "('cms'), ('kll'), ('tdigest'), ('mg'), ('theta'), ('sbf'), ('dd'), "
            "('req'), ('bottomk'), ('countsketch'), ('tuple'), ('qf'), "
            "('varopt'), ('fd'), ('fold'), ('shll')) AS t(kind)"
        ),
        "grouped_hll_users_by_type": (
            "SELECT event_type, count(DISTINCT user_id) AS exact_distinct, "
            "true AS within FROM events GROUP BY event_type"
        ),
        "heavy_hitters_grid": (
            "WITH hh AS (SELECT event_type, count(*) AS exact_cnt FROM events "
            "GROUP BY event_type "
            "HAVING count(*) >= 0.1 * (SELECT count(*) FROM events)) "
            "SELECT 'cms' AS method, event_type, exact_cnt, true AS within FROM hh "
            "UNION ALL SELECT 'mg', event_type, exact_cnt, true FROM hh "
            "UNION ALL SELECT 'mg_topk', event_type, max(cnt), true FROM "
            "(SELECT event_type, user_id, count(*) AS cnt FROM events "
            "GROUP BY 1, 2) GROUP BY event_type"
        ),
        "rollup_cube_grid": (
            "SELECT 'rollup_merge_events' AS op, coalesce(event_type, 'ALL') AS k1, "
            "'*' AS k2, count(DISTINCT user_id) AS exact_distinct, true AS within "
            "FROM events GROUP BY GROUPING SETS ((event_type), ()) "
            "UNION ALL SELECT 'rollup_lineitem', coalesce(l_returnflag, 'ALL'), "
            "coalesce(l_linestatus, 'ALL'), count(DISTINCT l_orderkey), true "
            "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) "
            "UNION ALL SELECT 'cube_lineitem', coalesce(l_returnflag, 'ALL'), "
            "coalesce(l_linestatus, 'ALL'), count(DISTINCT l_orderkey), true "
            "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"
        ),
        "expected_fpp_grid": (
            "SELECT name, true AS within FROM (VALUES ('bloom_0.03'), ('bloom_0.01'), "
            "('bloom_0.001'), ('cuckoo_0.03'), ('cuckoo_0.01'), ('cuckoo_0.001'), "
            "('qf_0.03'), ('qf_0.01'), ('qf_0.001'), "
            "('bloom_contains_all'), ('bloom_copy_equals'), ('bloom_clear'), "
            "('cuckoo_contains_all'), ('cuckoo_copy_equals'), ('cuckoo_clear'), "
            "('qf_contains_all'), ('qf_copy_equals'), ('qf_clear')"
            ") AS t(name)"
        ),
        "grouped_hll_highcard_parts": (
            "SELECT 'murmur' AS path, count(DISTINCT l_partkey) AS n_groups, "
            "true AS all_within FROM lineitem "
            "UNION ALL SELECT 'prehash', count(DISTINCT l_partkey), true "
            "FROM lineitem"
        ),
        "grouped_kll_median_by_type": (
            "SELECT event_type, kind, true AS within FROM "
            "(SELECT DISTINCT event_type FROM events) "
            "CROSS JOIN (VALUES ('kll'), ('dd')) AS t(kind)"
        ),
        "running_distinct_user_types": (
            "SELECT user_id, event_id, "
            "count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_distinct, "
            "true AS within FROM events"
        ),
        "hll_window_daily_users": (
            "WITH du AS (SELECT DISTINCT strftime(date_trunc('day', ts), "
            "'%Y-%m-%d') AS day, user_id FROM events), "
            "days AS (SELECT day, row_number() OVER (ORDER BY day) AS rn "
            "FROM (SELECT DISTINCT day FROM du)) "
            # count(DISTINCT user_id), not count(*) over du: a NULL user_id
            # would count as a distinct row in du but Spark's countDistinct
            # ignores NULLs — keep both branches NULL-safe
            "SELECT 'daily' AS kind, day, count(DISTINCT user_id) "
            "AS exact_distinct, true AS within FROM du GROUP BY day "
            "UNION ALL "
            "SELECT 'roll7', a.day, count(DISTINCT u.user_id), true "
            "FROM days a JOIN days b ON b.rn BETWEEN a.rn - 6 AND a.rn "
            "JOIN du u ON u.day = b.day GROUP BY a.day "
            "UNION ALL "
            "SELECT 'sliding', 'w' || CAST(w AS VARCHAR), "
            "(SELECT count(DISTINCT user_id) FROM events "
            "WHERE epoch(ts) >= (SELECT max(epoch(ts)) FROM events) - w * 86400), "
            "true FROM (VALUES (1), (7), (30)) AS t(w)"
        ),
        "setops_grid": (
            "WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0), "
            "b AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1), "
            "aug AS (SELECT source, text FROM documents UNION ALL "
            "SELECT 'src' || CAST((CAST(substr(source, 4) AS INT) + 1) % 20 "
            "AS VARCHAR), text FROM documents WHERE doc_id % 4 = 0), "
            "s AS (SELECT DISTINCT source, text FROM aug), "
            "n AS (SELECT source, count(*) AS n FROM s GROUP BY source), "
            "ixn AS (SELECT x.source AS a, y.source AS b, count(*) AS i "
            "FROM s x JOIN s y ON x.text = y.text AND x.source < y.source "
            "GROUP BY 1, 2), "
            "pr AS (SELECT na.source AS a, nb.source AS b, na.n AS n_a, "
            "nb.n AS n_b, coalesce(ixn.i, 0) AS i FROM n na "
            "JOIN n nb ON na.source < nb.source "
            "LEFT JOIN ixn ON ixn.a = na.source AND ixn.b = nb.source) "
            "SELECT 'hll' AS kind, 'intersect' AS op, (SELECT count(*) FROM "
            "(SELECT user_id FROM a INTERSECT SELECT user_id FROM b)) AS exact, "
            "true AS within "
            "UNION ALL SELECT 'hll', 'union', (SELECT count(*) FROM "
            "(SELECT user_id FROM a UNION SELECT user_id FROM b)), true "
            "UNION ALL SELECT 'theta', 'diff_a_minus_b', (SELECT count(*) FROM "
            "(SELECT user_id FROM a EXCEPT SELECT user_id FROM b)), true "
            "UNION ALL SELECT 'theta', 'intersect', (SELECT count(*) FROM "
            "(SELECT user_id FROM a INTERSECT SELECT user_id FROM b)), true "
            "UNION ALL SELECT 'theta', 'union', (SELECT count(*) FROM "
            "(SELECT user_id FROM a UNION SELECT user_id FROM b)), true "
            "UNION ALL SELECT 'overlap', a || '|' || b || '|intersect', "
            "CAST(i AS BIGINT), true FROM pr "
            "UNION ALL SELECT 'overlap', a || '|' || b || '|union', "
            "CAST(n_a + n_b - i AS BIGINT), true FROM pr "
            "UNION ALL SELECT 'overlap', a || '|' || b || '|diff_a_minus_b', "
            "CAST(n_a - i AS BIGINT), true FROM pr"
        ),
        "grouped_mode_user_event_type": (
            "WITH c AS (SELECT user_id, event_type, count(*) AS cnt "
            "FROM events GROUP BY user_id, event_type), "
            "m AS (SELECT user_id, max(cnt) AS mc, "
            "CAST(sum(cnt) AS BIGINT) AS total "
            "FROM c GROUP BY user_id) "
            "SELECT c.user_id, min(c.event_type) AS top_value, "
            "m.mc AS top_count, m.total AS n "
            "FROM c JOIN m ON c.user_id = m.user_id AND c.cnt = m.mc "
            "GROUP BY c.user_id, m.mc, m.total"
        ),
        "grouped_quantiles_part_price": (
            "SELECT l_partkey, count(*) AS n, "
            "quantile_disc(l_extendedprice, 0.25) AS q25, "
            "quantile_disc(l_extendedprice, 0.50) AS q50, "
            "quantile_disc(l_extendedprice, 0.75) AS q75 "
            "FROM lineitem GROUP BY l_partkey"
        ),
        "quantile_trim_documents": (
            "SELECT d.doc_id FROM documents d JOIN "
            "(SELECT source, quantile_disc(n_chars, 0.9) AS t "
            "FROM documents GROUP BY source) th ON d.source = th.source "
            "WHERE d.n_chars <= th.t"
        ),
        "theta_retention_daily": (
            "WITH du AS (SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') "
            "AS day, user_id FROM events), days AS (SELECT DISTINCT day FROM du "
            "ORDER BY day LIMIT 4) "
            "SELECT a.day || '..' || b.day AS day_pair, "
            "(SELECT count(*) FROM du x JOIN du y ON x.user_id = y.user_id "
            "AND x.day = a.day AND y.day = b.day) AS retained_users "
            "FROM days a JOIN days b ON b.day = (SELECT min(day) FROM days WHERE day > a.day) "
            "WHERE EXISTS (SELECT 1 FROM days WHERE day > a.day)"
        ),
        "batch_sessionize_users": (
            "WITH d AS (SELECT user_id, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR ts - lag(ts) OVER w > INTERVAL '12 hours' THEN 1 ELSE 0 END AS brk "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)) "
            "SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions, "
            "count(*) AS n_events FROM d GROUP BY user_id"
        ),
        "streaming_session_windows": (
            "SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns, "
            "CAST(distinct_tools AS BIGINT) AS distinct_tools, "
            "CAST(session_minutes AS BIGINT) AS session_minutes "
            "FROM (VALUES ('A', 3, 2, 4), ('B', 1, 1, 0)) "
            "AS t(conv_id, n_turns, distinct_tools, session_minutes)"
        ),
        "arrow_text_roundtrip_md5": (
            "SELECT doc_id, md5(text) AS text_md5 FROM documents"
        ),
        "cms_join_size_lineitem_part": (
            "SELECT 'cms_join_size' AS name, count(*) AS exact_join, true AS within "
            "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 15"
        ),
        "hll_composite_user_type_pairs": (
            "SELECT 'hll_composite_pairs' AS name, "
            "(SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM events)) "
            "AS exact_distinct, true AS within"
        ),
        "bucketed_merge_user_distinct": (
            "SELECT event_type, count(*) AS n_rows, "
            "count(DISTINCT user_id) AS exact_distinct, true AS within "
            "FROM events GROUP BY event_type"
        ),
    }
