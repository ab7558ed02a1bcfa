#!/usr/bin/env python
"""bench.py — headline sketch queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: transcripts sketch build+merge throughput (turns/sec) —
the BASELINE.json north metric — measured as a one-scan multi-sketch build
(HLL + bloom + CMS over conv_id, HLL over text) on a deterministic synthetic
transcripts table (BASELINE.json:15 shape).

--scaling: run the same transcripts job at local[8] and local[32] on the SAME
materialized input and report throughput at both + scaling efficiency
(BASELINE.md two-parallelism protocol), appending results to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Pin glibc malloc to the arena for this process tree (python workers fork
# from the JVM and inherit this env): without it, every numpy temporary is a
# fresh mmap, and under THP/kcompactd memory-compaction pressure (this
# sandbox accumulates hours of khugepaged CPU after repeated 24g JVM heaps)
# worker kernels measured 2-4× run-to-run slowdowns. Arena reuse removes the
# mmap/page-zeroing churn entirely: minhash-LSH went 10-18 s → 3.2 s stable.
os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TMP = os.path.join(REPO, "BENCH", "_tmp")


# -- pressure self-identification (VERDICT r3 item 3) -----------------------
# The driver's full run packs ~50 queries into a memory-saturated box, and
# its recorded numbers have twice landed 1.3-6x above the quiet-machine
# truth. Every timed query snapshots MemAvailable FIRST; queries that start
# under PRESSURE_GB are listed in the JSON's "pressured" field so an
# excursion is self-identifying in the artifact instead of needing a
# post-hoc isolated re-run to adjudicate.
PRESSURE_GB = float(os.environ.get("SPARK_GRAFT_PRESSURE_GB", "16"))
MEM_BEFORE: dict = {}


def _mem_available_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024.0 * 1024.0)
    except OSError:
        pass
    return float("nan")


def _jvm_gc_ms():
    """Cumulative JVM GC time (ms) across collectors, via the management
    beans of the live py4j gateway — None when no JVM is up. GC threads
    burn BUSY cycles, so a busy~90%/steal 0/stall 0 excursion with a large
    per-window GC delta is attributed to collector storms, the one
    mechanism /proc counters cannot separate from useful work."""
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return None
        beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    except Exception:
        return None


def _note_mem(name: str) -> None:
    MEM_BEFORE[name] = round(_mem_available_gb(), 2)
    QUERY_START[name] = time.monotonic()
    GC_MS[name] = _jvm_gc_ms()


_QUERY_FNS: dict = {}  # name -> closure, for the end-of-tier re-quiet pass


def requiet_flagged(
    timings: dict, max_queries: int = 8, budget_s: float = 90.0
) -> list:
    """End-of-tier second chance for contention-flagged queries.

    ``stable_timed``'s extra shots can't help when a stall window spans the
    whole query (every shot is slow and the spread stays low) — but
    excursion windows here are minutes-long, so by TIER END they have
    usually passed.  Re-run the conclusively-stalled queries (steal / PSI /
    GC signals, not mere low-busy), worst absolute time first, one shot
    each under a time budget, and keep the min.  This is the in-artifact
    version of 're-run until the movers' windows are quiet' (VERDICT r4
    item 2): the driver stamps whatever one bench invocation prints."""
    flagged = _contended_queries(timings)
    todo = sorted(
        (
            q
            for q, p in flagged.items()
            if q in _QUERY_FNS
            and (
                p.get("steal_pct", 0) >= 1.5
                or p.get("cpu_stall_pct", 0) >= 25.0
                or p.get("mem_stall_pct", 0) >= 5.0
                or p.get("gc_pct", 0) >= 20.0
            )
        ),
        key=lambda q: -timings[q],
    )[:max_queries]
    spent, redone = 0.0, []
    for q in todo:
        if spent > budget_s:
            break
        t0 = time.monotonic()
        try:
            _QUERY_FNS[q]()
        except Exception:
            continue  # keep the recorded number; this pass only improves
        dt = time.monotonic() - t0
        spent += dt
        if round(dt, 3) < timings[q]:
            timings[q] = round(dt, 3)
        redone.append(q)
    return redone


def stable_timed(timings: dict, name: str, fn, reps: int = 2, max_extra: int = 2):
    """Warm once (worker fork + imports, JIT, page cache), then stamp the
    per-query MIN over ``reps`` timed shots — and while the observed
    spread says the window is noisy (max/min > 1.4), take up to
    ``max_extra`` more shots so the min converges to the quiet-window
    representative.  Single shots in this sandbox drift up to 3× on
    OS memory-reclaim / contention windows (VERDICT r4: round-over-round
    diffs false-flagged sub-second rows); the contention sampler still
    attributes any residual excursion in the JSON's "contended" field."""
    _QUERY_FNS[name] = fn
    _note_mem(name)
    fn()
    ts = []
    r = None
    for _ in range(reps):
        t0 = time.monotonic()
        r = fn()
        ts.append(time.monotonic() - t0)
    extra = 0
    while (
        extra < max_extra
        and min(ts) > 0.05
        and max(ts) / min(ts) > 1.4
    ):
        t0 = time.monotonic()
        fn()
        ts.append(time.monotonic() - t0)
        extra += 1
    timings[name] = round(min(ts), 3)
    return r


# -- contention self-identification (r4 take-5 finding) ----------------------
# Structural fixes eliminated the Python-transfer theory for the 3-5x
# excursions: a run caught q_ngram_decontam (zero Python in the scan) AND
# q_lm_quality (200x less transfer) both at ~27 s vs their 5.5-8.5 s quiet
# mode, pressured:[] and 83 GB free — the excursions are a contiguous TIME
# WINDOW, not a query property. A 1.5-s /proc/stat sampler attributes each
# query's window: low busy%% (we are descheduled / blocked) or steal%%
# (hypervisor neighbors) marks the number as environmental in the artifact
# itself. Queries outside norms land in the JSON's "contended" field.
QUERY_START: dict = {}
GC_MS: dict = {}
CPU_SAMPLES: list = []


def _cpu_jiffies():
    with open("/proc/stat") as f:
        v = f.readline().split()[1:9]
    user, nice, system, idle, iowait, irq, softirq, steal = map(int, v)
    busy = user + nice + system + irq + softirq
    return busy, steal, iowait, busy + idle + iowait + steal


def _psi_totals():
    """(cpu_some, mem_some, mem_full, io_some) stall totals in µs — PSI
    counts time tasks spent STALLED (runnable-but-not-running / blocked on
    reclaim / blocked on io), the signal busy/steal/iowait can't see:
    a half-idle window with zero steal but high cpu-some = runnable-thread
    oversubscription; mem-full = direct-reclaim stalls (the r2/r3
    'reclaim pressure' mechanism, now measurable per query)."""
    out = []
    for res, want_full in (("cpu", False), ("memory", True), ("io", False)):
        try:
            with open(f"/proc/pressure/{res}") as f:
                lines = f.read().splitlines()
            some = int(lines[0].rsplit("=", 1)[1])
            out.append(some)
            if want_full:
                out.append(int(lines[1].rsplit("=", 1)[1]))
        except (OSError, IndexError, ValueError):
            out.append(0)
            if want_full:
                out.append(0)
    return tuple(out)  # (cpu_some, mem_some, mem_full, io_some)


def _start_cpu_sampler() -> None:
    import threading

    def loop():
        while True:
            try:
                CPU_SAMPLES.append(
                    (time.monotonic(),) + _cpu_jiffies() + _psi_totals()
                )
            except OSError:
                return
            time.sleep(1.5)

    threading.Thread(target=loop, daemon=True).start()


def _contended_queries(timings: dict) -> dict:
    """Per-query CPU attribution for excursion-suspect windows. The window
    for query q runs from its _note_mem stamp to the next query's stamp
    (covers warm + every timed repeat — excursions are minutes-long)."""
    starts = sorted(
        ((t, q) for q, t in QUERY_START.items() if q in timings), key=lambda x: x[0]
    )
    out: dict = {}
    profiles: dict = {}
    gc_now = _jvm_gc_ms()
    for i, (t0, q) in enumerate(starts):
        t1 = starts[i + 1][0] if i + 1 < len(starts) else time.monotonic()
        gc0 = GC_MS.get(q)
        gc1 = GC_MS.get(starts[i + 1][1]) if i + 1 < len(starts) else gc_now
        gc_pct = (
            100.0 * (gc1 - gc0) / ((t1 - t0) * 1000.0)
            if gc0 is not None and gc1 is not None and t1 > t0
            else 0.0
        )
        lo = max((s for s in CPU_SAMPLES if s[0] <= t0), default=None)
        hi = min((s for s in CPU_SAMPLES if s[0] >= t1), default=None)
        if hi is None and CPU_SAMPLES and CPU_SAMPLES[-1][0] > t0 + 1.0:
            hi = CPU_SAMPLES[-1]  # final query: last sample stands in
        if lo is None or hi is None or hi[4] <= lo[4]:
            continue
        total = hi[4] - lo[4]
        busy = 100.0 * (hi[1] - lo[1]) / total
        steal = 100.0 * (hi[2] - lo[2]) / total
        iowait = 100.0 * (hi[3] - lo[3]) / total
        prof = {
            "busy_pct": round(busy, 1),
            "steal_pct": round(steal, 1),
            "iowait_pct": round(iowait, 1),
        }
        # PSI stall percentages over the wall window (µs totals / wall µs);
        # only present when the sampler captured PSI (tuple len > 5)
        cpu_stall = mem_stall = 0.0
        if len(lo) > 8 and hi[0] > lo[0]:
            wall_us = (hi[0] - lo[0]) * 1e6
            cpu_stall = 100.0 * (hi[5] - lo[5]) / wall_us
            mem_stall = 100.0 * (hi[7] - lo[7]) / wall_us  # memory FULL
            io_stall = 100.0 * (hi[8] - lo[8]) / wall_us
            prof["cpu_stall_pct"] = round(cpu_stall, 1)
            if mem_stall >= 0.5:
                prof["mem_stall_pct"] = round(mem_stall, 1)
            if io_stall >= 0.5:
                prof["io_stall_pct"] = round(io_stall, 1)
        gc_pct = max(0.0, gc_pct)
        if gc_pct >= 1.0:
            prof["gc_pct"] = round(gc_pct, 1)
        profiles[q] = prof
        # steal/iowait/PSI/GC are conclusive stall signals; low busy alone
        # is NOT flagged (a driver-bound fold legitimately idles 31 cores)
        if (
            steal >= 1.5
            or iowait >= 10.0
            or cpu_stall >= 25.0
            or mem_stall >= 5.0
            or gc_pct >= 20.0
        ):
            out[q] = prof
    # the slowest queries always carry their profile, flagged or not, so an
    # excursion's window is comparable against its in-run neighbors
    for q in sorted(timings, key=lambda q: -timings[q])[:6]:
        if q in profiles:
            out.setdefault(q, profiles[q])
    return out


def _sf() -> float:
    base = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def make_session(cpus: int, batch: int = 16384):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 24g beats 48g here: smaller heap → more frequent young GC → Arrow
        # buffers recycled; 16k arrow batches match the cache-resident kernel
        # chunking (131072-row batches measured 2x slower on the shuffle path)
        .config("spark.driver.memory", "24g")
        # cap direct (off-heap Arrow/Netty) memory: with a large heap, full
        # GCs are rare and direct buffers balloon unreclaimed, progressively
        # throttling the Arrow boundary (measured 1.9s→26s/task drift without
        # the cap). The cap forces buffer recycling — stable throughput.
        # ReservedCodeCacheSize: JDK17 defaults to 240 MB; a 70-query run
        # compiles hundreds of whole-stage-codegen classes and the PSI-
        # attributed excursion signature (wall 2.5-5x, busy ~89%, steal 0,
        # stall 0 — same work burning more cycles) matches JIT dropping to
        # interpreter when the cache fills, bistable via UseCodeCacheFlushing.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:MaxDirectMemorySize=4g -XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .appName("gps-bench")
        .getOrCreate()
    )


def transcripts_path(rows: int) -> str:
    """Materialize the deterministic transcripts input once (256 splits →
    even task granularity at any parallelism level 2..64)."""
    path = os.path.join(TMP, f"transcripts_v2_{rows}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(TMP, exist_ok=True)
    from guava_probably_spark.sources import synth_transcripts

    spark = make_session(CPUS)
    try:
        synth_transcripts(spark, rows, seed=42).repartition(256).write.mode(
            "overwrite"
        ).parquet(path)
    finally:
        spark.stop()
    return path


def docs_path(sf_dir: str, copies: int = 80) -> str:
    """Blow up the documents table deterministically — the sf documents
    table is too small to measure pipeline ops. Each copy's words are
    re-shuffled by a per-(doc, copy) hash so word-trigram sets across copies
    are disjoint: near-dup structure stays sparse (a suffix-only copy scheme
    measured 16M true near-dup pairs — a dedup benchmark where everything is
    a duplicate measures the pathological case, not the scan)."""
    path = os.path.join(TMP, f"documents_rw2_x{copies}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(TMP, exist_ok=True)
    spark = make_session(CPUS)
    try:
        import pyspark.sql.functions as F

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        reps = spark.range(copies).withColumnRenamed("id", "rep")
        # rewrite every word with a per-(doc, copy) suffix: the testdata's
        # 31-word vocabulary makes ALL docs near-dups of each other (word-
        # trigram Jaccard ~0.03 across 400k docs → millions of true LSH
        # candidates); web-scale corpora have large vocabularies, which this
        # reproduces (vocab ≈ 31 × 997 after rewrite, cross-copy Jaccard ≈ 0)
        # reps 0-1 keep the original text: each source doc plants one true
        # exact-dup pair so the near-dup query has real positives to find
        # (5k planted pairs among 400k docs ≈ a realistic dup rate)
        # seed = doc_id * copies + rep (NOT a stale constant): a constant
        # multiplier below `copies` collides (doc d, rep r) with
        # (doc d+1, rep r-const), giving different docs identical word
        # rewrites — cross-copy Jaccard stops being ~0 and the dedup
        # benchmarks degenerate into the all-near-dups pathology
        shuffled = F.expr(
            "CASE WHEN rep <= 1 THEN text ELSE "
            "concat_ws(' ', transform(split(text, ' '), "
            f"w -> concat(w, '_', pmod(xxhash64(w, doc_id * {copies} + rep), 997)))) END"
        )
        (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * copies + F.col("rep")).alias("doc_id"),
                shuffled.alias("text"),
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.stop()
    return path


def emb_path(rows: int = 500_000, dim: int = 128) -> str:
    """Synthetic embeddings: deterministic per-id gaussian vectors."""
    path = os.path.join(TMP, f"embeddings_v2_{rows}x{dim}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(TMP, exist_ok=True)
    spark = make_session(CPUS)
    try:
        import numpy as np
        import pyarrow as pa

        def gen(batches):
            from guava_probably_spark.sketches.hashing import _fmix64

            TWO_PI = 2.0 * np.pi

            def u01(x):  # fmix64 → (0, 1), never exactly 0
                return (x.astype(np.float64) + 1.0) / 18446744073709551616.0

            for batch in batches:
                ids = batch.column(0).to_numpy()
                if len(ids) == 0:
                    continue
                # counter-based per-(id, j) gaussians via fmix64 + Box-
                # Muller: a per-BATCH rng seed made the vectors depend on
                # arrow batch size/partitioning, contradicting both the
                # "deterministic per-id" contract and the rows×dim cache key
                base = ids.astype(np.uint64)[:, None] * np.uint64(2 * dim)
                j2 = np.arange(dim, dtype=np.uint64)[None, :] * np.uint64(2)
                with np.errstate(over="ignore"):
                    u1 = u01(_fmix64(base + j2 + np.uint64(1)))
                    u2 = u01(_fmix64(base + j2 + np.uint64(2)))
                m = (np.sqrt(-2.0 * np.log(u1)) * np.cos(TWO_PI * u2)).astype(
                    np.float32
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), pa.array(m.tolist(), type=pa.list_(pa.float32()))],
                    names=["vec_id", "embedding"],
                )

        (
            spark.range(rows).repartition(64)
            .mapInArrow(gen, "vec_id long, embedding array<float>")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.stop()
    return path


def transcripts_job(spark, path: str):
    """The headline job: one scan, four sketches, tree merge — murmur3-128
    end-to-end over the raw columns (conv_id membership/distinct/freq + text
    distinct).  Uses the python-native file-scan path: workers read parquet
    column pages directly with pyarrow (no JVM→Python Arrow IPC — the
    measured bottleneck), one file per task, cache-resident 16k-row chunks.
    """
    from guava_probably_spark.operators import collect_sketches_files

    return collect_sketches_files(spark, path, _targets())


def _targets():
    from guava_probably_spark.sketches import SketchSpec

    return [
        ("hll_conv", "conv_id", SketchSpec("hll", {"p": 14})),
        ("bloom_conv", "conv_id", SketchSpec("bloom", {"capacity": 2_000_000, "fpp": 0.01})),
        ("cms_conv", "conv_id", SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01})),
        ("hll_text", "text", SketchSpec("hll", {"p": 14})),
    ]


def transcripts_job_jvmscan(spark, path: str):
    """JVM-scan variant (scan → Arrow IPC → python kernels) for comparison."""
    from guava_probably_spark.operators import collect_sketches_multi

    return collect_sketches_multi(spark.read.parquet(path), _targets())


def run_queries(spark, sf_dir: str, t_path: str) -> tuple[dict, dict]:
    import pyspark.sql.functions as F

    from guava_probably_spark.functions import might_contain_udf
    from guava_probably_spark.operators import (
        build_grouped,
        collect_sketch,
        sketch_semijoin,
    )
    from guava_probably_spark.sketches import SketchSpec

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    n_events = events.count()

    timings: dict[str, float] = {}
    extras: dict = {}

    def timed(name, fn):
        # warm + min-of-N (module doc on stable_timed): the r4 sketch-tier
        # single shots drifted 1.6-2.4x on sub-second rows purely from
        # ambient contention, which a naive round diff then false-flags
        return stable_timed(timings, name, fn)

    # a 100 TB job runs for hours and amortizes cold-start; steady-state
    # throughput is the honest number and min-of-N rejects scheduler noise
    out = stable_timed(
        timings, "q_transcripts_multisketch", lambda: transcripts_job(spark, t_path), reps=3
    )
    # a single shot recorded 15.3 s against a 2.8-3.4 s band once in r4 —
    # one-off scheduler/compile noise, not scan cost
    stable_timed(
        timings, "q_transcripts_jvmscan", lambda: transcripts_job_jvmscan(spark, t_path)
    )
    turns = out["hll_conv"][1]
    extras["transcripts_rows"] = turns
    extras["transcripts_distinct_convs_est"] = round(out["hll_conv"][0].estimate())

    timed(
        "q_hll_events_users",
        lambda: collect_sketch(events, "user_id", SketchSpec("hll", {"p": 14})),
    )
    timed(
        "q_hll_lineitem_parts",
        lambda: collect_sketch(lineitem, "l_partkey", SketchSpec("hll", {"p": 14})),
    )

    def bloom_probe():
        sk, _, _ = collect_sketch(
            events, "event_id", SketchSpec("bloom", {"capacity": n_events * 2, "fpp": 0.01})
        )
        probe = might_contain_udf(spark, sk.to_bytes())
        assert events.filter(~probe(F.col("event_id"))).count() == 0

    timed("q_bloom_build_probe", bloom_probe)

    timed(
        "q_cuckoo_events",
        lambda: collect_sketch(
            events, "event_id", SketchSpec("cuckoo", {"capacity": n_events * 2, "fpp": 0.01})
        ),
    )
    timed(
        "q_cms_event_types",
        lambda: collect_sketch(
            events, "event_type", SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01})
        ),
    )
    timed(
        "q_theta_events",
        lambda: collect_sketch(events, "user_id", SketchSpec("theta", {"k": 16384})),
    )
    timed(
        "q_mg_event_types",
        lambda: collect_sketch(events, "event_type", SketchSpec("mg", {"k": 64})),
    )
    timed(
        "q_kll_lineitem_price",
        lambda: collect_sketch(lineitem, "l_extendedprice", SketchSpec("kll", {"k": 200})),
    )
    timed(
        "q_tdigest_events_value",
        lambda: collect_sketch(events, "value", SketchSpec("tdigest", {"delta": 200.0})),
    )
    timed(
        "q_dd_events_value",
        lambda: collect_sketch(events, "value", SketchSpec("dd", {"alpha": 0.01})),
    )
    timed(
        "q_req_events_value",
        lambda: collect_sketch(events, "value", SketchSpec("req", {"k": 32})),
    )
    timed(
        "q_bottomk_users",
        lambda: collect_sketch(events, "user_id", SketchSpec("bottomk", {"k": 4096})),
    )
    timed(
        # quotient filter (sketches/qf.py): distributed build via canonical
        # sorted-fingerprint merge; same shape as the bloom/cuckoo rows
        "q_qf_events",
        lambda: collect_sketch(
            events, "event_id", SketchSpec("qf", {"capacity": n_events * 2, "fpp": 0.01})
        ),
    )
    def varopt_sample():
        # variance-optimal weighted sample: rows are items, value*100 the
        # weight; one blob answers any subset-sum question over the sample
        from guava_probably_spark.operators import collect_weighted_sketch

        ev_w = events.selectExpr("user_id", "CAST(value * 100 AS LONG) + 1 AS w")
        return collect_weighted_sketch(
            ev_w, "user_id", "w", SketchSpec("varopt", {"k": 4096})
        )

    timed("q_varopt_users", varopt_sample)

    def xor_freeze():
        # serving-side compaction: sharded XOR-filter freeze + full-corpus
        # probe (operators/freeze.py; keys hash JVM-side, blob table tiny)
        from guava_probably_spark.operators import freeze_filter, frozen_probe_udf

        frozen = freeze_filter(events, "event_id", fbits=8, shards=32)
        probe = frozen_probe_udf(spark, frozen, 32)
        return events.filter(probe(F.xxhash64(F.col("event_id")))).count()

    timed("q_xor_freeze_probe", xor_freeze)

    def xor_map_lookup():
        # key->value retrieval replacing a broadcast join: freeze per-user
        # labels, then annotate the full corpus with one vectorized probe
        from guava_probably_spark.operators import freeze_map, frozen_lookup_udf

        dim = events.select("user_id").distinct().select(
            F.col("user_id"), (F.col("user_id") % 64).alias("label")
        )
        frozen = freeze_map(dim, "user_id", "label", vbits=6, shards=32)
        lookup = frozen_lookup_udf(spark, frozen, 32)
        return (
            events.select(lookup(F.xxhash64(F.col("user_id"))).alias("l"))
            .filter(F.col("l").isNotNull())
            .count()
        )

    timed("q_xor_map_lookup", xor_map_lookup)
    timed(
        "q_countsketch_users",
        lambda: collect_sketch(
            events, "user_id", SketchSpec("countsketch", {"width": 8192, "depth": 5})
        ),
    )

    def tuple_user_values():
        # distinct-key value totals from one KB blob, no distinct() shuffle
        from guava_probably_spark.operators import collect_weighted_sketch

        ev_w = events.selectExpr("user_id", "CAST(value * 100 AS LONG) AS w")
        return collect_weighted_sketch(
            ev_w, "user_id", "w", SketchSpec("tuple", {"k": 4096})
        )

    timed("q_tuple_user_values", tuple_user_values)

    def shll_windows():
        # sliding-window HLL (sketches/shll.py): one pass over (user_id,
        # ts) builds a blob that answers ANY trailing window; time the
        # build + three window queries (w1/w7/w30 actives) from that blob
        from guava_probably_spark.operators import collect_weighted_sketch

        ev_ts = events.selectExpr(
            "user_id", "CAST(CAST(ts AS TIMESTAMP) AS LONG) AS ts_epoch"
        )
        sk, _, _ = collect_weighted_sketch(
            ev_ts, "user_id", "ts_epoch", SketchSpec("shll", {"p": 14})
        )
        return [sk.estimate_window(d * 86400) for d in (1, 7, 30)]

    timed("q_shll_window_users", shll_windows)

    def profile_all():
        # one-scan 6-column profile: HLL + MG + KLL + exact stats per column
        from guava_probably_spark.operators import profile_summary

        return profile_summary(events).count()

    timed("q_profile_events", profile_all)
    timed(
        "q_grouped_hll_returnflag",
        lambda: build_grouped(
            lineitem, "l_returnflag", "l_orderkey", SketchSpec("hll", {"p": 12})
        ).collect(),
    )
    def grouped_conv():
        from guava_probably_spark.operators import grouped_hll

        df = spark.read.parquet(t_path)
        return grouped_hll(df, "conv_id", "text", p=12, output="estimate", partitions=128).count()

    # the 8M-row shuffle makes this the noisiest query
    extras["conv_groups"] = stable_timed(
        timings, "q_grouped_hll_conv_highcard", grouped_conv
    )

    def grouped_conv_prehash():
        # wide-value fast path: JVM-side xxhash64 means the ~230-byte text
        # never crosses into Python — 16 bytes/row do; estimates carry the
        # same 1.04/sqrt(m) bound (FUNNEL_PREHASHED blobs, see grouped_hll)
        from guava_probably_spark.operators import grouped_hll

        df = spark.read.parquet(t_path)
        return grouped_hll(
            df, "conv_id", "text", p=12, output="estimate",
            partitions=128, prehash=True,
        ).count()

    stable_timed(timings, "q_grouped_hll_conv_prehash", grouped_conv_prehash)

    def grouped_quantiles_conv():
        from guava_probably_spark.operators import grouped_quantiles

        df = spark.read.parquet(t_path)
        return grouped_quantiles(
            df, "conv_id", "turn_idx", qs=(0.5, 0.9), partitions=128
        ).count()

    grouped_quantiles_conv()
    timed("q_grouped_quantiles_conv", grouped_quantiles_conv)

    def corpus_digest_turns():
        # one-scan multiset digest of (conv_id, turn_idx, text) — the
        # per-turn text-equality invariant at corpus scale; pure codegen
        # (md5 + nibble arithmetic), zero Python, one number per partition
        from guava_probably_spark.pipeline.integrity import corpus_digest

        df = spark.read.parquet(t_path)
        return corpus_digest(df, ["conv_id", "turn_idx", "text"]).collect()[0].digest

    corpus_digest_turns()
    timed("q_corpus_digest_turns", corpus_digest_turns)

    def grouped_theta_daily():
        from guava_probably_spark.operators import grouped_theta

        df = spark.read.parquet(t_path).withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        )
        return grouped_theta(df, "day", "conv_id", k=16384, partitions=64).count()

    grouped_theta_daily()
    timed("q_grouped_theta_daily", grouped_theta_daily)

    def drift_report_daily():
        # weekly-snapshot drift WITHOUT a rescan: two grouped-KLL builds
        # (conv-parity halves keyed by day) then a KB-blob join computing
        # per-day KS — the operators/drift.py report shape; the agg forces
        # every pair
        from guava_probably_spark.operators import ks_drift_report
        from guava_probably_spark.operators.grouped_kll import grouped_kll

        df = spark.read.parquet(t_path).withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        )
        par = F.pmod(F.xxhash64("conv_id"), F.lit(2))
        a = grouped_kll(df.filter(par == 0), "day", "turn_idx", k=200, partitions=64)
        b = grouped_kll(df.filter(par == 1), "day", "turn_idx", k=200, partitions=64)
        return ks_drift_report(a, b, "key").agg(
            F.count("*"), F.max("ks"), F.avg("ks")
        ).collect()[0][0]

    extras["drift_report_days"] = timed("q_drift_report_daily", drift_report_daily)

    def grouped_kll_conv():
        from guava_probably_spark.operators import grouped_kll

        df = spark.read.parquet(t_path)
        return grouped_kll(df, "conv_id", "turn_idx", k=200, partitions=128).count()

    grouped_kll_conv()
    timed("q_grouped_kll_conv_highcard", grouped_kll_conv)

    def grouped_dd_conv():
        # per-conv relative-error quantiles (DDSketch per key) — same
        # narrow-shuffle kernel as grouped_kll, order-insensitive blobs
        from guava_probably_spark.operators import grouped_dd

        df = spark.read.parquet(t_path)
        return grouped_dd(
            df, "conv_id", "turn_idx", alpha=0.01, partitions=128
        ).count()

    grouped_dd_conv()
    timed("q_grouped_dd_conv_highcard", grouped_dd_conv)

    def grouped_cms_conv():
        from guava_probably_spark.operators import grouped_cms

        df = spark.read.parquet(t_path)
        return grouped_cms(
            df, "conv_id", "role", 0.02, 0.1, partitions=128
        ).count()

    grouped_cms_conv()
    timed("q_grouped_cms_conv_highcard", grouped_cms_conv)

    # prehash pairs on a WIDE value column (~230-byte text): murmur3 ships
    # the text into Python to hash; prehash=True hashes JVM-side (xxhash64)
    # so only 8 B/row + key cross the boundary (same bounds, tagged funnel)
    def grouped_cms_text(prehash):
        from guava_probably_spark.operators import grouped_cms

        df = spark.read.parquet(t_path)
        return grouped_cms(
            df, "conv_id", "text", 0.02, 0.1, partitions=128, prehash=prehash
        ).count()

    grouped_cms_text(False)
    timed("q_grouped_cms_conv_text", lambda: grouped_cms_text(False))
    grouped_cms_text(True)
    timed("q_grouped_cms_conv_prehash", lambda: grouped_cms_text(True))

    def grouped_theta_text(prehash):
        from guava_probably_spark.operators import grouped_theta

        df = spark.read.parquet(t_path).withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        )
        return grouped_theta(
            df, "day", "text", k=4096, partitions=64, prehash=prehash
        ).count()

    grouped_theta_text(False)
    timed("q_grouped_theta_day_text", lambda: grouped_theta_text(False))
    grouped_theta_text(True)
    timed("q_grouped_theta_day_prehash", lambda: grouped_theta_text(True))

    def sessionize_convs():
        from guava_probably_spark.operators import sessionize

        df = spark.read.parquet(t_path)
        # sum of per-conv max session ids forces the lag+cumsum window —
        # under a bare count() Catalyst pruned the session computation and
        # measured only the groupBy
        return (
            sessionize(df, "conv_id", "ts", gap="30 minutes")
            .groupBy("conv_id")
            .agg(F.max("session_id").alias("m"))
            .agg(F.sum("m"))
            .collect()[0][0]
        )

    timed("q_sessionize_convs", sessionize_convs)

    def running_tools():
        from guava_probably_spark.operators import running_distinct

        df = spark.read.parquet(t_path)
        return running_distinct(
            df, "conv_id", "turn_idx", "tool", p=12, partitions=128
        ).count()

    # merge-prefix window: one 8M-row narrow shuffle + sorted vectorized pass
    stable_timed(timings, "q_running_distinct_convs", running_tools)

    timed(
        "q_bloom_semijoin",
        lambda: sketch_semijoin(
            spark, lineitem, "l_partkey", part.filter(F.col("p_size") < 15), "p_partkey"
        ).count(),
    )
    extras["requieted_sketch"] = requiet_flagged(timings)
    return timings, extras


def run_pipeline_queries(spark, d_path: str, e_path: str) -> tuple[dict, dict]:
    """Training-data pipeline tier (blown-up inputs; see docs_path).

    Run in its OWN SparkSession: the sketch tier's python-native file scans
    leave worker/direct-memory state that measured +50-100% on these
    queries' timings when sharing a session."""
    import pyspark.sql.functions as F

    timings: dict[str, float] = {}
    extras: dict = {}

    def timed(name, fn):
        return stable_timed(timings, name, fn)

    from guava_probably_spark.pipeline.dedup import (
        exact_dedup,
        fast_simhash,
        minhash_band_keys,
        pairs_from_band_rows,
    )
    from guava_probably_spark.pipeline.similarity import cosine_topk
    from guava_probably_spark.pipeline.textops import (
        gopher_quality_df,
        ngram_repetition_df,
        quality_df,
    )

    def warmed(name, fn):
        return stable_timed(timings, name, fn)

    big_docs = spark.read.parquet(d_path)
    n_docs = big_docs.count()
    extras["pipeline_docs"] = n_docs

    # Pin the fast execution mode for the volatile text-scoring queries
    # BEFORE the dedup heavies run: their steady-state speed is set by
    # their FIRST execution's memory context — measured on this box,
    # lm_quality first-run-after-minhash+wminhash settles at ~20 s on
    # EVERY subsequent run (busy ~89%, no steal/PSI/GC, same plan) vs
    # 5.5 s steady when its first run lands on the fresh session; the
    # staged kernels and a JVM-only control show no such hysteresis, so
    # the mode lives in the reused python workers' memory placement
    # (THP/arena fragmentation at first touch). One early execution each
    # while the session is unfragmented pins the fast mode for the timed
    # runs below, at the cost of one quiet-mode execution each.
    from guava_probably_spark.pipeline.contamination import (
        ngram_overlap_contamination as _warm_decontam,
    )
    from guava_probably_spark.pipeline.dsir import dsir_select as _warm_dsir
    from guava_probably_spark.pipeline.textops import lm_quality_score as _warm_lm

    _ev_warm = big_docs.filter(F.col("doc_id") % 100 == 0)
    _warm_lm(big_docs, _ev_warm, "doc_id", "text", n=2).agg(F.sum("ngrams")).collect()
    _warm_decontam(
        big_docs, _ev_warm, "doc_id", "text", n=13, threshold=0.8, fpp=1e-4
    ).agg(F.sum("hits")).collect()
    _warm_dsir(big_docs, _ev_warm, "doc_id", "text", k=10_000, buckets=10_000).agg(
        F.sum("n_grams")
    ).collect()

    warmed("q_exact_dedup_docs", lambda: exact_dedup(big_docs, "doc_id", "text").count())
    # agg over the computed columns forces the projection: a bare count()
    # let Catalyst prune the quality expressions entirely (same artifact as
    # the round-1 interleave number)
    warmed(
        "q_text_quality_docs",
        lambda: quality_df(big_docs, "doc_id", "text")
        .agg(F.sum("ws_tokens"), F.sum("stop_hits"))
        .collect(),
    )
    # Gopher rule set: two explode+agg branches (words, lines) + scalar
    # projection; the agg-over-outputs forces every rule column
    warmed(
        "q_gopher_quality_docs",
        lambda: gopher_quality_df(big_docs, "doc_id", "text")
        .agg(
            F.sum("n_words"),
            F.sum("dup_lines"),
            F.sum("symbol_hits"),
            F.sum(F.col("gopher_pass").cast("long")),
        )
        .collect(),
    )
    # 9 gram sizes in ONE scan (chained NGram projection + stack + single
    # explode/agg); the sums force every counter column
    warmed(
        "q_ngram_repetition_docs",
        lambda: ngram_repetition_df(big_docs, "doc_id", "text")
        .agg(
            F.sum("top2_chars"),
            F.sum("dup5_chars"),
            F.sum("dup10_chars"),
            F.sum(F.col("repetition_pass").cast("long")),
        )
        .collect(),
    )

    def minhash_lsh():
        bk = minhash_band_keys(big_docs, "doc_id", "text", 128, bands=32)
        return pairs_from_band_rows(bk).count()

    extras["minhash_candidate_pairs"] = warmed("q_minhash_lsh_docs", minhash_lsh)

    def minhash_verified():
        # the FULL near-dup pipeline incl. exact trigram-Jaccard verify —
        # q_minhash_lsh_docs above times candidate generation only
        from guava_probably_spark.pipeline.dedup import neardup_pairs_minhash

        return neardup_pairs_minhash(
            big_docs, "doc_id", "text", threshold=0.5
        ).count()

    extras["minhash_verified_pairs"] = warmed(
        "q_minhash_verified_docs", minhash_verified
    )

    def wminhash_verified():
        # weighted near-dup (ICWS, pipeline/wmh.py) over the trigram
        # MULTISET — full pipeline incl. exact Σmin/Σmax verify. 64 hashes
        # / 32 bands (r = 2, the set row's miss-probability shape); ICWS
        # spends ~3 transcendentals + 5 fmix64 per (trigram, perm) where
        # set-MinHash spends one multiply, so ~2× the set row is the
        # algorithm, not the plan.
        from guava_probably_spark.pipeline.wmh import neardup_pairs_wminhash

        return neardup_pairs_wminhash(
            big_docs, "doc_id", "text", threshold=0.5, num_hashes=64, bands=32
        ).count()

    extras["wminhash_verified_pairs"] = warmed(
        "q_wminhash_verified_docs", wminhash_verified
    )

    def simhash_bulk():
        import pyarrow as pa

        def run(batches):
            for batch in batches:
                h = fast_simhash(batch.column(1))
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), pa.array(h.astype("int64"))],
                    names=["doc_id", "simhash"],
                )

        return big_docs.mapInArrow(run, "doc_id long, simhash long").count()

    warmed("q_simhash_fast_docs", simhash_bulk)

    def winnow_boilerplate():
        # substring-granularity dedup (pipeline/winnow.py): exact pairs
        # sharing a verbatim >=99-char span — the boilerplate/license-text
        # config; finds exactly the ~5k planted exact-copy pairs. The
        # fingerprint density is 2/(window+1) of positions, so window=50
        # keeps the bucket join at ~5M rows over 400k docs.
        from guava_probably_spark.pipeline.winnow import repeated_substring_pairs

        return repeated_substring_pairs(
            big_docs, "doc_id", "text", min_len=99, window=50
        ).count()

    warmed("q_winnow_boilerplate_docs", winnow_boilerplate)

    def spandedup():
        # EXACT duplicated-span removal (pipeline/spandedup.py, Lee et al.
        # 2022 ExactSubstr): every >=50-byte substring occurring twice is
        # cut except its canonical occurrence. Full-coverage window hashes
        # (~500 rows/doc) make this the densest shuffle in the suite, so it
        # runs on a deterministic 50k-doc slice (~22M windows) — the 400k
        # corpus measures ~33 s and is spill-bound on this box
        from guava_probably_spark.pipeline.spandedup import remove_duplicate_spans

        return (
            remove_duplicate_spans(
                big_docs.filter(F.col("doc_id") % 8 == 0), "doc_id", "text", 50
            )
            .agg(F.sum("removed_bytes").alias("rb"), F.count("*").alias("n"))
            .collect()
        )

    warmed("q_spandedup_docs", spandedup)

    from guava_probably_spark.operators.grouped_quantiles import quantile_trim
    from guava_probably_spark.pipeline.components import connected_components
    from guava_probably_spark.pipeline.sampling import hash_sample, hash_split

    # sampling tier: split is a pure codegen projection; sample is
    # TakeOrderedAndProject (per-partition heap, no full sort)
    warmed(
        "q_hash_split_docs",
        lambda: hash_split(big_docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .count()
        .collect(),
    )
    warmed("q_hash_sample_docs", lambda: hash_sample(big_docs, ["doc_id"], 10_000).count())

    def trim():
        d = big_docs.withColumn("src", (F.col("doc_id") % 50).cast("string")).withColumn(
            "n_chars", F.length("text")
        )
        return quantile_trim(d, "src", "n_chars", 0.9).count()

    warmed("q_quantile_trim_docs", trim)

    # components over a planted 2M-edge near-dup graph (500k clusters of 4
    # + 10k-node chains): measures the iterate-join machinery, not the pair
    # generators benched above
    def components():
        star = spark.range(2_000_000).select(
            (F.col("id") + 1_000_000_000).alias("a"),
            ((F.col("id") % 500_000) + 3_000_000_000).alias("b"),
        )
        chain = spark.range(10_000).select(
            (F.col("id") + 5_000_000_000).alias("a"),
            (F.col("id") + 5_000_000_001).alias("b"),
        )
        return connected_components(star.union(chain)).count()

    timed("q_components_2m_edges", components)

    emb = spark.read.parquet(e_path)
    extras["pipeline_vectors"] = emb.count()
    qvecs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 16).collect()
    ]
    warmed("q_ann_cosine_topk", lambda: cosine_topk(emb, qvecs, k=10).count())

    fd_state: dict = {}

    def fd_build():
        # Frequent Directions matrix sketch over the full embedding fixture:
        # per-partition partials (O(ell*d) each) + tree merge — the pattern
        # that turns a 10^9-row covariance/PCA pass into one reduce
        from guava_probably_spark.operators.build import collect_sketch
        from guava_probably_spark.sketches import SketchSpec

        sk, n, _ = collect_sketch(emb, "embedding", SketchSpec("fd", {"ell": 64}))
        assert n == extras["pipeline_vectors"]
        fd_state["sk"] = sk
        return float(sk.spectral_bound())

    extras["fd_spectral_bound"] = warmed("q_fd_embeddings", fd_build)

    # the FD payoff: project onto the sketch's top-16 principal directions
    # (one broadcast matmul, materialized once like the IVF assignment —
    # production stores the projected table) and batch-search in the
    # 8x-smaller space. At 16 queries the scan overhead hides the win; at a
    # 1024-query batch (the dedup-style workload) the matmul dominates and
    # the measured speedup vs full-dim is ~1.7x (flop ratio 8x, overhead-
    # capped at this fixture scale; the stored-table shrink is the 100-TB
    # win every downstream pass inherits).
    import numpy as _np

    from guava_probably_spark.pipeline.similarity import pca_project

    def pca_topk():
        qm = _np.asarray([v for _, v in big_q], dtype="float64") @ fd_state["dirs"].T
        pq = [(qid, [float(x) for x in qm[i]]) for i, (qid, _) in enumerate(big_q)]
        return cosine_topk(fd_state["proj"], pq, k=10).count()

    big_q = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 1024).collect()
    ]
    fd_state["dirs"] = fd_state["sk"].top_directions(16)
    fd_state["proj"] = pca_project(emb, fd_state["dirs"]).cache()
    fd_state["proj"].count()
    warmed("q_pca16_topk_1024q", pca_topk)
    fd_state["proj"].unpersist()

    def pack():
        from guava_probably_spark.pipeline.packing import pack_sequences

        d = big_docs.withColumn("tok", F.length("text"))
        return pack_sequences(d, ["doc_id"], "tok", budget=8192).count()

    warmed("q_pack_sequences_docs", pack)

    def weighted():
        from guava_probably_spark.pipeline.sampling import weighted_sample

        d = big_docs.withColumn("w", F.length("text").cast("double"))
        return weighted_sample(d, ["doc_id"], "w", 10_000).count()

    warmed("q_weighted_sample_docs", weighted)

    def priority():
        from guava_probably_spark.pipeline.sampling import priority_sample

        # DLT priority sampling: same TakeOrderedAndProject shape as the ES
        # row plus the (k+1)-row tau window; summing est_weight forces the
        # estimator column (a bare count would prune the max(w, tau))
        d = big_docs.withColumn("w", F.length("text").cast("double"))
        return (
            priority_sample(d, ["doc_id"], "w", 10_000)
            .agg(F.sum("est_weight"))
            .collect()[0][0]
        )

    warmed("q_priority_sample_docs", priority)

    def interleave():
        from guava_probably_spark.pipeline.sampling import interleave_sources

        d = big_docs.withColumn("src", (F.col("doc_id") % 8).cast("string"))
        weights = {str(i): (i % 3) + 1 for i in range(8)}
        # agg over mix_key forces the rank computation: a bare count() let
        # Catalyst prune the (unused) ranking work entirely, which is what
        # the round-1 0.18 s number actually measured
        return (
            interleave_sources(d, "src", weights, ["doc_id"])
            .agg(F.sum("mix_key"))
            .collect()[0][0]
        )

    warmed("q_interleave_sources_docs", interleave)

    def temperature():
        from guava_probably_spark.pipeline.sampling import temperature_sample

        # 8-source power-law skew; alpha=0.5 flattening — one narrow counts
        # agg + one codegen filter pass. Summing doc_id forces the kept set.
        d = big_docs.withColumn(
            "src", (F.floor(F.log2(F.col("doc_id") % 255 + 1))).cast("string")
        )
        n = d.count()
        return (
            temperature_sample(d, "src", ["doc_id"], n // 4, alpha=0.5)
            .agg(F.sum("doc_id"), F.count("*"))
            .collect()[0][1]
        )

    warmed("q_temperature_mix_docs", temperature)

    def quality_classifier():
        from guava_probably_spark.pipeline.classifier import (
            featurize,
            logreg_fit,
            logreg_score,
        )

        # CCNet-style quality LR, the 100-TB recipe shape: featurize once
        # (JVM-side hashing, pinned), fit 5 full-batch GD epochs on a 10%
        # hash sample (CCNet trains on a seed-sized subset), score ALL
        # docs in one pass. Labels are a deterministic split — the COST is
        # label-independent.
        dim = 1 << 16
        d = big_docs.withColumn("label", (F.col("doc_id") % 2).cast("double"))
        feats = featurize(d, "doc_id", "text", dim, label_col="label").localCheckpoint()
        train = feats.filter(F.pmod(F.xxhash64("id"), F.lit(10)) == 0)
        w, _ = logreg_fit(train, dim, iters=5, lr=2.0)
        return logreg_score(feats, w).agg(F.sum("score")).collect()[0][0]

    warmed("q_quality_classifier_docs", quality_classifier)

    def ccnet_shards():
        from guava_probably_spark.pipeline.classifier import ccnet_buckets

        # CCNet head/middle/tail sharding over 50 sources: one narrow
        # (key, double) threshold shuffle + broadcast CASE scan — the
        # whole 400k-doc assignment never shuffles a payload byte
        d = big_docs.withColumn("src", (F.col("doc_id") % 50).cast("string"))
        return (
            ccnet_buckets(d.withColumn("n", F.length("text")), "src", "n")
            .groupBy("bucket")
            .count()
            .collect()
        )

    warmed("q_ccnet_shards_docs", ccnet_shards)

    def c4_quality():
        # C4 cleaning rules (Raffel et al. 2020): pure zero-shuffle scalar
        # projection (the only HOF iterates ~10 lines/doc); agg forces all
        # counters + the cleaned-text length
        from guava_probably_spark.pipeline.textops import c4_quality_df

        lined = big_docs.withColumn(
            "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n")
        )
        out = c4_quality_df(lined, "doc_id", "text")
        return out.agg(
            F.sum("kept_lines"),
            F.sum("n_sentences"),
            F.sum(F.col("c4_pass").cast("long")),
            F.sum(F.length("clean_text")),
        ).collect()

    warmed("q_c4_quality_docs", c4_quality)

    def dsir_select_docs():
        # DSIR importance resampling (Xie et al. 2023): fit hashed-bigram
        # bag models on a 4k-doc target slice + the 400k raw corpus (two
        # scans, <=10k-row shuffles, 80 KB driver state), then one scored
        # scan (broadcast 10k-row lambda table, integer fixed-point sums) and
        # Gumbel top-k. Three gram explodes total; md5 bucket hash is the
        # dual-dialect oracle-checkable path.
        from guava_probably_spark.pipeline.dsir import dsir_select

        tgt = big_docs.filter(F.col("doc_id") % 100 == 0)
        sel = dsir_select(big_docs, tgt, "doc_id", "text", k=10_000, buckets=10_000)
        return sel.agg(F.sum("n_grams")).collect()[0][0]

    extras["dsir_selected_grams"] = warmed("q_dsir_select_docs", dsir_select_docs)

    def ngram_decontam():
        # GPT-3-style n-gram decontamination, EXACT: the 4k-doc eval set's
        # gram set is under the broadcast threshold, so the 400k-doc train
        # corpus (~38M 13-grams) is scanned ONCE with a broadcast LEFT-SEMI
        # join against the distinct eval grams — exact membership in pure
        # codegen, no filter stage (the bloom probe path engages past ~2M
        # eval grams, where the broadcast hash table stops being cheap)
        from guava_probably_spark.pipeline.contamination import (
            ngram_overlap_contamination,
        )

        ev = big_docs.filter(F.col("doc_id") % 100 == 0)
        out = ngram_overlap_contamination(
            big_docs, ev, "doc_id", "text", n=13, threshold=0.8, fpp=1e-4
        )
        # every eval doc IS in train → all contaminated; agg forces the probe
        return out.agg(
            F.sum(F.col("contaminated").cast("long")), F.sum("hits")
        ).collect()[0][0]

    extras["ngram_decontam_flagged"] = warmed("q_ngram_decontam_docs", ngram_decontam)

    def histogram():
        # doc-length profile: one KLL pass picks 19 splits, one codegen
        # pass hash-aggregates exact bucket counts — no sort, no range
        # shuffle (the exact alternative, ntile over a global sort, is a
        # single-task total ordering)
        from guava_probably_spark.operators import histogram_equidepth

        lens = big_docs.select(F.length("text").cast("double").alias("len"))
        rows = histogram_equidepth(lens, "len", bins=20).collect()
        return sum(r.rows for r in rows)

    extras["histogram_rows"] = warmed("q_histogram_doclen", histogram)

    def lm_score():
        # sketch-LM quality score: word-bigram CMS trained over the 400k-doc
        # corpus (~80M gram instances, pre-aggregated JVM-side to distinct
        # (gram, count) pairs before the weighted build), broadcast, then a
        # vectorized probe + per-doc mean over a 4k-doc eval slice
        from guava_probably_spark.pipeline.textops import lm_quality_score

        ev = big_docs.filter(F.col("doc_id") % 100 == 0)
        out = lm_quality_score(big_docs, ev, "doc_id", "text", n=2)
        return out.agg(F.sum("ngrams"), F.avg("avg_logprob")).collect()[0][0]

    extras["lm_score_grams"] = warmed("q_lm_quality_docs", lm_score)

    def boilerplate():
        # corpus-level line dedup: fixture text has no newlines, so break it
        # into ~8-word lines first (codegen regexp, negligible next to the
        # explode + two key shuffles being measured). The repeated-copy
        # fixture plants real cross-doc duplicate lines.
        from guava_probably_spark.pipeline.textops import remove_boilerplate_lines

        lined = big_docs.withColumn(
            "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n")
        )
        out = remove_boilerplate_lines(lined, min_docs=3, min_chars=10)
        row = out.agg(
            F.sum("n_kept").alias("k"), F.sum("n_dropped").alias("d")
        ).collect()[0]
        return int(row.d)

    extras["boilerplate_lines_dropped"] = warmed("q_boilerplate_lines_docs", boilerplate)

    def antijoin_delta():
        # corpus delta: which of 400k docs are NEW vs a 40k-doc "yesterday"
        # corpus (exact); keys within autoBroadcastJoinThreshold take one
        # broadcast left_anti, larger ones the probe + candidate rescue
        from guava_probably_spark.operators import sketch_antijoin

        dim = big_docs.filter(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("k")
        )
        out = sketch_antijoin(spark, big_docs, "doc_id", dim, "k", fpp=1e-3)
        # aggregate over the text payload — a bare count() lets Catalyst
        # prune the delta's text column and under-report the real
        # materialization cost (bench discipline rule); report the doc
        # count, which the same agg computes for free
        r = out.agg(
            F.count("*").alias("c"), F.sum(F.length("text")).alias("b")
        ).collect()[0]
        extras["antijoin_new_doc_chars"] = int(r.b or 0)  # sum() is NULL on 0 rows
        return int(r.c)

    extras["antijoin_new_docs"] = warmed("q_antijoin_delta_docs", antijoin_delta)

    def grouped_histogram():
        # per-source length profiles straight from grouped-KLL blobs —
        # one skew-armored build, zero extra passes
        from guava_probably_spark.operators import histogram_equidepth_grouped

        d = big_docs.withColumn("src", (F.col("doc_id") % 16).cast("string"))
        rows = histogram_equidepth_grouped(
            d.select("src", F.length("text").cast("double").alias("len")),
            "src",
            "len",
            bins=12,
        ).collect()
        return sum(r.rows for r in rows)

    extras["grouped_hist_rows"] = warmed("q_grouped_histogram_docs", grouped_histogram)

    def source_overlap():
        # all-pairs source overlap audit: ONE scan builds 16 per-source
        # theta sketches, then 120 pairwise intersect/union/diff estimates
        # from blobs alone (broadcast pair join — no corpus self-join)
        from guava_probably_spark.operators import source_overlap_matrix

        d = big_docs.withColumn("src", (F.col("doc_id") % 16).cast("string"))
        m = source_overlap_matrix(d, "src", "text", k=4096)
        row = m.agg(
            F.count("*").alias("pairs"), F.sum("est_union").alias("u")
        ).collect()[0]
        return int(row.pairs)

    extras["overlap_pairs"] = warmed("q_source_overlap_docs", source_overlap)

    # IVF scale path: codebook trained once (offline in production), search
    # prunes to nprobe/nlist of the corpus — the 10^9-vector answer
    from guava_probably_spark.pipeline.ivf import assign_lists, ivf_topk, train_codebook

    cb = train_codebook(emb, nlist=32, iters=4)
    assigned = assign_lists(emb, cb)
    assigned.cache().count()
    warmed(
        "q_ivf_topk_nprobe4",
        lambda: ivf_topk(assigned, cb, qvecs, k=10, nprobe=4).count(),
    )
    assigned.unpersist()

    # PQ compressed search: 16-byte ADC codes (16x vs float32), LUT-only
    # scan for a 64-candidate pool, exact cosine rerank of the pool — at
    # 10^9 vectors the code table is the only corpus-scale scan and it is
    # 16x smaller than the embedding table
    from guava_probably_spark.pipeline.pq import pq_encode, pq_topk, train_pq

    pq_cb = train_pq(emb, m_sub=16, ksub=256, iters=8)
    pq_codes = pq_encode(emb, pq_cb)
    pq_codes.cache().count()
    warmed(
        "q_pq_topk_rerank",
        lambda: pq_topk(pq_codes, pq_cb, qvecs, k=10, pool=64, rerank=emb).count(),
    )
    pq_codes.unpersist()

    # SemDeDup semantic dedup: distributed spherical k-means fit on a
    # deterministic 10% hash sample (the documented 100-TB posture — the
    # Lloyd scans cost 10x less and blocking quality is statistically
    # unchanged), then per-cluster exact pairwise cosine over the FULL
    # table via applyInArrow. Gaussian fixture has no semantic dups, so
    # pair count is 0 — the timing is the honest fit+blocking+scan cost.
    from guava_probably_spark.pipeline.kmeans import kmeans_fit, semantic_dedup_pairs

    fit_emb = emb.filter(F.xxhash64(F.col("vec_id").cast("string")) % 10 == 0)

    def semdedup():
        cb_sd, info = kmeans_fit(fit_emb, k=256, iters=3, seed=11)
        extras["semdedup_mean_cos_dist"] = round(
            info["history"][-1]["mean_cos_dist"], 4
        )
        return semantic_dedup_pairs(emb, cb_sd, threshold=0.999).count()

    extras["semdedup_pairs"] = warmed("q_semdedup_500k", semdedup)
    extras["requieted_pipeline"] = requiet_flagged(timings)
    return timings, extras


def run_accuracy(spark, t_path: str, e_path: str | None = None) -> dict:
    """Observed error vs published bound for EVERY mergeable sketch family,
    at bench scale (the BASELINE.json metric's 'observed-vs-bound FPP/error'
    clause) — 18 families incl. the r5 admissions (qf/sbf/bottomk/
    countsketch/tuple/varopt/shll, plus fd when ``e_path`` provides the
    embeddings table).

    One multi-sketch scan builds the single-column kinds; exact ground
    truth runs beside it (countDistinct, per-key counts, tie-aware rank
    sums). All inputs deterministic (seed 42) — reruns reproduce
    bit-identically.
    """
    import numpy as np
    import pyspark.sql.functions as F

    from guava_probably_spark.functions import might_contain_udf
    from guava_probably_spark.operators import collect_sketches_files
    from guava_probably_spark.sketches import SketchSpec

    p, theta_k, mg_k, kll_k, td_delta = 14, 16384, 256, 200, 200.0
    cms_eps, cms_delta = 0.0005, 0.01
    cap, fpp = 2_000_000, 0.01
    targets = [
        ("hll", "conv_id", SketchSpec("hll", {"p": p})),
        ("theta", "conv_id", SketchSpec("theta", {"k": theta_k})),
        ("bloom", "conv_id", SketchSpec("bloom", {"capacity": cap, "fpp": fpp})),
        ("cuckoo", "conv_id", SketchSpec("cuckoo", {"capacity": cap, "fpp": fpp})),
        ("cms", "conv_id", SketchSpec("cms", {"epsilon": cms_eps, "delta": cms_delta})),
        ("mg", "conv_id", SketchSpec("mg", {"k": mg_k})),
        ("kll", "turn_idx", SketchSpec("kll", {"k": kll_k})),
        ("tdigest", "turn_idx", SketchSpec("tdigest", {"delta": td_delta})),
        ("dd", "turn_idx", SketchSpec("dd", {"alpha": 0.01})),
        ("req", "turn_idx", SketchSpec("req", {"k": 32})),
        # round-5 admissions (VERDICT r4 item 6) — the remaining mergeable
        # kinds, same one-scan build:
        ("qf", "conv_id", SketchSpec("qf", {"capacity": cap, "fpp": fpp})),
        ("sbf", "conv_id", SketchSpec("sbf", {"initial_capacity": 4096, "fpp": fpp})),
        ("bottomk", "conv_id", SketchSpec("bottomk", {"k": 4096})),
        (
            "countsketch",
            "conv_id",
            SketchSpec("countsketch", {"width": 1 << 16, "depth": 5}),
        ),
        ("tuple", "conv_id", SketchSpec("tuple", {"k": 4096})),
        ("varopt", "conv_id", SketchSpec("varopt", {"k": 4096})),
    ]
    built = collect_sketches_files(spark, t_path, targets)
    sks = {name: t[0] for name, t in built.items()}
    n_rows = built["hll"][1]

    df = spark.read.parquet(t_path)
    true_distinct = df.agg(F.countDistinct("conv_id")).collect()[0][0]

    out: dict = {"rows": n_rows, "true_distinct_convs": true_distinct}

    # -- cardinality: relative error vs 3 sigma of the published RSE --------
    for name, sigma in (("hll", 1.04 / math.sqrt(1 << p)),
                        ("theta", 1.0 / math.sqrt(theta_k - 1))):
        est = sks[name].estimate()
        rel = abs(est - true_distinct) / true_distinct
        out[name] = {"estimate": int(round(est)), "rel_err": round(float(rel), 6),
                     "bound_3sigma": round(3 * sigma, 6), "ok": bool(rel <= 3 * sigma)}

    # -- filters: observed FPP over 1M guaranteed non-members + zero FN -----
    non_members = spark.range(1_000_000).select(
        F.format_string("np-%012d", F.col("id")).alias("k"))
    members = df.select(F.col("conv_id").alias("k")).distinct()
    sks["sbf"] = sks["sbf"].compact()
    for name in ("bloom", "cuckoo", "qf", "sbf"):
        blob = sks[name].to_bytes()
        fp = non_members.filter(might_contain_udf(spark, blob)(F.col("k"))).count()
        fn = members.filter(~might_contain_udf(spark, blob)(F.col("k"))).count()
        obs = fp / 1_000_000
        exp = sks[name].expected_fpp()
        # sbf's design point is the COMPOUND stage bound Σ stage_fpp (it
        # grew from a deliberately small first stage); the single-structure
        # kinds keep the configured design fpp
        conf = (
            sum(st.fpp for st in sks[name].stages) if name == "sbf" else fpp
        )
        out[name] = {
            "observed_fpp": round(obs, 6), "expected_fpp": round(exp, 6),
            "configured_fpp": round(conf, 6), "false_negatives": fn,
            "overflow": built[name][2],
            # expected_fpp is the fill-level estimate; configured fpp is the
            # design point at full capacity — observed must sit within noise
            # of expected AND below configured (the old max() let a 22×
            # regression of observed-vs-expected pass as long as it stayed
            # under the design point)
            "ok": bool(fn == 0 and obs <= 1.5 * exp + 1e-4 and obs <= conf),
        }

    # -- frequency: CMS never under, over <= eps*N w.p. 1-delta; MG never
    #    over, under <= N/k.  Exact counts for a deterministic key sample
    #    (top-100 hot keys + ~1/1000 hash sample of all keys). ------------
    counts = df.groupBy("conv_id").count()
    hot = counts.orderBy(F.desc("count"), "conv_id").limit(100)
    sampled = counts.filter(F.pmod(F.xxhash64("conv_id", F.lit(7)), F.lit(1000)) == 0)
    keys = hot.unionByName(sampled).dropDuplicates(["conv_id"]).collect()
    karr = [r.conv_id for r in keys]
    tru = np.array([r["count"] for r in keys], dtype=np.int64)
    cms_est = np.asarray(sks["cms"].estimate(karr), dtype=np.int64)
    over = cms_est - tru
    out["cms"] = {
        "keys_checked": len(karr), "max_over": int(over.max()),
        "bound_epsN": int(math.ceil(cms_eps * n_rows)),
        "under_violations": int((over < 0).sum()),
        "ok": bool((over >= 0).all() and int(over.max()) <= cms_eps * n_rows),
    }
    mg_est = np.array([sks["mg"].estimate_count(k) for k in karr], dtype=np.int64)
    under = tru - mg_est
    out["mg"] = {
        "keys_checked": len(karr), "max_under": int(under.max()),
        "bound_N_over_k": n_rows // mg_k,
        "over_violations": int((under < 0).sum()),
        "ok": bool((under >= 0).all() and int(under.max()) <= n_rows // mg_k),
    }

    # -- quantiles: tie-aware normalized rank error at the deciles.  The
    #    estimated quantile v is correct if q lands inside v's tie interval
    #    [P(x<v), P(x<=v)]; error is the distance to that interval. ---------
    qs = np.arange(0.1, 1.0, 0.1)
    for name in ("kll", "tdigest"):
        vals = np.atleast_1d(sks[name].quantile(qs))
        aggs = []
        for i, v in enumerate(vals):
            aggs.append(F.avg((F.col("turn_idx") < float(v)).cast("double")).alias(f"lo{i}"))
            aggs.append(F.avg((F.col("turn_idx") <= float(v)).cast("double")).alias(f"hi{i}"))
        row = df.agg(*aggs).collect()[0]
        errs = [max(0.0, row[f"lo{i}"] - q, q - row[f"hi{i}"])
                for i, q in enumerate(qs)]
        bound = sks[name].rank_error_bound()
        out[name] = {"max_rank_err": round(float(max(errs)), 6),
                     "bound_3sigma": round(float(bound), 6), "ok": bool(max(errs) <= bound)}

    # -- ddsketch: VALUE-relative error at the deciles vs the exact
    #    discrete quantile (turn_idx is low-cardinality: exact per-value
    #    counts + a driver cumsum give v_q with no full sort). -------------
    tc_rows = df.groupBy("turn_idx").count().orderBy("turn_idx").collect()
    tv = np.array([r.turn_idx for r in tc_rows], dtype=np.float64)
    cum = np.cumsum(np.array([r["count"] for r in tc_rows], dtype=np.int64))
    v_true = tv[np.searchsorted(cum, np.floor(qs * (cum[-1] - 1)), side="right")]
    dd_est = np.atleast_1d(sks["dd"].quantile(qs))
    rel = np.abs(dd_est - v_true) / np.maximum(np.abs(v_true), 1e-12)
    out["dd"] = {
        "max_rel_err": round(float(rel.max()), 6),
        "bound_alpha": 0.01,
        "collapses": sks["dd"].collapses,
        "ok": bool(rel.max() <= 0.01 and sks["dd"].collapses == 0),
    }

    # -- req: RELATIVE rank error at the extreme upper quantiles — the
    #    guarantee class KLL's uniform band cannot give (err <= eps*(1-q)
    #    in normalized terms); tie-aware interval as for kll/tdigest ------
    rq = np.array([0.9, 0.99, 0.999, 0.9999])
    vals = np.atleast_1d(sks["req"].quantile(rq))
    aggs = []
    for i, v in enumerate(vals):
        aggs.append(F.avg((F.col("turn_idx") < float(v)).cast("double")).alias(f"rlo{i}"))
        aggs.append(F.avg((F.col("turn_idx") <= float(v)).cast("double")).alias(f"rhi{i}"))
    row = df.agg(*aggs).collect()[0]
    rels = [
        max(0.0, row[f"rlo{i}"] - q, q - row[f"rhi{i}"]) / (1.0 - q + 1.0 / n_rows)
        for i, q in enumerate(rq)
    ]
    eps = sks["req"].relative_rank_error_bound()
    out["req"] = {
        "max_rel_rank_err": round(float(max(rels)), 6),
        "bound_eps": round(float(eps), 6),
        "ok": bool(max(rels) <= eps),
    }

    # -- bottom-k distinct: (k-1)/θ estimator, theta's RSE class ------------
    bk = sks["bottomk"]
    rel = abs(bk.estimate() - true_distinct) / true_distinct
    out["bottomk"] = {
        "estimate": int(round(bk.estimate())),
        "rel_err": round(float(rel), 6),
        "bound_3sigma": round(bk.relative_error_bound(), 6),
        "ok": bool(rel <= bk.relative_error_bound()),
    }

    # -- tuple: HT distinct + distinct-key row-total (unit weights ⇒ per-key
    #    multiplicities), each against its own plug-in band ----------------
    tp = sks["tuple"]
    d_rel = abs(tp.estimate() - true_distinct) / true_distinct
    sum_err = abs(tp.sum_estimate() - n_rows)
    sum_bound = tp.sum_error_estimate() + 1e-6 * n_rows
    out["tuple"] = {
        "distinct_rel_err": round(float(d_rel), 6),
        "distinct_bound_3sigma": round(tp.relative_error_bound(), 6),
        "sum_rel_err": round(float(sum_err / n_rows), 6),
        "sum_bound_rel": round(float(sum_bound / n_rows), 6),
        "ok": bool(d_rel <= tp.relative_error_bound() and sum_err <= sum_bound),
    }

    # -- countsketch: two-sided point error ≤ √(3·F2/w) w.h.p. PER KEY; over
    #    ~200 sampled keys a few last-ulp excursions are expected at depth 5
    #    (per-key failure ~1-2%), so the family check is 98% of keys inside
    #    the per-key band and max ≤ 2× it ---------------------------------
    cs = sks["countsketch"]
    cs_est = np.asarray(cs.estimate(karr), dtype=np.float64)
    cs_err = np.abs(cs_est - tru)
    cs_bound = cs.error_bound()
    frac_in = float((cs_err <= cs_bound).mean())
    out["countsketch"] = {
        "keys_checked": len(karr),
        "max_abs_err": int(cs_err.max()),
        "bound_per_key": int(math.ceil(cs_bound)),
        "frac_within": round(frac_in, 4),
        "ok": bool(frac_in >= 0.98 and cs_err.max() <= 2.0 * cs_bound),
    }

    # -- varopt: Σ est_weight == N EXACTLY (unit weights), sample size == k,
    #    and a deterministic subset-sum (convs whose id ends in an even
    #    digit) within 4σ of the plug-in bound Var ≤ τ·W_S ----------------
    vo = sks["varopt"]
    true_sub = df.filter(
        (F.substring("conv_id", -1, 1).cast("int") % 2) == 0
    ).count()
    est_sub = sum(
        w for key, w in vo.sample() if str(key)[-1].isdigit() and int(str(key)[-1]) % 2 == 0
    )
    se = math.sqrt(max(vo.tau, 0.0) * max(true_sub, 1.0))
    sub_bound = 4.0 * se + 1e-6 * n_rows
    out["varopt"] = {
        "total_exact": bool(abs(vo.total_estimate() - n_rows) <= 1e-9 * n_rows),
        "sample_size": vo.size,
        "subset_rel_err": round(abs(est_sub - true_sub) / max(true_sub, 1), 6),
        "subset_bound_rel": round(sub_bound / max(true_sub, 1), 6),
        "ok": bool(
            abs(vo.total_estimate() - n_rows) <= 1e-9 * n_rows
            and vo.size == min(4096, n_rows)  # items are ROWS (unit weights)
            and abs(est_sub - true_sub) <= sub_bound
        ),
    }

    # -- shll: sliding-window HLL — distinct convs over the trailing half
    #    time range from ONE blob vs the exact windowed count, HLL's RSE --
    from guava_probably_spark.operators import collect_weighted_sketch

    ts_df = df.withColumn("ts_epoch", F.col("ts").cast("timestamp").cast("long"))
    sh, _, _ = collect_weighted_sketch(
        ts_df, "conv_id", "ts_epoch", SketchSpec("shll", {"p": 12})
    )
    lo_ts, hi_ts = ts_df.agg(F.min("ts_epoch"), F.max("ts_epoch")).collect()[0]
    half = (hi_ts - lo_ts) // 2
    exact_half = (
        ts_df.filter(F.col("ts_epoch") >= hi_ts - half)
        .select("conv_id").distinct().count()
    )
    est_half = sh.estimate_window(half)
    sh_rel = abs(est_half - exact_half) / max(exact_half, 1)
    sh_bound = sh.relative_error_bound()
    out["shll"] = {
        "window_estimate": int(round(est_half)),
        "window_exact": int(exact_half),
        "rel_err": round(float(sh_rel), 6),
        "bound_3sigma": round(float(sh_bound), 6),
        "ok": bool(sh_rel <= sh_bound),
    }

    # -- fd (Frequent Directions over the bench embeddings): observed
    #    spectral error λ_max(AᵀA − BᵀB) against the sketch's CERTIFIED
    #    shift (itself ≤ 2·‖A‖_F²/ℓ); exact Gram computed distributed,
    #    only the d×d partials reach the driver ---------------------------
    if e_path is not None:
        import pyarrow as pa

        from guava_probably_spark.operators import collect_sketch as _cs

        emb = spark.read.parquet(e_path)
        fd_sk, _, _ = _cs(emb, "embedding", SketchSpec("fd", {"ell": 64}))

        def gram_partial(batches):
            import numpy as _np
            import pyarrow as _pa

            for batch in batches:
                col = batch.column("embedding")
                flat = col.flatten().to_numpy(zero_copy_only=False)
                d = len(flat) // max(batch.num_rows, 1)
                # float32 storage: accumulate the Gram in float64
                x = flat.reshape(batch.num_rows, d).astype(_np.float64)
                g = x.T @ x
                yield _pa.RecordBatch.from_pydict(
                    {"g": [g.ravel().tobytes()], "d": [int(d)]},
                    schema=_pa.schema(
                        [_pa.field("g", _pa.binary()), _pa.field("d", _pa.int64())]
                    ),
                )

        parts = emb.select("embedding").mapInArrow(gram_partial, "g binary, d long").collect()
        d = parts[0].d
        gram = np.zeros((d, d))
        for r in parts:
            gram += np.frombuffer(r.g, dtype=np.float64).reshape(d, d)
        eig = np.linalg.eigvalsh(gram - fd_sk.gram())
        frob = float(np.trace(gram))
        tol = 1e-6 * max(frob, 1.0)
        out["fd"] = {
            "spectral_err": round(float(max(eig[-1], 0.0)), 3),
            "bound_shift": round(float(fd_sk.shift), 3),
            "psd_ok": bool(eig[0] >= -tol),
            "shift_le_2frob_over_ell": bool(
                fd_sk.shift <= 2.0 * fd_sk.frob / fd_sk.ell + 1e-9
            ),
            "ok": bool(
                eig[0] >= -tol
                and eig[-1] <= fd_sk.shift + tol
                and fd_sk.shift <= 2.0 * fd_sk.frob / fd_sk.ell + 1e-9
            ),
        }
    return out


def main() -> None:
    sf = _sf()
    rows = max(200_000, int(80_000_000 * sf))
    _start_cpu_sampler()

    if "--accuracy" in sys.argv:
        t_path = transcripts_path(rows)
        e_path = emb_path()  # before make_session: emb_path manages its own
        spark = make_session(CPUS)
        try:
            t0 = time.monotonic()
            acc = run_accuracy(spark, t_path, e_path)
            dt = time.monotonic() - t0
        finally:
            spark.stop()
        families = [k for k, v in acc.items() if isinstance(v, dict)]
        all_ok = all(acc[k].get("ok") for k in families)
        md_rows = []
        for k in families:
            v = acc[k]
            if "window_estimate" in v:  # shll
                o = (f"window rel err {v['rel_err']} "
                     f"(est {v['window_estimate']} vs {v['window_exact']})")
                b = f"{v['bound_3sigma']} (3σ)"
            elif "rel_err" in v:
                o, b = f"rel err {v['rel_err']}", f"{v['bound_3sigma']} (3σ)"
            elif "distinct_rel_err" in v:  # tuple
                o = (f"distinct rel err {v['distinct_rel_err']}, "
                     f"sum rel err {v['sum_rel_err']}")
                b = (f"{v['distinct_bound_3sigma']} (3σ) / "
                     f"{v['sum_bound_rel']} (HT plug-in SE)")
            elif "subset_rel_err" in v:  # varopt
                o = (f"total exact = {v['total_exact']}, subset rel err "
                     f"{v['subset_rel_err']}")
                b = f"{v['subset_bound_rel']} (4σ of Var ≤ τ·W_S)"
            elif "max_abs_err" in v:  # countsketch
                o = (f"max |err| {v['max_abs_err']}, "
                     f"{round(100 * v['frac_within'], 1)}% within per-key band")
                b = f"√(3·F2/w) = {v['bound_per_key']} per key"
            elif "spectral_err" in v:  # fd
                o = f"spectral err {v['spectral_err']} (PSD {v['psd_ok']})"
                b = f"certified shift {v['bound_shift']} ≤ 2‖A‖_F²/ℓ"
            elif "observed_fpp" in v:
                o = (f"FPP {v['observed_fpp']} (expectedFpp {v['expected_fpp']}, "
                     f"FN {v['false_negatives']})")
                b = f"configured {v['configured_fpp']}"
            elif "max_over" in v:
                o, b = f"max over {v['max_over']}", f"ε·N = {v['bound_epsN']}"
            elif "max_under" in v:
                o, b = f"max under {v['max_under']}", f"N/k = {v['bound_N_over_k']}"
            elif "max_rel_rank_err" in v:
                o = f"max relative rank err {v['max_rel_rank_err']}"
                b = f"ε·(1−q) with ε = {v['bound_eps']}"
            elif "max_rel_err" in v:
                o = f"max rel err {v['max_rel_err']} (collapses {v['collapses']})"
                b = f"α = {v['bound_alpha']}"
            else:
                o, b = f"max rank err {v['max_rank_err']}", f"{v['bound_3sigma']} (3σ)"
            md_rows.append(f"| {k} | {o} | {b} | {'✓' if v['ok'] else '✗'} |")
        md = (
            f"\n## Observed-vs-bound accuracy run ({time.strftime('%Y-%m-%d %H:%M:%S')})\n\n"
            f"{acc['rows']:,} transcript turns (sf{_sf()}), {acc['true_distinct_convs']:,} "
            f"true distinct convs; one multi-sketch scan + exact ground truth, "
            f"deterministic seed, {dt:.1f} s wall.\n\n"
            "| sketch | observed | published bound | ok |\n|---|---|---|---|\n"
            + "\n".join(md_rows) + "\n"
        )
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write(md)
        print(json.dumps({
            "metric": "accuracy_vs_bound", "value": 1.0 if all_ok else 0.0,
            "unit": "all_ok", "seconds": round(dt, 1), "families": acc,
        }))
        return

    if "--scaling" in sys.argv:
        # larger input for the scaling protocol: fixed per-job overhead
        # (driver merge, stage scheduling) must amortize so the measurement
        # reflects the distributed fraction. (t_path is built HERE, inside
        # the mode branch — building the default-size table before dispatch
        # wasted minutes + GBs that --scaling never reads.)
        rows = max(rows, 48_000_000)
        t_path = transcripts_path(rows)

        def window_job(spark, parts):
            # shuffle-heavy second datapoint: every row crosses the exchange
            from guava_probably_spark.operators import running_distinct

            df = spark.read.parquet(t_path)
            return running_distinct(
                df, "conv_id", "turn_idx", "tool", p=12, partitions=parts
            ).count()

        results = {}
        win_results = {}
        for cpus in (2, 8, 32):
            spark = make_session(cpus)
            try:
                transcripts_job(spark, t_path)  # warm (JIT, page cache)
                secs = None
                for _ in range(3):
                    t0 = time.monotonic()
                    transcripts_job(spark, t_path)
                    dt = time.monotonic() - t0
                    secs = dt if secs is None else min(secs, dt)
                window_job(spark, cpus * 4)  # warm the shuffle path
                wsecs = None
                for _ in range(2):
                    t0 = time.monotonic()
                    window_job(spark, cpus * 4)
                    dt = time.monotonic() - t0
                    wsecs = dt if wsecs is None else min(wsecs, dt)
            finally:
                spark.stop()
            results[cpus] = rows / secs
            win_results[cpus] = rows / wsecs
            print(
                f"# local[{cpus}]: scan-job {secs:.2f}s {rows/secs:,.0f} t/s; "
                f"window-job {wsecs:.2f}s {rows/wsecs:,.0f} t/s",
                file=sys.stderr,
            )
        eff_2_8 = (results[8] / results[2]) / 4.0
        eff_8_32 = (results[32] / results[8]) / 4.0
        weff_2_8 = (win_results[8] / win_results[2]) / 4.0
        weff_8_32 = (win_results[32] / win_results[8]) / 4.0
        md = (
            f"\n## Scaling run ({time.strftime('%Y-%m-%d %H:%M:%S')})\n\n"
            f"| parallelism | scan job (turns/sec) | window job (turns/sec) |\n|---|---|---|\n"
            f"| local[2] | {results[2]:,.0f} | {win_results[2]:,.0f} |\n"
            f"| local[8] | {results[8]:,.0f} | {win_results[8]:,.0f} |\n"
            f"| local[32] | {results[32]:,.0f} | {win_results[32]:,.0f} |\n\n"
            f"**Scaling efficiency N→4N (scan job): 2→8 cores = {eff_2_8:.3f}; "
            f"8→32 cores = {eff_8_32:.3f}** (target ≥ 0.8; input {rows:,} "
            f"transcript turns, best-of-3 after warm).\n"
            f"**Window job (shuffle-heavy merge-prefix running distinct): "
            f"2→8 = {weff_2_8:.3f}; 8→32 = {weff_8_32:.3f}** (best-of-2 after warm).\n\n"
            f"Note: this is a single-box proxy — all `local[N]` levels share "
            f"one DRAM controller, so 8→32 saturates memory bandwidth that a "
            f"real 4N-executor cluster would bring with its own nodes; the "
            f"2→8 pair is the bandwidth-unconstrained proxy.\n"
        )
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write(md)
        print(json.dumps({
            "metric": "scaling_efficiency",
            "value": round(max(eff_2_8, eff_8_32), 3),
            "unit": "ratio",
            "efficiency": {"2_to_8": round(eff_2_8, 3), "8_to_32": round(eff_8_32, 3)},
            "window_efficiency": {"2_to_8": round(weff_2_8, 3), "8_to_32": round(weff_8_32, 3)},
            "throughput": {str(k): round(v) for k, v in results.items()},
            "window_throughput": {str(k): round(v) for k, v in win_results.items()},
            "rows": rows,
        }))
        return

    t_path = transcripts_path(rows)
    d_path = docs_path(SF_DIR)
    e_path = emb_path()
    # corpus-scale pipeline tier runs FIRST (own session): its queries are
    # the biggest and have twice recorded 3-6x pressure artifacts when run
    # at the tail of a long-lived saturated session (VERDICT r3 item 3)
    spark = make_session(CPUS)
    try:
        timings, extras = run_pipeline_queries(spark, d_path, e_path)
    finally:
        spark.stop()
    spark = make_session(CPUS)
    try:
        t2, e2 = run_queries(spark, SF_DIR, t_path)
        timings.update(t2)
        extras.update(e2)
    finally:
        spark.stop()
    total = round(sum(timings.values()), 3)
    thr = round(extras["transcripts_rows"] / timings["q_transcripts_multisketch"])
    pressured = sorted(
        q for q, g in MEM_BEFORE.items() if not (g >= PRESSURE_GB)
    )
    mem_vals = [g for g in MEM_BEFORE.values() if g == g]
    print(json.dumps({
        "metric": "sketch_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "transcripts_turns_per_sec": thr,
        # self-identifying pressure markers: queries that STARTED under
        # PRESSURE_GB of MemAvailable — treat their numbers as upper bounds
        "pressured": pressured,
        "mem_avail_min_gb": round(min(mem_vals), 1) if mem_vals else None,
        # per-query CPU attribution for contention windows (busy/steal/
        # iowait %% over the query's wall window): an entry here marks the
        # number as environmental — low busy = descheduled or blocked,
        # steal = hypervisor neighbors — not an operator cost
        "contended": _contended_queries(timings),
        **extras,
        # compact separators: the r03 driver capture truncated this line
        # mid-JSON at ~48 queries; with 70+ queries every byte counts
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
