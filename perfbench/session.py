"""Spark session, seeded inputs and process-tree memory for the benchmark.

Everything the benchmark writes (Spark scratch, cached inputs, traces)
lives under ``WORK`` inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = len(os.sched_getaffinity(0))
HEAP = "1g"
ARROW_BATCH = 16384
INPUT_FILES = 8  # one file per partial build: 8 partials, one merge level at fan-in 4
KEEP_INPUTS = 64  # cached inputs kept on disk (about 3 MB each), newest first


def configure_env() -> None:
    """Process environment, set before the JVM starts (children inherit it)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # glibc arena reuse in the Python workers: without it every numpy
    # temporary is a fresh mmap, and kernel times wander run to run
    os.environ["MALLOC_MMAP_MAX_"] = "0"
    os.environ["MALLOC_TRIM_THRESHOLD_"] = "-1"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def start_session():
    """The benchmark's one session shape: ``local[nproc]``, UI off, fixed
    Arrow batches, a pinned heap so memory repeats run to run."""
    from pyspark.sql import SparkSession

    java_opts = (
        f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:MaxDirectMemorySize=1g "
        f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    )
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.local.dir", str(WORK / "spark"))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Table:
    """One seeded transcripts input plus its exact facts."""

    path: str  # parquet directory of the transcripts
    keys_path: str  # per-conv_id facts: rows, in_dim, label
    stats: dict  # exact aggregates (rows, distinct counts, hot/cold keys)


def ensure_input(spark, rows: int, seed: int) -> Table:
    """Synthesize the transcripts for (rows, seed) once and cache them with
    their per-key facts; later runs with the same pair read the cache. The
    exact aggregates are computed with Spark on every run, so every run
    pays the JVM's first jobs here, before set-up, cached input or not."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from guava_probably_spark.sources import synth_transcripts

    root = WORK / "inputs"
    done = root / f"r{rows}_f{INPUT_FILES}_s{seed}"
    if not done.exists():
        tmp = root / f".tmp-{done.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        synth_transcripts(spark, rows, seed).repartition(INPUT_FILES).write.parquet(
            str(tmp / "transcripts")
        )
        data = spark.read.parquet(str(tmp / "transcripts"))
        # the dimension holds about half the conv_ids; labels fit 8 bits
        data.groupBy("conv_id").agg(F.count("*").alias("rows")).select(
            "conv_id",
            "rows",
            (F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(2)) == 0).alias("in_dim"),
            F.pmod(F.xxhash64("conv_id"), F.lit(256)).alias("label"),
        ).coalesce(1).write.parquet(str(tmp / "keys"))
        tmp.rename(done)
        _evict(root)
    data = spark.read.parquet(str(done / "transcripts"))
    facts = data.agg(
        F.count("*").alias("rows"),
        F.countDistinct("conv_id").alias("distinct_conv"),
        F.countDistinct("text").alias("distinct_text"),
        F.countDistinct("role").alias("distinct_roles"),
    ).first()
    days = data.groupBy(F.to_date("ts").cast("string").alias("day")).count().toPandas()
    keys = pq.read_table(str(done / "keys")).to_pandas()
    dim = keys[keys.in_dim]
    # hot = most rows, cold = fewest; ties go to the smallest key
    keys = keys.sort_values(["rows", "conv_id"], ascending=[False, True])
    days = days.sort_values(["count", "day"], ascending=[False, True])
    stats = {
        "rows": facts["rows"],
        "distinct_conv": facts["distinct_conv"],
        "distinct_text": facts["distinct_text"],
        "distinct_roles": facts["distinct_roles"],
        "distinct_days": len(days),
        "dim_keys": len(dim),
        "join_rows": int(dim.rows.sum()),
        "hot_conv": keys.conv_id.iloc[0],
        "cold_conv": keys.sort_values(["rows", "conv_id"]).conv_id.iloc[0],
        "hot_day": days.day.iloc[0],
        "cold_day": days.sort_values(["count", "day"]).day.iloc[0],
    }
    return Table(path=str(done / "transcripts"), keys_path=str(done / "keys"), stats=stats)


def _evict(root: Path) -> None:
    cached = sorted(
        (p for p in root.iterdir() if p.is_dir() and not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
    )
    for p in cached[:-KEEP_INPUTS]:
        shutil.rmtree(p, ignore_errors=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and every
    descendant still alive: the driver JVM and the Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies of the machine since boot, from /proc/stat:
    steal is time the host ran something else while this VM wanted a CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]
