"""The three workloads: the ops each one times, and how each output is checked.

Every workload reads one seeded transcripts table and calls the library
only through its public functions. ``setup()`` builds what the timed ops
need (only ``probe_serve`` builds anything); ``ops()`` are the timed calls,
each returning a small result; ``Op.check`` tests one result cheaply and
``oracles()`` tests the first result of each op against answers computed
independently (exact Spark aggregates, local sketch builds).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from guava_probably_spark.functions import might_contain_udf
from guava_probably_spark.operators import (
    build_grouped,
    build_partials_files_multi,
    build_partials_multi,
    collect_sketch,
    collect_sketches_files,
    collect_sketches_multi,
    freeze_filter,
    freeze_map,
    frozen_lookup_join,
    frozen_probe_join,
    grouped_cms,
    grouped_hll,
    grouped_kll,
    grouped_theta,
    list_input_files,
    sketch_prune,
    sketch_semijoin,
)
from guava_probably_spark.operators.build import fold_sketch_rows
from guava_probably_spark.sketches import (
    CmsSketch,
    HllSketch,
    Sketch,
    SketchSpec,
    ThetaSketch,
)

# the four headline targets of the legacy bench.py transcripts job
HEADLINE = [
    ("hll_conv", "conv_id", SketchSpec("hll", {"p": 14})),
    ("bloom_conv", "conv_id", SketchSpec("bloom", {"capacity": 2_000_000, "fpp": 0.01})),
    ("cms_conv", "conv_id", SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01})),
    ("hll_text", "text", SketchSpec("hll", {"p": 14})),
]
FANIN = 4  # tree-merge fan-in: the 8 file partials merge in one shuffled stage
HLL_BOUND = 3 * 1.04 / math.sqrt(2**14)
GROUPED_CMS = {"epsilon": 0.1, "delta": 0.05}  # role has 4 values per conv_id
THETA_K = 4096
SHARDS = 64  # frozen-table shards: join ops stay within a few x the broadcast op
FPP = 0.01


@dataclass
class Op:
    name: str  # end-to-end metric stem: <name>_s
    run: Callable[[], object]
    check: Callable[[object], list[str]]  # problems with one result
    first: Callable[[], object] | None = None  # the warm-up call, if not ``run``


def _exact_hits(values, sketch) -> bool:
    """True when every value probes as present (no false negative)."""
    return bool(np.asarray(sketch.might_contain_batch(values.combine_chunks())).all())


class _Workload:
    name = ""

    def __init__(self, spark, table, tracer):
        self.spark = spark
        self.table = table
        self.stats = table.stats
        self.tracer = tracer
        self.df = spark.read.parquet(table.path)

    def setup(self) -> None:
        """Set-up builds the timed ops need; none for build workloads."""

    def oracles(self, first: dict) -> dict[str, list[str]]:
        raise NotImplementedError

    def blob_bytes(self, first: dict) -> int:
        raise NotImplementedError

    def traced_extras(self) -> dict:
        """Extra spans run once per traced pass, outside its wall time."""
        return {}

    def layer_metrics(self, op_counters: dict, first: dict) -> dict:
        """Workload-specific per-layer metrics from the traced run."""
        return {}

    def _keys(self, columns):
        return pq.read_table(self.table.keys_path, columns=columns)


class GlobalBuild(_Workload):
    """Four headline sketches over the whole table, once through the pyarrow
    file scan and once through the JVM scan: no row shuffle."""

    name = "global_build"

    def __init__(self, spark, table, tracer):
        super().__init__(spark, table, tracer)
        self.reference: dict[str, bytes] | None = None

    def ops(self) -> list[Op]:
        return [
            Op(
                "files_build",
                lambda: collect_sketches_files(self.spark, self.table.path, HEADLINE, fanin=FANIN),
                self._check,
            ),
            Op(
                "jvm_build",
                lambda: collect_sketches_multi(self.df, HEADLINE, fanin=FANIN),
                self._check,
            ),
        ]

    def _check(self, out: dict) -> list[str]:
        rows = self.stats["rows"]
        problems = [
            f"{name}: n={out[name][1]} overflow={out[name][2]} for {rows} rows"
            for name, _, _ in HEADLINE
            if out[name][1] != rows or out[name][2]
        ]
        blobs = {name: out[name][0].to_bytes() for name, _, _ in HEADLINE}
        if self.reference is None:
            self.reference = blobs
        elif blobs != self.reference:
            # bloom, HLL and CMS blobs are byte-equal across scan paths,
            # partitionings and merge orders
            problems.append("blobs differ from the first build")
        return problems

    def oracles(self, first: dict) -> dict[str, list[str]]:
        s = self.stats
        out = first["files_build"]
        problems = []
        for name, exact in (("hll_conv", s["distinct_conv"]), ("hll_text", s["distinct_text"])):
            est = out[name][0].estimate()
            if abs(est - exact) > HLL_BOUND * exact:
                problems.append(f"{name}: estimate {est:.0f} vs exact {exact}")
        keys = self._keys(["conv_id", "rows"])
        if not _exact_hits(keys.column("conv_id"), out["bloom_conv"][0]):
            problems.append("bloom_conv: a false negative on a conv_id")
        cms = out["cms_conv"][0]
        slack = HEADLINE[2][2].params["epsilon"] * s["rows"]
        for key in (s["hot_conv"], s["cold_conv"]):
            true = keys.filter(pc.equal(keys.column("conv_id"), key)).column("rows")[0].as_py()
            est = cms.freq(key)
            if not true <= est <= true + slack:
                problems.append(f"cms_conv: {key} estimate {est} outside [{true}, {true + slack:.0f}]")
        return {"files_build": problems}

    def blob_bytes(self, first: dict) -> int:
        return sum(len(b) for b in self.reference.values())

    def traced_extras(self) -> dict:
        files = list_input_files(self.spark, self.table.path)
        with self.tracer.span("build.partials") as partials:
            rows = build_partials_files_multi(self.spark, files, HEADLINE).collect()
        with self.tracer.span("build.partials_jvm") as partials_jvm:
            build_partials_multi(self.df, HEADLINE).collect()
        with self.tracer.span("build.fold") as fold:
            folded = {
                name: fold_sketch_rows([(r.sketch, r.n, r.overflow) for r in rows if r.name == name])
                for name, _, _ in HEADLINE
            }
        same = all(folded[name][0].to_bytes() == self.reference[name] for name, _, _ in HEADLINE)
        return {
            "build.partials_s": partials["end"] - partials["start"],
            "build.partials_jvm_s": partials_jvm["end"] - partials_jvm["start"],
            "build.fold_s": fold["end"] - fold["start"],
            "build.partial_rows": len(rows),
            "build.partial_blob_bytes": sum(len(r.sketch) for r in rows),
            "problems": [] if same else ["fold of collected partials differs from the build"],
        }

    def layer_metrics(self, op_counters: dict, first: dict) -> dict:
        out = {}
        for op in ("files_build", "jvm_build"):
            c = op_counters.get(op, {})
            out[f"{op}.arrow.bytes_to_py"] = c.get("arrow.bytes_to_py", 0.0)
            out[f"{op}.shuffle.records"] = c.get("shuffle.records", 0.0)
        out["driver.collect_bytes"] = op_counters.get("files_build", {}).get(
            "driver.collect_bytes", 0.0
        )
        return out


def _force(frame) -> tuple[int, int]:
    """Materialize a grouped sketch table. ``count()`` alone would let
    Catalyst prune the sketch column, so aggregate its bytes too."""
    row = frame.agg(F.count("*"), F.sum(F.length("sketch"))).first()
    return int(row[0]), int(row[1] or 0)


class GroupedBuild(_Workload):
    """Five per-key builds over the power-law conv_id: the rows shuffle."""

    name = "grouped_build"
    KINDS = {
        "grouped_hll": "hll",
        "grouped_kll": "kll",
        "grouped_cms": "cms",
        "grouped_theta": "theta",
        "grouped_generic": "generic",
    }

    def __init__(self, spark, table, tracer):
        super().__init__(spark, table, tracer)
        self.days = self.df.withColumn("day", F.to_date("ts"))
        self.bloom = SketchSpec("bloom", {"capacity": self.stats["distinct_conv"], "fpp": FPP})
        self.reference: dict[str, tuple[int, int]] = {}
        self.persisted: dict = {}  # op -> its first, persisted output table
        self.captured: dict[str, dict] = {}  # op -> {key: output row}

    def frames(self) -> dict:
        """op -> (grouped table factory, key column, keys the oracles need)."""
        s = self.stats
        convs = (s["hot_conv"], s["cold_conv"])
        return {
            "grouped_hll": (lambda: grouped_hll(self.df, "conv_id", "text"), "conv_id", convs),
            "grouped_kll": (lambda: grouped_kll(self.df, "conv_id", "turn_idx"), "key", convs),
            "grouped_cms": (
                lambda: grouped_cms(self.df, "conv_id", "role", **GROUPED_CMS),
                "key",
                convs,
            ),
            "grouped_theta": (
                lambda: grouped_theta(self.days, "day", "conv_id", k=THETA_K),
                "day",
                (s["hot_day"], s["cold_day"]),
            ),
            "grouped_generic": (
                lambda: build_grouped(self.df, "role", "conv_id", self.bloom, salt=8),
                "role",
                None,  # all four roles
            ),
        }

    def ops(self) -> list[Op]:
        s = self.stats
        groups = {
            "grouped_hll": s["distinct_conv"],
            "grouped_kll": s["distinct_conv"],
            "grouped_cms": s["distinct_conv"],
            "grouped_theta": s["distinct_days"],
            "grouped_generic": s["distinct_roles"],
        }

        def op(name, frame, key_col, keys):
            def first():
                # the warm-up pass persists its table, so ``check`` can
                # keep the rows the oracles need without building it again;
                # that pass is not timed
                self.persisted[name] = frame().persist()
                return _force(self.persisted[name])

            def check(result):
                table = self.persisted.pop(name, None)
                if table is not None:
                    key = F.col(key_col).cast("string")
                    picked = table if keys is None else table.where(key.isin(*keys))
                    self.captured[name] = {str(r[key_col]): r for r in picked.collect()}
                    table.unpersist()
                problems = []
                if result[0] != groups[name]:
                    problems.append(f"{name}: {result[0]} rows for {groups[name]} keys")
                # KLL compaction may depend on merge order; the others are
                # byte-equal across runs, so their total bytes repeat
                ref = self.reference.setdefault(name, result)
                if name != "grouped_kll" and result[1] != ref[1]:
                    problems.append(f"{name}: {result[1]} blob bytes, first run {ref[1]}")
                return problems

            return Op(name, lambda: _force(frame()), check, first)

        return [op(name, *spec) for name, spec in self.frames().items()]

    def oracles(self, first: dict) -> dict[str, list[str]]:
        s = self.stats
        got = self.captured
        problems: dict[str, list[str]] = {name: [] for name in got}
        hot, cold = s["hot_conv"], s["cold_conv"]
        local = self.df.where(F.col("conv_id").isin(hot, cold)).select(
            "conv_id", "text", "role", "turn_idx"
        ).toArrow()
        days = (s["hot_day"], s["cold_day"])
        day_rows = (
            self.days.where(F.col("day").cast("string").isin(*days))
            .select(F.col("day").cast("string").alias("day"), "conv_id")
            .toArrow()
        )

        def rows_of(table, col, key):
            return table.filter(pc.equal(table.column(col), key))

        # byte-equality with a local build of the same key's rows
        for name, make, rows, col, keys in (
            ("grouped_hll", lambda: HllSketch(p=14), local, "text", (hot, cold)),
            ("grouped_cms", lambda: CmsSketch(**GROUPED_CMS), local, "role", (hot, cold)),
            ("grouped_theta", lambda: ThetaSketch(k=THETA_K), day_rows, "conv_id", days),
        ):
            key_col = "day" if name == "grouped_theta" else "conv_id"
            for key in keys:
                sub = rows_of(rows, key_col, key)
                ref = make()
                ref.update(sub.column(col).combine_chunks())
                row = got[name].get(key)
                if row is None or bytes(row.sketch) != ref.to_bytes():
                    problems[name].append(f"blob of {key} differs from a local build")
                elif row.n != sub.num_rows:
                    problems[name].append(f"n of {key} is {row.n}, not {sub.num_rows}")

        # KLL: every rank of the hot key within the sketch's bound
        values = rows_of(local, "conv_id", hot).column("turn_idx").to_numpy()
        row = got["grouped_kll"].get(hot)
        if row is None or row.n != len(values):
            problems["grouped_kll"].append(f"hot key {hot} missing or with the wrong n")
        else:
            sk = Sketch.from_bytes(bytes(row.sketch))
            if any(
                abs(sk.rank(float(v)) - float((values < v).mean())) > sk.rank_error_bound()
                for v in set(values.tolist())
            ):
                problems["grouped_kll"].append("a rank of the hot key is outside the bound")

        # generic bloom per role: no false negative on any of the role's conv_ids
        pairs = self.df.select("role", "conv_id").distinct().toArrow()
        for role, row in got["grouped_generic"].items():
            ids = rows_of(pairs, "role", role).column("conv_id")
            if not _exact_hits(ids, Sketch.from_bytes(bytes(row.sketch))):
                problems["grouped_generic"].append(f"a false negative in role {role}")
        return problems

    def blob_bytes(self, first: dict) -> int:
        return sum(result[1] for result in first.values())

    def layer_metrics(self, op_counters: dict, first: dict) -> dict:
        out = {}
        for name, kind in self.KINDS.items():
            c = op_counters.get(name, {})
            rows, blob = first.get(name, (0, 0))
            out[f"grouped.{kind}.py_time_s"] = c.get("arrow.py_time_s", 0.0)
            out[f"grouped.{kind}.jobs"] = c.get("spark.jobs", 0.0)
            out[f"grouped.{kind}.shuffle_records"] = c.get("shuffle.records", 0.0)
            out[f"grouped.{kind}.out_rows"] = float(rows)
            out[f"grouped.{kind}.blob_bytes"] = float(blob)
        return out


class ProbeServe(_Workload):
    """The read path: probe the whole table against structures built once
    over a dimension holding about half the conv_ids."""

    name = "probe_serve"

    def __init__(self, spark, table, tracer):
        super().__init__(spark, table, tracer)
        self.dim = spark.read.parquet(table.keys_path).where("in_dim").select("conv_id", "label")
        self.reference: dict[str, object] = {}

    def setup(self) -> None:
        spec = SketchSpec("bloom", {"capacity": self.stats["dim_keys"], "fpp": FPP})
        bloom, _, _ = collect_sketch(self.dim, "conv_id", spec)
        self.bloom = bloom
        self.bloom_blob = bloom.to_bytes()
        self.probe = might_contain_udf(self.spark, self.bloom_blob)
        with self.tracer.span("freeze.build") as span:
            self.frozen_filter = freeze_filter(self.dim, "conv_id", shards=SHARDS).persist()
            self.frozen_map = freeze_map(self.dim, "conv_id", "label", shards=SHARDS).persist()
            self.frozen_bytes = sum(
                _force(t)[1] for t in (self.frozen_filter, self.frozen_map)
            )
        self.freeze_build_s = span["end"] - span["start"]

    def ops(self) -> list[Op]:
        s = self.stats
        df = self.df

        def lookup():
            row = frozen_lookup_join(df, "conv_id", self.frozen_map, SHARDS).agg(
                F.count("*"), F.count("frozen_value"), F.sum("frozen_value")
            ).first()
            return tuple(int(v or 0) for v in row)

        def repeatable(name, ok):
            def check(result):
                problems = [] if ok(result) else [f"{name}: result {result} fails its bound"]
                if result != self.reference.setdefault(name, result):
                    problems.append(f"{name}: result {result} differs from the first run")
                return problems

            return check

        in_range = lambda c: s["join_rows"] <= c <= s["rows"]  # noqa: E731
        return [
            Op(
                "bcast_probe",
                lambda: df.filter(self.probe(F.col("conv_id"))).count(),
                repeatable("bcast_probe", in_range),
            ),
            Op(
                "join_probe",
                lambda: frozen_probe_join(df, "conv_id", self.frozen_filter, SHARDS).count(),
                repeatable("join_probe", in_range),
            ),
            Op(
                "join_lookup",
                lookup,
                repeatable(
                    "join_lookup", lambda r: r[0] == s["rows"] and r[1] >= s["join_rows"]
                ),
            ),
            Op(
                "semijoin",
                lambda: sketch_semijoin(self.spark, df, "conv_id", self.dim, "conv_id").count(),
                repeatable("semijoin", lambda c: c == s["join_rows"]),
            ),
        ]

    def oracles(self, first: dict) -> dict[str, list[str]]:
        s = self.stats
        problems: dict[str, list[str]] = {"bcast_probe": [], "join_probe": [], "join_lookup": []}
        keys = self._keys(["conv_id", "in_dim"])
        dim_keys = keys.filter(keys.column("in_dim")).column("conv_id")
        if not _exact_hits(dim_keys, self.bloom):
            problems["bcast_probe"].append("bloom: a false negative on a dimension key")
        hits = frozen_probe_join(self.dim, "conv_id", self.frozen_filter, SHARDS).count()
        if hits != s["dim_keys"]:
            problems["join_probe"].append(f"xor filter: {hits} of {s['dim_keys']} dimension keys hit")
        wrong = (
            frozen_lookup_join(self.dim, "conv_id", self.frozen_map, SHARDS)
            .where(F.col("frozen_value").isNull() | (F.col("frozen_value") != F.col("label")))
            .count()
        )
        if wrong:
            problems["join_lookup"].append(f"xor map: {wrong} dimension keys without their label")
        return problems

    def blob_bytes(self, first: dict) -> int:
        return self.frozen_bytes

    def layer_metrics(self, op_counters: dict, first: dict) -> dict:
        s = self.stats
        out = {
            f"probe.{op}.bytes_to_py_per_row": op_counters.get(op, {}).get("arrow.bytes_to_py", 0.0)
            / s["rows"]
            for op in ("bcast_probe", "join_probe", "join_lookup", "semijoin")
        }
        survivors = sketch_prune(self.spark, self.df, "conv_id", self.dim, "conv_id").count()
        out.update(
            {
                "probe.broadcast_bytes": float(len(self.bloom_blob)),
                "freeze.blob_bytes": float(self.frozen_bytes),
                "freeze.build_s": self.freeze_build_s,
                "semijoin.survivor_ratio": survivors / s["rows"],
                "semijoin.fp_ratio": (survivors - s["join_rows"]) / max(survivors, 1),
            }
        )
        return out


WORKLOADS = {w.name: w for w in (GlobalBuild, GroupedBuild, ProbeServe)}
