#!/usr/bin/env python
"""Capture the physical plans of the core operators into docs/PLANS.md.

The plan shapes ARE the scale argument (no raw-row shuffle, pruned scans,
single exchange for windows, zero exchange for bucketed merges); this dumps
them from a live session so the document can't drift from the code.

    python scripts/dump_plans.py                     # the whole document
    python scripts/dump_plans.py "Sketch anti-join"  # only the sections
                                                     # whose titles begin with it
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from guava_probably_spark.operators import (
        build_grouped,
        build_partials_multi,
        grouped_hll,
        merge_sketch_tables,
        running_distinct,
        sketch_semijoin,
        tree_merge,
        write_bucketed_sketches,
    )
    from guava_probably_spark.sketches import SketchSpec

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", "/tmp/gps-plans-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(SF_DIR, "part.parquet"))

    sections: list[tuple[str, str, str]] = []

    partials = build_partials_multi(
        events, [("user_id", "user_id", SketchSpec("hll", {"p": 12}))]
    )
    sections.append((
        "Global sketch build — partials",
        "One `MapInArrow` per scan partition; **column pruning reaches the "
        "scan** (ReadSchema lists only the sketched column) and there is "
        "**no Exchange below the Python node** — raw rows never shuffle. "
        "The partial rows above this are KB-sized blobs.",
        fmt(partials),
    ))

    merged = tree_merge(partials.repartition(8), fanin=2)
    sections.append((
        "Tree merge of partials",
        "Each stage repartitions only sketch-blob rows (KB each) and merges "
        "them in `MapInArrow` — the treeAggregate shape; the raw-data scan "
        "appears exactly once, below the first stage.",
        fmt(merged),
    ))

    g = build_grouped(events, "event_type", "user_id", SketchSpec("hll", {"p": 12}))
    sections.append((
        "Grouped build (one key exchange, one Python stage)",
        "`build_grouped` is a sorted kind of the one grouped plan "
        "(`_arrow_common.grouped_build`): the JVM projects (keys, value) "
        "under `__gp_` aliases; ONE Exchange co-locates each key in "
        "`defaultParallelism` partitions, a Sort orders each partition by "
        "key, and ONE `MapInArrow` streams the sorted batches into one "
        "sketch per key.",
        fmt(g),
    ))

    w = running_distinct(events, "user_id", "ts", "event_type", p=12)
    sections.append((
        "Merge-prefix running distinct (window)",
        "Exactly ONE Exchange (`repartition(key)`); the sort is "
        "partition-local (`Sort [local]` — no second shuffle) and the "
        "kernel is a single `MapInArrow` over the sorted partition.",
        fmt(w),
    ))

    from guava_probably_spark.operators import sketch_antijoin

    def both_regimes(join):
        """The join's plan with a broadcastable dim, then with
        autoBroadcastJoinThreshold=-1 (the regime of a dim past it)."""
        small = fmt(join())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return small, fmt(join())
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    dim = part.filter(F.col("p_size") < 15)
    small, large = both_regimes(
        lambda: sketch_semijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
    )
    sections.append((
        "Sketch semi-join pruning — broadcastable dim",
        "The dim is within `spark.sql.autoBroadcastJoinThreshold` (Spark's "
        "own `canBroadcastBySize` rule), so the result is the plain "
        "`BroadcastHashJoin`: it never shuffles the fact side and is "
        "already an exact membership test, so no filter is built, the dim "
        "is not counted and no row goes to Python.",
        small,
    ))
    sections.append((
        "Sketch semi-join pruning — dim past the broadcast threshold",
        "Shown with `autoBroadcastJoinThreshold=-1`. The fact side is "
        "filtered by the broadcast bloom probe (`ArrowEvalPython`) ahead "
        "of the join, which keeps its broadcast hint, so the fact side "
        "never shuffles; the `BroadcastHashJoin` drops the false "
        "positives. Catalyst also infers the deterministic probe through "
        "the join key onto the dim side, a second Python pass that drops "
        "no dim row (ROADMAP item 6).",
        large,
    ))
    small, large = both_regimes(
        lambda: sketch_antijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
    )
    sections.append((
        "Sketch anti-join (corpus delta) — broadcastable dim keys",
        "Exact mode with the distinct dim keys within the threshold: ONE "
        "`BroadcastHashJoin LeftAnti` and no filter, no union, no Python.",
        small,
    ))
    sections.append((
        "Sketch anti-join (corpus delta) — dim keys past the threshold",
        "Shown with `autoBroadcastJoinThreshold=-1`. Two branches under the "
        "union: probe==False rows pass with NO join at all; only the "
        "candidate slice (matches + fpp·new) enters the broadcast "
        "`left_anti` join against the distinct dim keys that rescues "
        "false positives. Neither fact branch shuffles.",
        large,
    ))

    from guava_probably_spark.operators import freeze_filter, frozen_probe_join

    frozen = freeze_filter(events, "event_id", fbits=8, shards=8)
    sections.append((
        "XOR-filter freeze (serving-side compaction)",
        "Keys hash JVM-side (`xxhash64` in the projection — no value bytes "
        "cross the Python boundary), ONE Exchange routes hashes to shards, "
        "and each shard's filter solves inside `FlatMapGroupsInPandas`; "
        "the output is the KB-scale (shard, blob) table — no key list "
        "ever reaches the driver. The freeze persists that table and sizes "
        "it in one action, so its plan reads the cache "
        "(`InMemoryTableScan`) over the solve.",
        fmt(frozen),
    ))
    small, large = both_regimes(lambda: frozen_probe_join(events, "event_id", frozen))
    sections.append((
        "Frozen-filter probe — broadcastable blob table",
        "The blob table is within `spark.sql.autoBroadcastJoinThreshold` "
        "(the rule the sketch joins use, on the blob bytes the freeze "
        "measured), so the first `frozen_probe_join` collects and "
        "broadcasts it, every later probe reuses that broadcast, and the "
        "fact scan is filtered by an "
        "`ArrowEvalPython` probe whose only input is `xxhash64` computed "
        "in codegen — no join, no shuffle, 8 B per row to Python. FPs "
        "are exactly 2^-f and a downstream exact join can rescue them "
        "where needed.",
        small,
    ))
    sections.append((
        "Frozen-filter probe — blob table past the broadcast threshold",
        "Shown with `autoBroadcastJoinThreshold=-1`; the regime of a blob "
        "table past broadcast size (~50 GB at 4·10^10 keys). The probe "
        "hash routes to its shard in codegen (`pmod(xxhash64(k), "
        "shards)`), a `ShuffledHashJoin` lands every probe row beside "
        "exactly its shard's blob (hinted shuffle-hash), and the probe "
        "runs in `ArrowEvalPython` against the joined blob column with a "
        "per-worker decode cache. The blob side reads the cached table; "
        "no driver collect of blobs.",
        large,
    ))

    for i in range(2):
        half = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i)
        gh = build_grouped(half, "event_type", "user_id", SketchSpec("hll", {"p": 12}))
        spark.sql(f"DROP TABLE IF EXISTS plans_half_{i}")
        write_bucketed_sketches(gh, f"plans_half_{i}", "event_type", buckets=4,
                                path=f"/tmp/gps-plans-warehouse/h{i}")
    bm = merge_sketch_tables(spark, "plans_half_0", "plans_half_1", "event_type")
    sections.append((
        "Bucketed sketch-store merge",
        "**Zero Exchange operators**: both tables were written "
        "`bucketBy(key)` with the same bucket count, so the full-outer "
        "merge-join reads co-located buckets — the shuffle was paid once "
        "at write time.",
        fmt(bm),
    ))

    from guava_probably_spark.operators.grouped_quantiles import quantile_trim
    from guava_probably_spark.pipeline.packing import concat_group_texts, pack_sequences
    from guava_probably_spark.pipeline.sampling import hash_sample, hash_split

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sections.append((
        "Deterministic hash sample (bottom-k)",
        "`TakeOrderedAndProject`: every task keeps a k-row heap, only "
        "k rows per partition reach the driver merge — no full sort, no "
        "shuffle stage at all.",
        fmt(hash_sample(docs, ["doc_id"], 256)),
    ))
    sections.append((
        "Deterministic train/val/test split",
        "A pure `Project` inside `WholeStageCodegen` over the scan — "
        "zero Exchange; a 100 TB split costs one scan.",
        fmt(hash_split(docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})),
    ))
    sections.append((
        "Per-group quantile trim",
        "Threshold relation (one double per key) enters a "
        "`BroadcastExchange` + `BroadcastHashJoin`; the data side is "
        "scanned once and filtered by codegen — the raw table never "
        "shuffles.",
        fmt(quantile_trim(docs, "source", "n_chars", 0.9)),
    ))
    sections.append((
        "Sequence packing (exact prefix sum)",
        "The upstream range shuffle + partition-local sort are "
        "materialized by the `localCheckpoint` (the `Scan ExistingRDD` "
        "below IS that shuffle output, paid exactly once and shared with "
        "the O(#partitions) totals job); what remains on the critical "
        "path is one `MapInArrow` + a codegen `Project`. A naive `SUM "
        "OVER (ORDER BY)` would be `Exchange SinglePartition` — the "
        "anti-plan this operator exists to avoid.",
        fmt(pack_sequences(docs, ["doc_id"], "n_chars", budget=4096)),
    ))
    sections.append((
        "Group-ordered text flattening",
        "One hash aggregation (`ObjectHashAggregate` partial → final): "
        "`collect_list` partials run map-side, the per-group ordering is "
        "`sort_array` inside the aggregate expression — no window, no "
        "per-group Python.",
        fmt(concat_group_texts(docs, "source", "doc_id", "text")),
    ))

    from guava_probably_spark.pipeline.contamination import ngram_overlap_contamination

    ev_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    sections.append((
        "N-gram decontamination (eval-side filter)",
        "The filter is built on the SMALL side (eval grams → KB-MB bloom); "
        "the train corpus is scanned ONCE with the broadcast probe pruning "
        "rows inside the scan stage (`ArrowEvalPython` directly over the "
        "NGram projection, then a `Filter`), and only the surviving gram "
        "set — matches + fpp·|train| — reaches the distinct + broadcast "
        "join that erases the false positives. No train-sized state "
        "anywhere in the plan: this shape survives 10^12 train grams, "
        "where a train-side bloom is terabytes.",
        fmt(ngram_overlap_contamination(docs, ev_docs, "doc_id", "text", n=5)),
    ))

    from guava_probably_spark.operators import grouped_kll

    # a planted hot key: 40,000 rows of one key over 4 input partitions,
    # far above KLL's probe threshold (max(16k, 1024) rows per partition)
    hot = spark.range(0, 40_000, 1, 4).select(
        F.lit("hot").alias("event_type"), (F.col("id") % 97).cast("double").alias("value")
    )
    sections.append((
        "Grouped KLL — one Python stage (default)",
        "The KLL family is a sorted kind of the one grouped plan, as "
        "`build_grouped` is. With no hot key: the JVM drops NULL and NaN "
        "values and projects (key, double value), ONE Exchange co-locates "
        "each key, a Sort above it orders each partition by key, and ONE "
        "`MapInArrow` streams the sorted batches into one sketch per key "
        "(`build._grouped_build_stage`).",
        fmt(grouped_kll(events, "event_type", "value", k=64)),
    ))
    sections.append((
        "Grouped KLL — two-phase skew armor (planted hot key)",
        "Built from a planted hot key (40,000 rows of one key over 4 input "
        "partitions), so the shared driver's sampled skew probe fires. "
        "Phase 1 (`MapInArrow` directly over the input) pre-builds partial "
        "sketch blobs for per-partition-hot keys and forwards cold rows "
        "raw; the ONE Exchange above it carries the mixed narrow stream "
        "(8-byte values + KB blobs), never a hot key's raw row set. Above "
        "it a Sort orders each partition by key, and the one stream stage "
        "ingests a key's raw rows and merges its partial blobs. Unskewed "
        "inputs keep the single-phase shape (no first MapInArrow).",
        fmt(grouped_kll(hot, "event_type", "value", k=64)),
    ))
    sections.append((
        "Grouped HLL — one Python stage (default)",
        "The shared driver's plan (`_arrow_common.grouped_build`) when no "
        "map-side combine runs (always for HLL; for the other grouped "
        "builds when the sampled skew probe finds no hot key): the "
        "JVM projects (key, value), ONE Exchange co-locates each key in "
        "`defaultParallelism` partitions (one wave of Python tasks) unless "
        "`partitions` is given, and ONE `MapInArrow` hashes the values "
        "and builds every key's sketch in the same task. A hot key swaps "
        "in a map-side combine below the Exchange (second `MapInArrow`).",
        fmt(grouped_hll(events, "event_type", "user_id", p=12)),
    ))
    sections.append((
        "Grouped HLL — JVM prehash (prehash=True)",
        "NO Python node below the Exchange: the value column is hashed by "
        "codegen `xxhash64` inside the scan projection, so only "
        "(key, int64) rows cross into Python after the shuffle — a wide "
        "text column never pays the Arrow IPC.",
        fmt(grouped_hll(events, "event_type", "user_id", p=12, prehash=True)),
    ))

    from guava_probably_spark.operators import source_overlap_matrix
    from guava_probably_spark.pipeline.textops import remove_boilerplate_lines

    sections.append((
        "Source-overlap matrix (all-pairs set algebra from blobs)",
        "ONE corpus scan (the grouped-theta build; the map-side KMV combine "
        "runs when the skew probe finds a hot source) "
        "produces a ≤k·8-byte blob per source, pinned once via eager "
        "`localCheckpoint` (both `Scan ExistingRDD` nodes below read that "
        "materialized blob table — without it the self-join re-derived the "
        "corpus scan on each side); the O(S²) pair stage is a **broadcast "
        "nested-loop join between two blob relations** + one `MapInArrow` — "
        "the corpus is never self-joined and everything above the scan is "
        "metadata-scale.",
        fmt(source_overlap_matrix(docs.withColumn("src",
            (F.col("doc_id") % 4).cast("string")), "src", "text", k=256)),
    ))
    sections.append((
        "Corpus-level boilerplate line removal",
        "All codegen, no Python: one `posexplode` line relation feeds (a) "
        "the boilerplate key set (distinct (hash, doc) pairs → "
        "count-distinct-docs filter) and (b) a `LEFT ANTI` join on the "
        "8-byte line hash (AQE broadcasts the key set when small; at TB "
        "key scale it degrades to a hash join on the hash, never on line "
        "text), then one `ObjectHashAggregate` re-assembles each doc with "
        "`sort_array` — map-side partials, one exchange of (id, line) "
        "pairs.",
        fmt(remove_boilerplate_lines(docs, min_docs=3)),
    ))

    from guava_probably_spark.pipeline.dsir import dsir_logweights
    from guava_probably_spark.pipeline.textops import c4_quality_df, ngram_repetition_df

    sections.append((
        "Gopher n-gram repetition signals (zero-shuffle Arrow kernel)",
        "Per-doc gram statistics need NO exchange at any scale: tokenize "
        "JVM-side (codegen `split`), one `MapInArrow` kernel does exact "
        "per-doc counting via dictionary codes + injective int64 gram-id "
        "composition, and the gate is a projection above it. The r4 "
        "rewrite replaced a 300M-row (id, n, gram) exchange plan "
        "(63 s → 6.9 s isolated at 400k docs).",
        fmt(ngram_repetition_df(docs, "doc_id", "text")),
    ))
    sections.append((
        "C4 cleaning rules (pure scalar projection)",
        "Line filter + page gates + exact clean_text in ONE zero-Exchange "
        "projection — the only HOF iterates lines (~10/doc). Column "
        "pruning reaches the scan.",
        fmt(c4_quality_df(docs, "doc_id", "text")),
    ))
    sections.append((
        "DSIR importance weights (scored pass)",
        "The 10k-row lambda table arrives via `BroadcastHashJoin` (never a "
        "sort-merge against the gram stream); the exploded grams aggregate "
        "per doc with map-side combine, so the only hash exchange carries "
        "~one row per doc. `lw_scaled` is an integer sum — byte-identical "
        "under any partitioning. The `Scan ExistingRDD` below is the "
        "pinned (id, bucket) gram frame shared with the count fit.",
        fmt(dsir_logweights(docs, docs.limit(50), "doc_id", "text", 257)),
    ))

    from guava_probably_spark.operators import profile_partials
    from guava_probably_spark.pipeline.integrity import (
        corpus_digest,
        transcript_integrity,
    )

    sections.append((
        "Table profiler — partials (one scan, every column)",
        "ONE `MapInArrow` over the pruned multi-column scan builds the "
        "per-column HLL/MG/KLL bundle per partition — zero Exchange below "
        "or above the Python node; the merge phase (not shown) groups "
        "C column-rows of KB blobs.",
        fmt(profile_partials(events)),
    ))
    sections.append((
        "Corpus integrity digest (pure codegen reduction)",
        "md5 evaluates ONCE in its own projection (the nibble form repeated "
        "it 15×, measured 2× slower on KB text), `conv` assembles the u60, "
        "and the exact decimal sum reduces map-side: one `HashAggregate` "
        "pair around a single-row exchange — nothing but (sum, count) "
        "crosses the wire per partition.",
        fmt(corpus_digest(events.selectExpr("user_id AS conv_id",
            "event_id AS turn_idx", "props AS text"),
            ["conv_id", "turn_idx", "text"])),
    ))
    sections.append((
        "Transcript structural validation (single shuffle)",
        "The lag window and the per-conv aggregation both partition on "
        "conv_id, so Catalyst satisfies the aggregate's distribution "
        "requirement with the window's Exchange: ONE shuffle validates "
        "idx contiguity, ts monotonicity, and tool/role tagging.",
        fmt(transcript_integrity(events.selectExpr(
            "user_id AS conv_id", "event_id AS turn_idx",
            "event_type AS role", "props AS text",
            "event_type AS tool", "ts"))),
    ))

    from guava_probably_spark.pipeline.dedup import pairs_from_band_rows
    from guava_probably_spark.pipeline.wmh import wmh_band_keys

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    sections.append((
        "Weighted-MinHash candidates (one scan, 8-byte keys only)",
        "The ICWS kernel runs inside ONE `MapInArrow` over the pruned "
        "(doc_id, text) scan — trigram strings never materialize, "
        "signatures never leave the worker; only `bands` packed 8-byte "
        "band keys per doc reach the single Exchange feeding the bucket "
        "join. The corpus-scale explode exists nowhere in this plan.",
        fmt(pairs_from_band_rows(
            wmh_band_keys(docs, "doc_id", "text", 64, bands=32)
        )),
    ))
    sections.append((
        "Sliding-HLL weighted build (scan-once partials, KB-blob fold)",
        "Timestamps ride the weight column of a weighted target "
        "`(name, key, spec, weight)` through the one partial builder: one "
        "`MapInArrow` per partition emits one frontier blob; the tree merge "
        "folds blobs, so shuffle volume is O(partitions × blob), "
        "independent of row count — the same shape every sketch build in "
        "this library compiles to.",
        fmt(tree_merge(build_partials_multi(
            events.selectExpr(
                "user_id", "CAST(CAST(ts AS TIMESTAMP) AS LONG) AS ts_epoch"
            ),
            [("user_id", "user_id", SketchSpec("shll", {"p": 12}), "ts_epoch")]), 64)),
    ))

    written = write_plans(sections, sys.argv[1:])
    for i in range(2):
        spark.sql(f"DROP TABLE IF EXISTS plans_half_{i}")
    print(f"wrote docs/PLANS.md ({written} sections)")
    spark.stop()


def _block(title: str, commentary: str, plan: str) -> str:
    return "\n".join([f"## {title}", "", commentary, "", "```", plan.rstrip(), "```", ""])


def write_plans(sections: list[tuple[str, str, str]], only: list[str]) -> int:
    """Write docs/PLANS.md; returns the number of sections written. With
    title prefixes in ``only``, replace just the sections whose titles start
    with one of them (at the place of the first such section, or at the end
    of the file when none is there yet) and keep the rest as it is."""
    path = os.path.join(REPO, "docs", "PLANS.md")
    chosen = [s for s in sections if not only or s[0].startswith(tuple(only))]
    if only and not chosen:
        raise SystemExit(f"no section title begins with any of {only}")
    blocks = [_block(*s) for s in chosen]
    if only:
        with open(path) as f:
            head, *old = re.split(r"(?m)^(?=## )", f.read())
        kept = []
        for b in old:
            if not b[3:].startswith(tuple(only)):
                kept.append(b)
            elif blocks:
                kept += [x + "\n" for x in blocks]
                blocks = []
        body = head + "".join(kept)
        if blocks:  # no such section in the file yet: append them
            body = body.rstrip("\n") + "\n\n" + "\n".join(blocks)
    else:
        head = (
            "# Physical plans of the core operators\n\n"
            "Generated by `python scripts/dump_plans.py` (sf0.001, local[4]) — \n"
            "regenerate after operator changes; plan-shape TESTS in `tests/` \n"
            "assert the properties called out below, this document shows them.\n\n"
        )
        body = head + "\n".join(blocks)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(body)
    return len(chosen)


if __name__ == "__main__":
    main()
