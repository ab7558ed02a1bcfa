"""Sketch joins: semi-join pruning and the corpus-delta anti-join
(SURVEY.md §2.3 "Joins").

Both joins pick their plan with Spark's own broadcast rule
(``JoinSelection.canBroadcastBySize``): the join's build side is
broadcastable when ``0 <= optimizedPlan.stats.sizeInBytes <=
spark.sql.autoBroadcastJoinThreshold`` (:func:`_broadcastable`).

- **Broadcastable:** the plain broadcast join. A ``BroadcastHashJoin``
  never shuffles the fact side and is already an exact membership test in
  the JVM, so a filter in front of it would only add work: a ``count()``
  and a build over the dim, and a Python probe over every fact row.
- **Not broadcastable:** the distributed use of ``mightContain`` (SURVEY.md
  §2 row 5). Build a filter on the dim keys, broadcast the KB-sized blob
  and probe the fact side ahead of the join, which keeps its broadcast
  hint (the hint overrides the threshold). False positives only let extra
  rows through (the exact join drops them); zero false negatives means no
  matching row is dropped. Catalyst's InjectRuntimeFilter does the same
  internally with BloomFilterAggregate; this is the user-controllable
  version with a selectable filter kind (bloom, cuckoo or sbf). Whether
  this regime should instead shuffle the pruned fact side, or be a plain
  join, is open until a workload with a dim past the threshold measures
  it (ROADMAP item 6).

Either way the result equals the unpruned join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast

from ..functions import might_contain_udf
from ..sketches import SketchSpec
from .build import collect_sketch


def _broadcastable(build_side: DataFrame, size: int | None = None) -> bool:
    """Spark's ``JoinSelection.canBroadcastBySize`` for ``build_side``:
    its size is known (non-negative) and at most the session's
    ``autoBroadcastJoinThreshold`` (-1 disables).  The size is ``size``
    where the caller knows it exactly, else the optimized plan's
    estimate."""
    jsession = build_side.sparkSession._jsparkSession
    threshold = jsession.sessionState().conf().autoBroadcastJoinThreshold()
    if size is None:
        stats = build_side._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))  # a Scala BigInt
    return 0 <= size <= threshold


def sketch_prune(
    spark: SparkSession,
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    kind: str = "bloom",
    fpp: float = 0.01,
    capacity: int | None = None,
) -> DataFrame:
    """Filter `fact` down to rows whose key might be in dim[dim_key].

    Null fact keys are dropped (a null never equals any dim key, matching
    inner/semi-join semantics)."""
    sk = _dim_filter(dim, dim_key, kind, fpp, capacity)
    probe = might_contain_udf(spark, sk.to_bytes())
    return fact.filter(_null_safe_probe(fact, fact_key, probe))


def _null_safe_probe(fact: DataFrame, fact_key: str, probe):
    """probe(key) that never lets a null into the probed batch: a null in
    a nullable int64 batch surfaces to pandas as float64, corrupting keys
    past 2^53 (the probe UDF raises on that) — probe coalesce(key, 0) and
    mask the null rows to False (a null matches nothing)."""
    from pyspark.sql.functions import coalesce, lit, when
    from pyspark.sql.types import NumericType

    key = fact[fact_key]
    numeric = isinstance(fact.schema[fact_key].dataType, NumericType)
    probed = probe(coalesce(key, lit(0)) if numeric else key)
    return when(key.isNull(), lit(False)).otherwise(probed)


def _dim_filter(dim: DataFrame, dim_key: str, kind: str, fpp: float, capacity: int | None):
    """Build the broadcastable filter blob on the dim side's keys.

    ``kind="sbf"`` builds one-pass without a capacity (scalable bloom,
    per-partial fpp/P so the compound union bound lands at ``fpp``);
    bloom/cuckoo size to ``capacity`` or a ``count()`` of the dim."""
    if kind == "sbf":
        parts = max(dim.rdd.getNumPartitions(), 1)
        spec = SketchSpec("sbf", {"fpp": max(fpp / parts, 1e-12)})
        sk, _, _ = collect_sketch(dim, dim_key, spec)
        return sk.compact()
    if capacity is None:
        capacity = dim.count()  # one extra action; pass capacity to skip it
    spec = SketchSpec(kind, {"capacity": max(capacity, 1), "fpp": fpp})
    sk, _, overflow = collect_sketch(dim, dim_key, spec)
    if overflow:
        raise OverflowError(f"semi-join filter overflowed by {overflow} entries")
    return sk


def sketch_semijoin(
    spark: SparkSession,
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    kind: str = "bloom",
    fpp: float = 0.01,
) -> DataFrame:
    """Exact inner join of `fact` and `dim` on fact_key == dim_key.

    A broadcastable dim (:func:`_broadcastable`) gives the plain broadcast
    hash join: no filter is built and nothing runs in Python. Otherwise the
    fact side is pruned by a ``kind`` filter of the dim keys and then
    joined to the broadcast dim; the join removes the false positives, so
    the result equals the unpruned join."""
    if _broadcastable(dim):
        return fact.join(broadcast(dim), fact[fact_key] == dim[dim_key], "inner")
    pruned = sketch_prune(spark, fact, fact_key, dim, dim_key, kind, fpp)
    return pruned.join(broadcast(dim), pruned[fact_key] == dim[dim_key], "inner")


def sketch_antijoin(
    spark: SparkSession,
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    kind: str = "bloom",
    fpp: float = 0.01,
    capacity: int | None = None,
    exact: bool = True,
) -> DataFrame:
    """Corpus delta: the fact rows whose key is NOT in dim[dim_key]. Null
    fact keys match nothing, so they are always in the delta, as in SQL's
    anti-join.

    The incremental-ingest question at 100 TB — "which of today's 10^9
    documents are new relative to the existing corpus?" — without shuffling
    either side in full.

    ``exact=True`` (default) returns exactly the ``left_anti`` join. When
    the distinct dim keys are broadcastable (:func:`_broadcastable`), that
    is one broadcast ``left_anti`` join and no filter. Otherwise the filter
    contract inverts cleanly:

    - probe == False  ⇒ the key is DEFINITELY absent (zero FN means a
      present key always probes True) — those rows pass with no join at all;
    - probe == True   ⇒ either a real match or a false positive (rate ≤
      fpp). Only this candidate slice — |matches| + fpp·|new| rows, not
      the whole fact side — goes through a broadcast ``left_anti`` join
      against the distinct dim keys, which rescues the false positives.

    ``exact=False`` is the probe == False branch alone: a pure
    broadcast-probe filter (no shuffle of any side) that under-reports new
    rows by ≤ fpp — the conservative direction for dedup-style ingest
    (a duplicate is never re-admitted; a few new rows wait for a later
    pass or a smaller fpp).

    ``kind="sbf"`` builds the dim filter one-pass without a capacity.
    """
    dim_keys = dim.select(dim[dim_key].alias("__dim_key")).distinct()
    if exact and _broadcastable(dim_keys):
        return fact.join(
            broadcast(dim_keys), fact[fact_key] == dim_keys["__dim_key"], "left_anti"
        )
    sk = _dim_filter(dim, dim_key, kind, fpp, capacity)
    probe = might_contain_udf(spark, sk.to_bytes())
    # null fact keys never match any dim key: SQL anti-join keeps them, so
    # the null-safe probe's False puts them in definitely-new — correct
    hit = _null_safe_probe(fact, fact_key, probe)
    definitely_new = fact.filter(~hit)
    if not exact:
        return definitely_new
    candidates = fact.filter(hit)
    rescued = candidates.join(
        broadcast(dim_keys), candidates[fact_key] == dim_keys["__dim_key"], "left_anti"
    )
    return definitely_new.unionByName(rescued)
