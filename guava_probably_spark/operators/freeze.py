"""Freeze a key column into sharded static XOR filters (serving-side).

The mergeable filters (bloom / cuckoo / qf / sbf) are the BUILD-side
shapes: partials fold associatively through the scan-phase tree merge.
An XOR filter (sketches/xorf.py, Graf & Lemire 2020) is denser and
probe-faster but global — it cannot merge — so at 100-TB scale the freeze
is sharded: keys route to ``shards`` buckets by their 64-bit hash, each
shard's filter is solved executor-side from its hash set, and the result
is a small DataFrame of ``(shard, sketch, n)`` blobs.  No key list ever
reaches the driver.  Pick ``shards`` so a shard's distinct keys fit
executor memory (~10 M keys/shard is comfortable; 4096 shards covers
4·10^10 keys).

A freeze is eager: it persists its output and runs one action,
``sum(length(sketch))``, which fills the cache and gives the table's
exact blob bytes.  The returned DataFrame records its shard count and
those bytes (``persist()`` / ``cache()`` return the same object, so the
record survives them); release the cached blobs with ``unpersist()``.

``frozen_probe_join`` / ``frozen_lookup_join`` pick the probe plan with
Spark's broadcast rule (``semijoin._broadcastable``) applied to the exact
blob bytes of a frozen table, or to Spark's estimate for a blob table no
freeze returned (one read back from parquet, say):

- **Broadcastable:** broadcast the blob table (``frozen_probe_udf`` /
  ``frozen_lookup_udf``) and apply the UDF to ``xxhash64(key)`` alone:
  each probe hash routes to its shard in Python (one gather+XOR per
  probe, FPP exactly 2^-f).  No fact shuffle, no join and 8 B per row to
  Python.  A frozen table is collected and broadcast on its first probe
  only; every later probe or lookup reuses that broadcast and its UDF,
  which live as long as the DataFrame.
- **Not broadcastable** (the 4·10^10-key regime: a ~50 GB blob table):
  probe hashes route to their shard JVM-side and JOIN the blob table on
  ``shard``, and each task probes its rows against the joined blob.  The
  blob table is never collected to the driver on this path.

``shards`` defaults to the frozen table's recorded count; a different
count raises ``ValueError`` (it would route members to the wrong shard).

Keys are hashed JVM-side with ``xxhash64`` (the FUNNEL_PREHASHED domain):
the value bytes never cross the JVM→Python boundary in either build or
probe, the same fast path the grouped prehash builds use.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, LongType

from ..functions import _blob_groups, _cached_sketch
from ..sketches.base import FUNNEL_PREHASHED
from ..sketches.xorf import XorFilter
from .semijoin import _broadcastable

FROZEN_SCHEMA = "shard bigint, sketch binary, n bigint"


# NULL-key handling: Spark's xxhash64(NULL) returns the CONSTANT seed
# (42), so a naive probe sends every NULL key to one shard with one fixed
# hash — if that hash aliases a member fingerprint there (chance 2^-f),
# EVERY null row probes True.  The hash column must NOT be nulled to fix
# this: a pandas_udf receiving a long column WITH nulls gets float64
# (64-bit hashes lose low bits for the whole batch — measured: members
# probe like strangers).  Instead the joins keep the hash column non-null
# and make NULL keys deterministic OUTSIDE the hash: the broadcast plan
# short-circuits the key before the UDF, the shard join nulls the SHARD
# (no blob joins -> probe False / lookup NULL).


def _blob_rows(hashes: pd.Series, blobs: pd.Series | list):
    """One Arrow batch of prehashes split by the blob that answers them:
    ``(uint64 hashes, [(blob, row mask), ...])``.  ``blobs`` is either the
    broadcast shard table (a row's blob is ``blobs[pmod(h, len(blobs))]``)
    or the joined blob column (``_blob_groups``).  Rows with a NULL hash,
    a NULL joined blob or an empty shard are in no group: they probe False
    and look up NULL."""
    h = hashes.to_numpy(dtype=np.int64, na_value=0)
    valid = hashes.notna().to_numpy()
    if isinstance(blobs, list):
        shard = np.mod(h, len(blobs))
        groups = ((blobs[s], shard == s) for s in np.unique(shard) if blobs[s] is not None)
    else:
        groups = _blob_groups(blobs)
    return h.view(np.uint64), [(blob, m & valid) for blob, m in groups]


def _probe(hashes: pd.Series, blobs: pd.Series | list) -> pd.Series:
    """Membership of each prehash in its blob (:func:`_blob_rows`); each
    distinct blob decodes once per worker through ``_cached_sketch``."""
    h, groups = _blob_rows(hashes, blobs)
    out = np.zeros(len(h), dtype=bool)
    for blob, m in groups:
        out[m] = _cached_sketch(blob).contains_hashes(h[m], h[m])
    return pd.Series(out)


def _lookup(hashes: pd.Series, blobs: pd.Series | list) -> pd.Series:
    """The value each prehash's blob stores for it, NULL on a fingerprint
    miss (:func:`_blob_rows`)."""
    h, groups = _blob_rows(hashes, blobs)
    vals = np.zeros(len(h), dtype=np.int64)
    found = np.zeros(len(h), dtype=bool)
    for blob, m in groups:
        found[m], vals[m] = _cached_sketch(blob).lookup_hashes(h[m])
    return pd.Series(pd.arrays.IntegerArray(vals, ~found))


class _Frozen:
    """What a freeze records on its output table: the shard count, the
    exact blob bytes and, from the first probe or lookup on, the one
    broadcast of the blobs and the UDFs over it."""

    def __init__(self, shards: int, nbytes: int):
        self.shards = shards
        self.nbytes = nbytes
        self.bc = None
        self.udfs: dict = {}


def _record(frozen: DataFrame) -> _Frozen | None:
    # vars(): DataFrame.__getattr__ would resolve a missing name as a column
    return vars(frozen).get("_gp_frozen")


_CACHE_CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
# concurrent freezes must not restore each other's setting
_CACHE_CONF_LOCK = threading.Lock()


def _freeze(sharded: DataFrame, build, shards: int) -> DataFrame:
    """Solve each shard with ``build``, persist the blob table and size it
    in one action that also fills the cache; record the facts on it.

    Spark caches a plan with AQE's partition coalescing off unless
    ``canChangeCachedPlanOutputPartitioning`` is set, which would leave
    the blob table in ``spark.sql.shuffle.partitions`` mostly empty
    partitions (200 tasks per scan at the default).  Nothing joins on the
    blob table's partitioning, so the freeze caches with it set."""
    frozen = sharded.groupBy("shard").applyInPandas(build, schema=FROZEN_SCHEMA)
    conf = frozen.sparkSession.conf
    with _CACHE_CONF_LOCK:
        prev = conf.get(_CACHE_CONF)
        conf.set(_CACHE_CONF, "true")
        try:
            frozen.persist()
        finally:
            conf.set(_CACHE_CONF, prev)
    try:
        nbytes = frozen.agg(F.sum(F.length("sketch"))).first()[0]
    except BaseException:
        frozen.unpersist()
        raise
    frozen._gp_frozen = _Frozen(shards, int(nbytes or 0))
    return frozen


def _shards(frozen: DataFrame, shards: int | None) -> int:
    """The shard count to probe ``frozen`` with: the recorded one, which
    ``shards`` may repeat but not contradict."""
    rec = _record(frozen)
    if rec is None:
        if shards is None:
            raise ValueError("shards is required for a blob table that no freeze returned")
        return shards
    if shards is not None and shards != rec.shards:
        raise ValueError(f"the table was frozen into {rec.shards} shards, not {shards}")
    return rec.shards


def _fits(frozen: DataFrame) -> bool:
    """Spark's broadcast rule on a frozen table's exact blob bytes, or on
    Spark's estimate for a blob table with no record."""
    rec = _record(frozen)
    return _broadcastable(frozen, None if rec is None else rec.nbytes)


def _broadcast_blobs(spark: SparkSession, frozen: DataFrame, shards: int):
    """Collect the blob table into a shard-indexed list (None for a shard
    no key routed to) and broadcast it."""
    blobs: list[bytes | None] = [None] * shards
    for r in frozen.collect():
        blobs[int(r.shard)] = bytes(r.sketch)
    return spark.sparkContext.broadcast(blobs)


def _broadcast_udf(bc, kernel, return_type):
    """A pandas UDF applying ``kernel`` to prehashes against the broadcast
    blob list ``bc``."""

    def apply(hashes: pd.Series) -> pd.Series:
        return kernel(hashes, bc.value)

    apply.__name__ = kernel.__name__.lstrip("_")  # probe / lookup in plans
    return pandas_udf(apply, return_type)


def _frozen_udf(spark, frozen, shards, kernel, return_type):
    """``kernel``'s broadcast UDF over ``frozen``.  A frozen table
    broadcasts once and keeps each UDF on its record; a blob table with no
    record is collected on every call."""
    shards = _shards(frozen, shards)
    rec = _record(frozen)
    if rec is None:
        return _broadcast_udf(_broadcast_blobs(spark, frozen, shards), kernel, return_type)
    if kernel not in rec.udfs:
        if rec.bc is None:
            rec.bc = _broadcast_blobs(spark, frozen, shards)
        rec.udfs[kernel] = _broadcast_udf(rec.bc, kernel, return_type)
    return rec.udfs[kernel]


def freeze_filter(
    df: DataFrame,
    col: str,
    fbits: int = 8,
    shards: int = 64,
) -> DataFrame:
    """Distinct keys of ``df[col]`` → ``shards`` XOR-filter blobs.

    One shuffle (hash → shard); the per-shard solve is executor-side and
    deterministic (blob = pure function of the shard's distinct hash set),
    so the output is identical across partitionings and reruns.  Runs one
    action and returns the persisted blob table (module doc):
    ``unpersist()`` it when done.
    """
    hashed = df.select(F.xxhash64(F.col(col)).alias("h")).where(F.col(col).isNotNull())
    sharded = hashed.withColumn("shard", F.pmod(F.col("h"), F.lit(shards)))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
        sk = XorFilter.build_from_hashes(h, fbits=fbits, funnel=FUNNEL_PREHASHED)
        return pd.DataFrame(
            {"shard": [shard], "sketch": [sk.to_bytes()], "n": [sk.n]}
        )

    return _freeze(sharded, build, shards)


def frozen_probe_udf(spark: SparkSession, frozen: DataFrame, shards: int | None = None):
    """Membership predicate over a frozen filter table.

    Broadcasts the blob table and returns a callable to apply to the
    PRE-HASHED column — ``probe(F.xxhash64(F.col("k")))`` — so build and
    probe share the exact JVM hash domain.  Missing shards probe False.
    On a table a freeze returned, the first call collects and broadcasts
    it and later calls return the same UDF; the broadcast lives as long as
    the DataFrame.  ``xxhash64(NULL)`` is the constant 42, not NULL, so a
    direct caller must guard NULL keys outside the UDF
    (``F.col("k").isNotNull() & probe(...)``, as ``frozen_probe_join``
    does)."""
    return _frozen_udf(spark, frozen, shards, _probe, BooleanType())


def freeze_map(
    df: DataFrame,
    key_col: str,
    value_col: str,
    fbits: int = 8,
    vbits: int = 8,
    shards: int = 64,
) -> DataFrame:
    """Distinct (key, value) pairs → ``shards`` static XOR-map blobs
    (sketches/xormap.py) — the serving-side replacement for a broadcast
    join against a small-value dimension: lookups return the EXACT
    ``vbits``-bit value for every frozen key at ~1.23·(f+v) bits/key with
    no key bytes stored.  Values must be non-negative ints < 2^vbits;
    duplicate keys must agree on the value (the per-shard solve raises
    otherwise — a silent pick would mislabel).  Like ``freeze_filter``,
    runs one action and returns the persisted blob table."""
    from ..sketches.xormap import XorStaticMap

    hashed = df.select(
        F.xxhash64(F.col(key_col)).alias("h"),
        F.col(value_col).cast("long").alias("v"),
    ).where(F.col(key_col).isNotNull() & F.col(value_col).isNotNull())
    sharded = hashed.withColumn("shard", F.pmod(F.col("h"), F.lit(shards)))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
        v = pdf["v"].to_numpy(dtype=np.int64)
        sk = XorStaticMap.build_from_hashes(
            h, v, fbits=fbits, vbits=vbits, funnel=FUNNEL_PREHASHED
        )
        return pd.DataFrame(
            {"shard": [shard], "sketch": [sk.to_bytes()], "n": [sk.n]}
        )

    return _freeze(sharded, build, shards)


def frozen_lookup_udf(spark: SparkSession, frozen: DataFrame, shards: int | None = None):
    """Value-lookup column over a frozen map table: apply to the
    PRE-HASHED key (``lookup(F.xxhash64(F.col("k")))``); returns the
    stored value, or NULL when the fingerprint misses (strangers at
    2^-f; frozen keys never miss).  Broadcasts like ``frozen_probe_udf``:
    once per frozen table, reused by every later call.
    ``xxhash64(NULL)`` is the constant 42, so a direct caller must guard
    NULL keys outside the UDF (``F.when(F.col("k").isNotNull(),
    lookup(...))``, as ``frozen_lookup_join`` does)."""
    return _frozen_udf(spark, frozen, shards, _lookup, LongType())


@pandas_udf(BooleanType())
def _blob_probe(blobs: pd.Series, hashes: pd.Series) -> pd.Series:
    """(joined blob, prehash) → membership: the shard join's probe."""
    return _probe(hashes, blobs)


@pandas_udf(LongType())
def _blob_lookup(blobs: pd.Series, hashes: pd.Series) -> pd.Series:
    """(joined blob, prehash) → stored value or NULL: the shard join's
    lookup."""
    return _lookup(hashes, blobs)


def _join_blobs(
    fact: DataFrame, fact_col: str, frozen: DataFrame, shards: int, fanout: int = 1
):
    """Route each fact row's xxhash64 to its shard and LEFT-join the blob
    table on shard — a shuffle-hash join (hinted: the blob table is big
    enough to have forced this path, never broadcast) that lands every
    probe row next to exactly its shard's blob.  No driver collect.

    ``fanout`` > 1 salts the join key: the blob table replicates ×fanout
    (still tiny — shards·fanout rows) while fact rows spread across
    (shard, salt) by a second hash, so join parallelism is shards·fanout
    instead of capped at ``shards``.  At a 100-TB probe side with 4096
    shards, fanout=64 turns 25 GB-per-task streams into ~400 MB tasks
    without touching the blob layout."""
    hashed = fact.withColumn("__gp_h", F.xxhash64(F.col(fact_col))).withColumn(
        "__gp_shard",
        # NULL keys route to a NULL shard (module note): they join no blob,
        # so they probe False / look up NULL regardless of the 42-hash
        F.when(F.col(fact_col).isNull(), F.lit(None).cast("bigint")).otherwise(
            F.pmod(F.col("__gp_h"), F.lit(shards))
        ),
    )
    blobt = frozen.select(
        F.col("shard").alias("__gp_shard"), F.col("sketch").alias("__gp_blob")
    )
    keys = ["__gp_shard"]
    if fanout > 1:
        hashed = hashed.withColumn(
            "__gp_salt", F.pmod(F.xxhash64(F.col("__gp_h")), F.lit(fanout))
        )
        blobt = blobt.crossJoin(
            fact.sparkSession.range(fanout).select(F.col("id").alias("__gp_salt"))
        )
        keys = ["__gp_shard", "__gp_salt"]
    joined = hashed.join(blobt.hint("shuffle_hash"), keys, "left")
    return joined, keys


def frozen_probe_join(
    fact: DataFrame,
    fact_col: str,
    frozen: DataFrame,
    shards: int | None = None,
    fanout: int = 1,
) -> DataFrame:
    """Prune ``fact`` to the rows whose key probes the frozen filter — the
    serving-side analogue of ``sketch_semijoin`` (FPs at 2^-f survive;
    follow with an exact join where exactness matters).  NULL keys never
    survive.

    A broadcastable blob table (module doc) is probed by the broadcast UDF
    with no fact shuffle, reusing a frozen table's one broadcast;
    otherwise shard-route + join + executor-side probe, with no driver
    blob state.  ``shards`` defaults to the frozen table's count.
    ``fanout`` applies to the join only: raise it when the probe side is
    huge relative to ``shards`` (see _join_blobs)."""
    key = F.col(fact_col)
    shards = _shards(frozen, shards)
    if _fits(frozen):
        probe = frozen_probe_udf(fact.sparkSession, frozen, shards)
        return fact.filter(key.isNotNull() & probe(F.xxhash64(key)))
    joined, keys = _join_blobs(fact, fact_col, frozen, shards, fanout)
    return (
        joined.filter(_blob_probe(F.col("__gp_blob"), F.col("__gp_h")))
        .drop("__gp_h", "__gp_blob", *keys)
    )


def frozen_lookup_join(
    fact: DataFrame,
    fact_col: str,
    frozen: DataFrame,
    shards: int | None = None,
    out_col: str = "frozen_value",
    fanout: int = 1,
) -> DataFrame:
    """``fact`` + a value column looked up from a frozen map; NULL where
    the key is NULL or its fingerprint misses.  The plan follows the same
    broadcast rule as ``frozen_probe_join``, and both plans give the same
    columns."""
    key = F.col(fact_col)
    shards = _shards(frozen, shards)
    if _fits(frozen):
        lookup = frozen_lookup_udf(fact.sparkSession, frozen, shards)
        return fact.withColumn(out_col, F.when(key.isNotNull(), lookup(F.xxhash64(key))))
    joined, keys = _join_blobs(fact, fact_col, frozen, shards, fanout)
    return (
        joined.withColumn(out_col, _blob_lookup(F.col("__gp_blob"), F.col("__gp_h")))
        .drop("__gp_h", "__gp_blob", *keys)
    )
