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

``frozen_probe_join`` / ``frozen_lookup_join`` pick the probe plan with
Spark's broadcast rule (``semijoin._broadcastable``, i.e.
``canBroadcastBySize`` on the blob table):

- **Broadcastable:** collect the blob table once per call, broadcast it
  (``frozen_probe_udf`` / ``frozen_lookup_udf``) and apply the UDF to
  ``xxhash64(key)`` alone: each probe hash routes to its shard in Python
  (one gather+XOR per probe, FPP exactly 2^-f).  No fact shuffle, no join
  and 8 B per row to Python.
- **Not broadcastable** (the 4·10^10-key regime: a ~50 GB blob table):
  probe hashes route to their shard JVM-side and JOIN the blob table on
  ``shard``, and each task probes its rows against the joined blob.  No
  driver collect of blobs on this path.

Keys are hashed JVM-side with ``xxhash64`` (the FUNNEL_PREHASHED domain):
the value bytes never cross the JVM→Python boundary in either build or
probe, the same fast path the grouped prehash builds use.
"""

from __future__ import annotations

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


def _broadcast_blobs(spark: SparkSession, frozen: DataFrame, shards: int):
    """Collect the blob table into a shard-indexed list (None for a shard
    no key routed to) and broadcast it."""
    blobs: list[bytes | None] = [None] * shards
    for r in frozen.collect():
        blobs[int(r.shard)] = bytes(r.sketch)
    return spark.sparkContext.broadcast(blobs)


def freeze_filter(
    df: DataFrame,
    col: str,
    fbits: int = 8,
    shards: int = 64,
) -> DataFrame:
    """Distinct keys of ``df[col]`` → ``shards`` XOR-filter blobs.

    One shuffle (hash → shard); the per-shard solve is executor-side and
    deterministic (blob = pure function of the shard's distinct hash set),
    so the output is identical across partitionings and reruns.
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

    return sharded.groupBy("shard").applyInPandas(build, schema=FROZEN_SCHEMA)


def frozen_probe_udf(spark: SparkSession, frozen: DataFrame, shards: int):
    """Membership predicate over a frozen filter table.

    Collects the blob table, broadcasts it, and returns a callable to
    apply to the PRE-HASHED column — ``probe(F.xxhash64(F.col("k")))`` —
    so build and probe share the exact JVM hash domain.  Missing shards
    probe False.  ``xxhash64(NULL)`` is the constant 42, not NULL, so a
    direct caller must guard NULL keys outside the UDF
    (``F.col("k").isNotNull() & probe(...)``, as ``frozen_probe_join``
    does)."""
    bc = _broadcast_blobs(spark, frozen, shards)

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        return _probe(hashes, bc.value)

    return probe


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
    otherwise — a silent pick would mislabel)."""
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

    return sharded.groupBy("shard").applyInPandas(build, schema=FROZEN_SCHEMA)


def frozen_lookup_udf(spark: SparkSession, frozen: DataFrame, shards: int):
    """Value-lookup column over a frozen map table: apply to the
    PRE-HASHED key (``lookup(F.xxhash64(F.col("k")))``); returns the
    stored value, or NULL when the fingerprint misses (strangers at
    2^-f; frozen keys never miss).  ``xxhash64(NULL)`` is the constant
    42, so a direct caller must guard NULL keys outside the UDF
    (``F.when(F.col("k").isNotNull(), lookup(...))``, as
    ``frozen_lookup_join`` does)."""
    bc = _broadcast_blobs(spark, frozen, shards)

    @pandas_udf(LongType())
    def lookup(hashes: pd.Series) -> pd.Series:
        return _lookup(hashes, bc.value)

    return lookup


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
    fact: DataFrame, fact_col: str, frozen: DataFrame, shards: int, fanout: int = 1
) -> DataFrame:
    """Prune ``fact`` to the rows whose key probes the frozen filter — the
    serving-side analogue of ``sketch_semijoin`` (FPs at 2^-f survive;
    follow with an exact join where exactness matters).  NULL keys never
    survive.

    A broadcastable blob table (module doc) is probed by the broadcast UDF
    with no fact shuffle; otherwise shard-route + join + executor-side
    probe, with no driver blob state.  ``fanout`` applies to the join only:
    raise it when the probe side is huge relative to ``shards`` (see
    _join_blobs)."""
    key = F.col(fact_col)
    if _broadcastable(frozen):
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
    shards: int,
    out_col: str = "frozen_value",
    fanout: int = 1,
) -> DataFrame:
    """``fact`` + a value column looked up from a frozen map; NULL where
    the key is NULL or its fingerprint misses.  The plan follows the same
    broadcast rule as ``frozen_probe_join``, and both plans give the same
    columns."""
    key = F.col(fact_col)
    if _broadcastable(frozen):
        lookup = frozen_lookup_udf(fact.sparkSession, frozen, shards)
        return fact.withColumn(out_col, F.when(key.isNotNull(), lookup(F.xxhash64(key))))
    joined, keys = _join_blobs(fact, fact_col, frozen, shards, fanout)
    return (
        joined.withColumn(out_col, _blob_lookup(F.col("__gp_blob"), F.col("__gp_h")))
        .drop("__gp_h", "__gp_blob", *keys)
    )
