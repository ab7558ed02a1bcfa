"""Freeze a key column into sharded static XOR filters (serving-side).

The mergeable filters (bloom / cuckoo / qf / sbf) are the BUILD-side
shapes: partials fold associatively through the scan-phase tree merge.
An XOR filter (sketches/xorf.py, Graf & Lemire 2020) is denser and
probe-faster but global — it cannot merge — so at 100-TB scale the freeze
is sharded: keys route to ``shards`` buckets by their 64-bit hash, each
shard's filter is solved executor-side from its hash set, and the result
is a small DataFrame of ``(shard, sketch, n)`` blobs.  No key list ever
reaches the driver; driver-visible state is shards × ~1.23·f·n/shards
bits.  Pick ``shards`` so a shard's distinct keys fit executor memory
(~10 M keys/shard is comfortable; 4096 shards covers 4·10^10 keys).

Probes come in two shapes, matched to the blob-table size:

- **broadcast** (``frozen_probe_udf`` / ``frozen_lookup_udf``): collect
  the blob table, broadcast, route each probe hash to its shard — one
  gather+XOR per probe, FPP exactly 2^-f.  Right up to a few hundred MB
  of blobs.
- **join** (``frozen_probe_join`` / ``frozen_lookup_join``): at the
  4·10^10-key regime the blob table is ~50 GB — beyond broadcast.  Probe
  hashes route to their shard JVM-side and JOIN the blob table on
  ``shard``; each task probes its shard's rows against that one blob
  executor-side.  No driver collect of blobs anywhere on this path.

``frozen_semijoin`` auto-selects between them on the measured blob bytes.
Keys are hashed JVM-side with ``xxhash64`` (the FUNNEL_PREHASHED domain):
the value bytes never cross the JVM→Python boundary in either build or
probe, the same fast path the grouped prehash builds use.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, LongType

from ..sketches.base import FUNNEL_PREHASHED
from ..sketches.xorf import XorFilter

FROZEN_SCHEMA = "shard bigint, sketch binary, n bigint"


# NULL-key handling: Spark's xxhash64(NULL) returns the CONSTANT seed
# (42), so a naive probe sends every NULL key to one shard with one fixed
# hash — if that hash aliases a member fingerprint there (chance 2^-f),
# EVERY null row probes True.  The hash column must NOT be nulled to fix
# this: a pandas_udf receiving a long column WITH nulls gets float64
# (64-bit hashes lose low bits for the whole batch — measured: members
# probe like strangers).  Instead the wrappers keep the hash column
# non-null and make NULL keys deterministic OUTSIDE the hash: the join
# path nulls the SHARD (no blob joins -> probe False / lookup NULL), the
# broadcast path short-circuits the predicate before the UDF.


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

    Collects the (small) blob table, broadcasts it, and returns a callable
    to apply to the PRE-HASHED column — probe with
    ``probe(F.xxhash64(F.col("k")))`` so build and probe share the exact
    JVM hash domain.  Missing shards (no keys routed there) probe False.
    """
    rows = frozen.collect()
    blobs: list[bytes | None] = [None] * shards
    for r in rows:
        blobs[int(r.shard)] = bytes(r.sketch)
    bc = spark.sparkContext.broadcast(blobs)

    @pandas_udf(BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        # decode through the module-level byte-keyed cache (shared across
        # tasks within a python worker) — a closure-captured dict would be
        # re-pickled with the UDF and re-decoded once per TASK
        from ..functions import _cached_sketch

        table = bc.value
        h = hashes.to_numpy(dtype=np.int64, na_value=0)
        isnull = hashes.isna().to_numpy()
        shard = np.mod(h, shards)
        out = np.zeros(len(h), dtype=bool)
        for s in np.unique(shard):
            blob = table[int(s)]
            if blob is None:
                continue
            sk = _cached_sketch(blob)
            m = shard == s
            hu = h[m].view(np.uint64)
            out[m] = sk.contains_hashes(hu, hu)
        out[isnull] = False
        return pd.Series(out)

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
    2^-f; frozen keys never miss)."""
    rows = frozen.collect()
    blobs: list[bytes | None] = [None] * shards
    for r in rows:
        blobs[int(r.shard)] = bytes(r.sketch)
    bc = spark.sparkContext.broadcast(blobs)

    @pandas_udf(LongType())
    def lookup(hashes: pd.Series) -> pd.Series:
        from ..functions import _cached_sketch  # per-worker blob cache

        table = bc.value
        h = hashes.to_numpy(dtype=np.int64, na_value=0)
        isnull = hashes.isna().to_numpy()
        shard = np.mod(h, shards)
        out = np.zeros(len(h), dtype=np.float64)
        out[:] = np.nan
        for s in np.unique(shard):
            blob = table[int(s)]
            if blob is None:
                continue
            sk = _cached_sketch(blob)
            m = shard == s
            found, vals = sk.lookup_hashes(h[m].view(np.uint64))
            res = np.where(found, vals.astype(np.float64), np.nan)
            out[m] = res
        out[isnull] = np.nan
        return pd.Series(out).astype("Int64")

    return lookup


@pandas_udf(BooleanType())
def _blob_probe(blobs: pd.Series, hashes: pd.Series) -> pd.Series:
    """(blob, prehash) → membership; rows group by distinct blob so the
    decode cost per Arrow batch is the number of distinct blobs (≈ shards
    present in the partition), via the module-level byte-keyed cache."""
    from ..functions import _blob_groups, _cached_sketch

    h = hashes.to_numpy(dtype=np.int64, na_value=0)
    isnull = hashes.isna().to_numpy()
    out = np.zeros(len(h), dtype=bool)
    for blob, m in _blob_groups(blobs):
        m &= ~isnull
        hu = h[m].view(np.uint64)
        out[m] = _cached_sketch(blob).contains_hashes(hu, hu)
    return pd.Series(out)


@pandas_udf(LongType())
def _blob_lookup(blobs: pd.Series, hashes: pd.Series) -> pd.Series:
    """(blob, prehash) → stored value or NULL — the join-path twin of
    ``frozen_lookup_udf``."""
    from ..functions import _blob_groups, _cached_sketch

    h = hashes.to_numpy(dtype=np.int64, na_value=0)
    isnull = hashes.isna().to_numpy()
    out = np.full(len(h), np.nan, dtype=np.float64)
    for blob, m in _blob_groups(blobs):
        m &= ~isnull
        found, vals = _cached_sketch(blob).lookup_hashes(h[m].view(np.uint64))
        out[m] = np.where(found, vals.astype(np.float64), np.nan)
    return pd.Series(out).astype("Int64")


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
    """Prune ``fact`` against a frozen filter WITHOUT driver-side blob
    state: shard-route + join + executor-side probe (module doc).  Missing
    shards join NULL blobs and probe False, matching the broadcast path.
    Raise ``fanout`` when the probe side is huge relative to ``shards``
    (see _join_blobs)."""
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
    """``fact`` + a value column looked up from a frozen map, via the
    join path (no driver blob state); NULL where the fingerprint misses."""
    joined, keys = _join_blobs(fact, fact_col, frozen, shards, fanout)
    return (
        joined.withColumn(out_col, _blob_lookup(F.col("__gp_blob"), F.col("__gp_h")))
        .drop("__gp_h", "__gp_blob", *keys)
    )


# Blob tables beyond this many bytes take the join path: a broadcast at
# ~50 GB (4·10^10 keys) is undeliverable, and even below Spark's hard cap
# a multi-GB broadcast per probe query is driver/network-hostile.
BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def frozen_semijoin(
    spark: SparkSession,
    fact: DataFrame,
    fact_col: str,
    frozen: DataFrame,
    shards: int,
    broadcast_max_bytes: int = BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Prune ``fact`` to rows whose key probes the frozen filter — the
    serving-side analogue of ``sketch_semijoin`` (FPs at 2^-f survive;
    follow with an exact join where exactness matters).

    Auto-selects the probe shape on measured blob bytes: broadcast-UDF
    under ``broadcast_max_bytes``, shard-join above (module doc) — the
    one-row aggregate that sizes the table is KB-scale driver traffic
    either way."""
    total = frozen.agg(F.sum(F.length("sketch"))).collect()[0][0] or 0
    if total <= broadcast_max_bytes:
        probe = frozen_probe_udf(spark, frozen, shards)
        # null-guard OUTSIDE the UDF (module note: nulling the hash column
        # itself would float64 the whole batch in pandas and corrupt every
        # 64-bit hash in it)
        return fact.filter(
            F.col(fact_col).isNotNull()
            & probe(F.xxhash64(F.col(fact_col)))
        )
    return frozen_probe_join(fact, fact_col, frozen, shards)
