"""Property-based invariants for the session-4 curation kernels.

Spark-free on purpose: hypothesis shrinks fast against the pure numpy /
SQL-string kernels, and the Spark paths are pinned to these same kernels
by the integration tests (test_sampling.py, test_pipeline_ops.py).
"""

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from guava_probably_spark.pipeline.components import _local_components
from guava_probably_spark.pipeline.textexpr import (
    hash_uniform_expr,
    sample_rank_expr,
    split_label_expr,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress so every node maps to its component min
    return {v: find(v) for v in parent}


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 120)),
        min_size=1,
        max_size=250,
    )
)
def test_local_components_matches_union_find(edges):
    a = np.array([x for x, _ in edges], dtype=np.int64)
    b = np.array([y for _, y in edges], dtype=np.int64)
    verts, comp = _local_components(a, b)
    got = dict(zip(verts.tolist(), comp.tolist()))
    want = _union_find(edges)
    assert got == want
    # the label is always the component minimum — canonical-doc contract
    by_comp = {}
    for v, c in got.items():
        by_comp.setdefault(c, []).append(v)
    for c, members in by_comp.items():
        assert c == min(members)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(1, 99), min_size=2, max_size=5),
    st.integers(0, 10_000),
)
def test_split_label_expr_partitions_and_matches_duck(weights, seed):
    """Random fraction vectors: labels partition all rows, fractions are
    honored within binomial noise, and Spark/Duck dialects agree (duck vs
    duck re-evaluation here; cross-engine parity is pinned by
    test_sampling_dialect_parity on real data)."""
    total = sum(weights)
    fractions = {f"s{i}": w / total for i, w in enumerate(weights)}
    # float rounding: renormalize the last label
    fractions[f"s{len(weights) - 1}"] += 1.0 - sum(fractions.values())
    expr = split_label_expr(["x"], fractions, "duck", salt=str(seed))
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {expr} AS l, count(*) AS c FROM (SELECT unnest(range(4000)) AS x) GROUP BY l"
    ).fetchall()
    counts = dict(rows)
    assert sum(counts.values()) == 4000
    assert set(counts) <= set(fractions)
    for label, c in counts.items():
        # 5 sigma of Binomial(4000, f)
        f = fractions[label]
        sd = (4000 * f * (1 - f)) ** 0.5
        assert abs(c - 4000 * f) <= 5 * sd + 2


@settings(max_examples=30, deadline=None)
@given(st.text(st.sampled_from("abcdefghij0123456789_-."), max_size=8))
def test_hash_uniform_expr_in_unit_interval(salt):
    con = duckdb.connect()
    expr = hash_uniform_expr(["x"], "duck", salt=salt)
    lo, hi = con.execute(
        f"SELECT min(u), max(u) FROM (SELECT {expr} AS u FROM (SELECT unnest(range(2000)) AS x))"
    ).fetchone()
    assert 0.0 < lo and hi <= 1.0


def test_sample_rank_prefix_property():
    """hash_sample nesting: the bottom-k set is a prefix of the bottom-k'
    set for k < k' — guaranteed because both order by the same rank."""
    con = duckdb.connect()
    r = sample_rank_expr(["x"], "duck")
    small = {
        v
        for (v,) in con.execute(
            f"SELECT x FROM (SELECT unnest(range(5000)) AS x) ORDER BY {r}, x LIMIT 100"
        ).fetchall()
    }
    big = {
        v
        for (v,) in con.execute(
            f"SELECT x FROM (SELECT unnest(range(5000)) AS x) ORDER BY {r}, x LIMIT 400"
        ).fetchall()
    }
    assert small <= big


def test_sample_rank_expr_rejects_injection_salt():
    import pytest

    for bad in ("a'b", 'x"y', "nul\x00", "semi;--"):
        with pytest.raises(ValueError):
            sample_rank_expr(["x"], "duck", salt=bad)


_WORDS = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=12
)
_DOC = st.one_of(st.none(), _WORDS.map(" ".join))


@settings(max_examples=150, deadline=None)
@given(docs=st.lists(_DOC, min_size=1, max_size=8), data=st.data())
def test_fingerprints_are_batch_layout_invariant(docs, data):
    """A doc's simhash and minhash signature depend ONLY on its text, never
    on its batch neighbors (regression: a trailing empty doc's clamped
    segment start truncated the preceding doc's segment)."""
    import pyarrow as pa

    from guava_probably_spark.pipeline.dedup import (
        _perm_params,
        _sig_matrix_from_batch,
        fast_simhash,
    )

    # per-doc reference computed in singleton batches
    ref_sim = {i: fast_simhash([d])[0] for i, d in enumerate(docs)}
    a, b = _perm_params(8)

    def sigs_of(texts, ids):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
            names=["id", "text"],
        )
        out_ids, m = _sig_matrix_from_batch(batch, a, b, 8)
        return dict(zip(out_ids.tolist(), [tuple(r) for r in m.tolist()]))

    ref_min = {
        i: sigs_of([d], [i])[i] for i, d in enumerate(docs) if d is not None
    }

    # a random permutation of the whole set as ONE batch must reproduce
    # every singleton result
    perm = data.draw(st.permutations(range(len(docs))))
    batch_docs = [docs[i] for i in perm]
    got_sim = fast_simhash(batch_docs)
    for pos, i in enumerate(perm):
        assert got_sim[pos] == ref_sim[i], (i, docs[i])
    ids = [i for i in perm if docs[i] is not None]
    texts = [docs[i] for i in perm if docs[i] is not None]
    if ids:
        got_min = sigs_of(texts, ids)
        for i in ids:
            assert got_min[i] == ref_min[i], (i, docs[i])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 6),              # key id
            st.one_of(
                st.integers(-50, 50).map(float),
                st.just(float("nan")),
                st.none(),
            ),
        ),
        min_size=0,
        max_size=300,
    ),
    st.integers(1, 4),
)
def test_grouped_quantiles_counted_runs_property(rows, n_chunks):
    """Property: the counted-run quantile kernel (pre-reduced input) equals
    the raw-row kernel for any key/value multiset, chunking, and null/NaN
    mix — nearest-rank over run cumulative counts is the same order
    statistic (the exactness claim behind grouped_quantiles' skew armor)."""
    import numpy as np
    import pyarrow as pa

    from guava_probably_spark.operators._arrow_common import run_combine
    from guava_probably_spark.operators.grouped_quantiles import _build_stage

    keys = pa.array([f"k{k}" for k, _ in rows], type=pa.string())
    vals = pa.array([v for _, v in rows], type=pa.float64())
    # split into chunks to exercise multi-batch gathering
    n = len(rows)
    bounds = sorted({0, n} | set(range(0, n, max(1, n // n_chunks))))
    batches = [
        pa.RecordBatch.from_arrays(
            [keys.slice(a, b - a), vals.slice(a, b - a)], names=["k", "v"]
        )
        for a, b in zip(bounds, bounds[1:])
    ]

    def run(stage_batches):
        out = list(_build_stage((0.25, 0.5, 0.9))(iter(stage_batches)))
        if not out:
            return {}
        tbl = pa.Table.from_batches(out)
        return {
            tbl.column("key")[i].as_py(): tuple(
                tbl.column(c)[i].as_py() for c in ("n", "q25", "q50", "q90")
            )
            for i in range(tbl.num_rows)
        }

    raw = run(batches)
    reduced = list(run_combine(iter(batches)))
    combined = run(reduced)
    assert raw == combined
