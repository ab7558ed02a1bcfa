"""Plans of the sketch joins (operators/semijoin.py) on both sides of
``spark.sql.autoBroadcastJoinThreshold``: a dim within it takes the plain
broadcast join with no filter build and no Python, and a dim past it keeps
the sketch path: a fact-side probe ahead of a broadcast-hinted join that
never shuffles the fact side."""

import pytest
from pyspark.sql import functions as F

from guava_probably_spark.operators import sketch_antijoin, sketch_semijoin
from guava_probably_spark.operators.semijoin import _broadcastable
from plan_tree import broadcast_threshold, count, find, jobs_run_by, plan_tree

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_size") < 15)
    return lineitem, dim


def test_broadcastable_dim_semijoin_is_the_plain_broadcast_join(spark, tables):
    lineitem, dim = tables
    assert _broadcastable(dim)
    sj, jobs = jobs_run_by(
        spark, lambda: sketch_semijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
    )
    assert jobs == []  # no dim count, no filter build
    tree = plan_tree(sj)
    assert count(tree, "BroadcastHashJoin") == 1, tree
    assert not any(count(tree, p) for p in PYTHON_NODES), tree
    assert sj.count() == lineitem.join(dim, lineitem.l_partkey == dim.p_partkey).count()


def test_past_threshold_semijoin_prunes_the_fact_side_under_a_broadcast(spark, tables):
    lineitem, dim = tables
    with broadcast_threshold(spark, "-1"):
        assert not _broadcastable(dim)
        sj, jobs = jobs_run_by(
            spark, lambda: sketch_semijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
        )
        assert jobs  # the dim's filter was built
        tree = plan_tree(sj)
        (join,) = find(tree, "BroadcastHashJoin")
        fact_side = join[1][0]
        assert count(fact_side, "ArrowEvalPython") >= 1, tree
        assert count(fact_side, "Exchange") == 0, tree
        assert sj.count() == lineitem.join(dim, lineitem.l_partkey == dim.p_partkey).count()
        # the probe is deterministic, so a fact predicate on the join's
        # result still reaches the fact scan
        narrowed = sj.filter(F.col("l_quantity") < 10)
        (scan,) = [
            t for t in find(plan_tree(narrowed), "FileScan")
            if "l_quantity" in t[0]
        ]
        assert "LessThan(l_quantity" in scan[0], scan[0]


def test_exact_antijoin_with_broadcastable_dim_is_one_broadcast_left_anti(spark, tables):
    lineitem, dim = tables
    aj, jobs = jobs_run_by(
        spark, lambda: sketch_antijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
    )
    assert jobs == []
    tree = plan_tree(aj)
    joins = find(tree, "BroadcastHashJoin")
    assert len(joins) == 1 and "LeftAnti" in joins[0][0], tree
    assert count(tree, "Union") == 0, tree
    assert not any(count(tree, p) for p in PYTHON_NODES), tree
    truth = lineitem.join(dim, lineitem.l_partkey == dim.p_partkey, "left_anti").count()
    assert aj.count() == truth


def test_past_threshold_antijoin_rescues_candidates_under_a_broadcast(spark, tables):
    lineitem, dim = tables
    with broadcast_threshold(spark, "-1"):
        aj = sketch_antijoin(spark, lineitem, "l_partkey", dim, "p_partkey")
        tree = plan_tree(aj)
        assert count(tree, "Union") == 1, tree
        (rescue,) = find(tree, "BroadcastHashJoin")
        assert "LeftAnti" in rescue[0], tree
        assert count(rescue[1][0], "ArrowEvalPython") >= 1, tree  # candidates
        # the fact side never shuffles: every Exchange is on the dim keys' side
        assert count(tree, "Exchange") == count(rescue[1][1], "Exchange"), tree
        truth = lineitem.join(dim, lineitem.l_partkey == dim.p_partkey, "left_anti").count()
        assert aj.count() == truth
