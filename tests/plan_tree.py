"""Physical-plan helpers for the plan tests: walk a DataFrame's plan
before execution, set the broadcast threshold for a block and count the
Spark jobs a call runs."""

import contextlib
import itertools

_GROUPS = itertools.count()


@contextlib.contextmanager
def broadcast_threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def jobs_run_by(spark, build):
    """(result of build(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"gps-plan-test-{next(_GROUPS)}"
    sc.setJobGroup(group, "plan test")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def plan_tree(df):
    """The physical plan before execution as (simpleString, children)
    pairs; AQE's wrapper is replaced by its initial plan."""

    def walk(p):
        if p.nodeName() == "AdaptiveSparkPlan":
            p = p.initialPlan()
        kids = p.children()
        return p.simpleString(25), [walk(kids.apply(i)) for i in range(kids.size())]

    return walk(df._jdf.queryExecution().executedPlan())


def subtrees(tree):
    yield tree
    for kid in tree[1]:
        yield from subtrees(kid)


def find(tree, word):
    return [t for t in subtrees(tree) if t[0].startswith(word)]


def count(tree, word):
    return len(find(tree, word))
