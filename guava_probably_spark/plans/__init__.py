"""Physical-plan shape assertions.

Guards the SURVEY.md §3.4 invariant: the ungrouped sketch build must never
shuffle raw rows (the pandas-UDAF-has-no-partial-agg trap). Tests call
``assert_no_exchange_before_python`` on every build plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def assert_no_exchange_before_python(df: DataFrame) -> None:
    """Assert no raw-row Exchange (shuffle) sits below the deepest Python
    stage — i.e. raw rows flow scan → project → MapInArrow without
    shuffling. Broadcast/Reused exchanges are NOT raw-row shuffles and are
    allowed. Text-anchored on the LAST Python node, so this guard assumes a
    single-branch build plan (every build_partials_multi plan is one); a
    multi-branch join plan needs per-branch assertion."""
    plan = physical_plan(df)
    lines = plan.splitlines()
    python_idx = None
    for i, line in enumerate(lines):
        if "MapInArrow" in line or "ArrowEvalPython" in line or "FlatMapGroupsInPandas" in line:
            python_idx = i  # deepest python node = last in top-down printout
    if python_idx is None:
        raise AssertionError(f"no Python stage found in plan:\n{plan}")
    for line in lines[python_idx:]:
        if "Exchange" in line and "BroadcastExchange" not in line and "ReusedExchange" not in line:
            raise AssertionError(
                f"raw-row shuffle detected below the Python build stage:\n{plan}"
            )


def scan_read_schema(df: DataFrame) -> str:
    """The ReadSchema of the parquet scan — tests assert column pruning
    reaches the scan (only the hashed column is read)."""
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            return line
    return ""
