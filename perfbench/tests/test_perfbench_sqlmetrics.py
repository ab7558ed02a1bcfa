"""Tiny-input tests of the SQL-metric parser."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqlmetrics import metric_value, parse_metric  # noqa: E402


@pytest.mark.parametrize(
    "text, expected",
    [
        ("4", (4.0, "count")),
        ("500,000", (500_000.0, "count")),
        ("0.0 B", (0.0, "bytes")),
        ("259.0 B", (259.0, "bytes")),
        ("1044.5 KiB", (1044.5 * 1024, "bytes")),
        ("3.1 MiB", (3.1 * 1024**2, "bytes")),
        ("2.0 GiB", (2.0 * 1024**3, "bytes")),
        ("0 ms", (0.0, "seconds")),
        ("120 ms", (0.12, "seconds")),
        ("4.5 s", (4.5, "seconds")),
        ("1.5 m", (90.0, "seconds")),
        ("2.00 h", (7200.0, "seconds")),
    ],
)
def test_plain_values(text, expected):
    value, kind = parse_metric(text)
    assert kind == expected[1]
    assert value == pytest.approx(expected[0])


def test_per_task_metric_reads_the_total():
    text = (
        "total (min, med, max (stageId: taskId))\n"
        "5.3 MiB (1221.6 KiB, 1374.8 KiB, 1549.1 KiB (stage 233.0: task 225))"
    )
    assert parse_metric(text) == pytest.approx((5.3 * 1024**2, "bytes"))
    timing = "total (min, med, max (stageId: taskId))\n7 ms (0 ms, 0 ms, 4 ms (stage 1.0: task 2))"
    assert metric_value(timing) == pytest.approx(0.007)


def test_per_task_average_reads_the_median():
    text = "(min, med, max (stageId: taskId)):\n(1, 2.5, 4 (stage 11.0: task 24))"
    assert parse_metric(text) == (2.5, "count")


def test_sizes_keep_about_three_significant_digits():
    # 5.3 MiB stands for anything in [5.25, 5.35) MiB: a byte count is never exact
    assert metric_value("5.3 MiB") != 5_500_000
    assert abs(metric_value("5.3 MiB") - 5.26 * 1024**2) < 0.05 * 1024**2


def test_missing_and_empty_values():
    assert parse_metric(None) is None
    assert parse_metric("total (min, med, max)\n") is None


def test_unknown_text_raises():
    with pytest.raises(ValueError):
        parse_metric("n/a")
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")
