"""Parse Spark's formatted SQL-metric strings.

The SQL status store hands every plan-node metric back as display text:

- ``"500,000"`` — a row or record count (exact);
- ``"3.1 MiB"`` — a size, rounded to one decimal of its binary unit, so it
  keeps only about three significant digits and is never exact;
- ``"4.5 s"`` / ``"120 ms"`` — a duration;
- ``"total (min, med, max (stageId: taskId))\\n96.0 B (24.0 B, ...)"`` — a
  per-task metric; the total is the first value on the second line;
- ``"(min, med, max (stageId: taskId)):\\n(1, 1, 1 (stage 11.0: task 24))"``
  — a per-task average with no total; it reads as its median.

This module is the one place that reads those strings.
"""

from __future__ import annotations

import re

_BYTES = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> tuple[float, str] | None:
    """Formatted metric → ``(value, kind)`` with kind ``count``, ``bytes`` or
    ``seconds``; ``None`` for a metric with no value (a node that did not run
    in this execution). Raises ``ValueError`` on text it does not know, so a
    format change in Spark fails loudly instead of reading as zero."""
    if text is None:
        return None
    body = str(text)
    if body.startswith("total"):
        body = body.partition("\n")[2]
    elif body.startswith("(min, med, max"):
        body = body.partition("\n")[2].lstrip("(").split(", ")[1]
    if not body.strip():
        return None
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value, "count"
    if unit in _BYTES:
        return value * _BYTES[unit], "bytes"
    if unit in _SECONDS:
        return value * _SECONDS[unit], "seconds"
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def metric_value(text: str | None) -> float | None:
    """The numeric value alone (bytes, seconds or a count)."""
    parsed = parse_metric(text)
    return None if parsed is None else parsed[0]
