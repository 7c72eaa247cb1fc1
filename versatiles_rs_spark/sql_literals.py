"""Exact SQL text for Spark expressions built as one string.

A ``Column`` formula costs several py4j round trips per operator when a
plan is built; the same formula as one SQL string costs one ``F.expr``.
These helpers write its names and literals so that the string means
exactly what the ``Column`` form meant.
"""

from __future__ import annotations

import math


def sql_name(name: str) -> str:
    """A column name as a quoted SQL identifier (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(v: float) -> str:
    """A SQL literal of exactly ``v``: ``repr`` round-trips every finite
    double (``-0.0`` and subnormals included) as a ``D`` literal."""
    v = float(v)
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
