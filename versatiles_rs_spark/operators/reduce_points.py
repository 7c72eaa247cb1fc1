"""Per-zoom point reduction (reduce_points.rs semantics, Spark-first).

Two strategies, as in versatiles_geometry/src/feature_import/reduce_points.rs:

- ``drop_rate``: keep ``keep_ratio^(max_zoom - z)`` of input points, chosen by
  a stable per-feature hash so the kept set at zoom z is a superset of the
  kept set at z-1 (docs reduce_points.rs:1-14). Two hash flavors:

  * ``splitmix`` — exact reference parity (splitmix64 high-53-bit unit float,
    reduce_points.rs:128-145), expressed as *pure Column arithmetic* with
    two's-complement wrapping (needs spark.sql.ansi.enabled=false, which our
    session sets). Zero Python in the hot path.
  * ``portable`` — Knuth multiplicative hash mod 2^32, overflow-free, so the
    identical ANSI SQL runs on DuckDB for the correctness oracle.

- ``min_distance``: uniform-grid thinning. The reference's exact semantics
  (9-cell neighborhood, first-seen-in-input-order wins) have a sequential
  dependency chain, so the distributed operator uses the standard two-phase
  scalable variant: (1) per-cell winner = min id — a map-side-combinable
  aggregation; (2) optional exact neighbor enforcement over the (massively
  reduced) winner set. ``min_distance_seq_np`` is the exact sequential
  reference algorithm for parity tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from versatiles_rs_spark.sql_literals import sql_double, sql_name

# splitmix64 constants as signed 64-bit literals (two's complement)
_SM_GAMMA = 0x9E3779B97F4A7C15 - (1 << 64)  # negative signed literal
_SM_MUL1 = 0xBF58476D1CE4E5B9 - (1 << 64)
_SM_MUL2 = 0x94D049BB133111EB - (1 << 64)


def splitmix64_sql(name: str) -> str:
    """splitmix64 of the column ``name`` as wrapping signed-int64 SQL
    arithmetic (bit-exact with the uint64 reference because
    two's-complement add/mul/xor/ushr are bit-identical)."""
    x = f"(CAST({sql_name(name)} AS BIGINT) + {_SM_GAMMA}L)"
    x = f"(({x} ^ shiftrightunsigned({x}, 30)) * {_SM_MUL1}L)"
    x = f"(({x} ^ shiftrightunsigned({x}, 27)) * {_SM_MUL2}L)"
    return f"({x} ^ shiftrightunsigned({x}, 31))"


def splitmix64_unit_sql(name: str) -> str:
    """Uniform [0,1): high 53 bits / 2^53 (reduce_points.rs:130-136)."""
    return f"(CAST(shiftrightunsigned({splitmix64_sql(name)}, 11) AS DOUBLE) / {sql_double(1 << 53)})"


def portable_unit_sql(name: str) -> str:
    """Overflow-free stable hash -> [0,1); the same arithmetic as
    ``PORTABLE_UNIT_SQL``, which DuckDB runs for the correctness oracle."""
    return f"(CAST((CAST({sql_name(name)} AS BIGINT) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0D)"


def splitmix64_col(name: str) -> Column:
    """``splitmix64_sql`` as a Column."""
    return F.expr(splitmix64_sql(name))


def splitmix64_unit_col(name: str) -> Column:
    """``splitmix64_unit_sql`` as a Column."""
    return F.expr(splitmix64_unit_sql(name))


PORTABLE_UNIT_SQL = "((({id}) * 2654435761) % 4294967296) / 4294967296.0"


def drop_rate_keep(
    df: DataFrame,
    id_col: str,
    z_col: str,
    max_zoom: int,
    keep_ratio: float,
    hash_flavor: str = "splitmix",
) -> DataFrame:
    """Filter point rows: keep where unit_hash(id) < keep_ratio^(max_zoom - z).

    Superset property across zooms holds because the hash is per-feature and
    the threshold is monotonically increasing in z (reduce_points.rs:1-14).
    Embarrassingly parallel — no shuffle.
    """
    if keep_ratio >= 1.0:
        return df
    if keep_ratio <= 0.0:
        return df.filter(F.col(z_col) >= max_zoom + 1)  # drop all
    unit = splitmix64_unit_sql(id_col) if hash_flavor == "splitmix" else portable_unit_sql(id_col)
    threshold = f"power({sql_double(keep_ratio)}, CAST({max_zoom} - {sql_name(z_col)} AS DOUBLE))"
    return df.filter(F.expr(f"{unit} < {threshold}"))


def min_distance_cell_winner(
    df: DataFrame,
    id_col: str,
    mx_col: str,
    my_col: str,
    threshold: float,
) -> DataFrame:
    """Scalable min-distance thinning: one winner (min id) per grid cell of
    size ``threshold`` mercator meters. Map-side combinable min-aggregation;
    the only shuffle is the groupBy on cell keys."""
    cell_x = F.floor(F.col(mx_col) / F.lit(threshold))
    cell_y = F.floor(F.col(my_col) / F.lit(threshold))
    keyed = df.withColumn("_cx", cell_x).withColumn("_cy", cell_y)
    winners = keyed.groupBy("_cx", "_cy").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(winners, ["_cx", "_cy", id_col], "left_semi")
        .drop("_cx", "_cy")
    )


def min_distance_seq_np(
    ids: np.ndarray, mx: np.ndarray, my: np.ndarray, threshold: float
) -> np.ndarray:
    """Exact reference algorithm (reduce_points.rs:78-122): uniform grid,
    9-cell neighborhood scan, first-seen (input order) wins. Returns a boolean
    keep mask. Used for parity tests and tile-local thinning inside
    applyInPandas (where the per-group row count is bounded)."""
    if threshold <= 0:
        return np.ones(len(ids), dtype=bool)
    t2 = threshold * threshold
    grid: dict[tuple[int, int], list[tuple[float, float]]] = {}
    keep = np.zeros(len(ids), dtype=bool)
    finite = np.isfinite(mx) & np.isfinite(my)
    cx_all = np.floor(np.where(finite, mx, 0.0) / threshold).astype(np.int64)
    cy_all = np.floor(np.where(finite, my, 0.0) / threshold).astype(np.int64)
    for i in range(len(ids)):
        if not finite[i]:
            continue
        cx, cy = int(cx_all[i]), int(cy_all[i])
        x, y = float(mx[i]), float(my[i])
        too_close = False
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for (px, py) in grid.get((cx + dx, cy + dy), ()):
                    if (px - x) ** 2 + (py - y) ** 2 < t2:
                        too_close = True
                        break
                if too_close:
                    break
            if too_close:
                break
        if not too_close:
            grid.setdefault((cx, cy), []).append((x, y))
            keep[i] = True
    return keep


def apply_drop_rate_np(ids: np.ndarray, keep_ratio: float) -> np.ndarray:
    """Numpy form of reduce_points.rs:60-75 for parity tests."""
    from versatiles_rs_spark.tile_math.hilbert import splitmix64_unit_np

    if keep_ratio >= 1.0:
        return np.ones(len(ids), dtype=bool)
    if keep_ratio <= 0.0:
        return np.zeros(len(ids), dtype=bool)
    return splitmix64_unit_np(ids.astype(np.uint64)) < keep_ratio


def thin_points_pdf(pdf: pd.DataFrame, threshold: float, mx_col: str = "mx", my_col: str = "my", id_col: str = "doc_id") -> pd.DataFrame:
    """Tile-local exact min-distance thinning for use inside applyInPandas."""
    order = np.argsort(pdf[id_col].values, kind="stable")
    pdf = pdf.iloc[order]
    mask = min_distance_seq_np(pdf[id_col].values, pdf[mx_col].values, pdf[my_col].values, threshold)
    return pdf.loc[mask]
