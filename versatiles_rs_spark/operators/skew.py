"""Hot-tile skew handling: explicit salting + two-phase aggregation.

North rule: "explicit salting/AQE handling of hot-tile skew (dense urban
cells)". AQE's skew-join splitting handles join-side skew automatically (on
in our session); this module adds the *aggregation-side* valve: a z14 tile
over Manhattan can hold millions of pages while the median tile holds a
handful, so a plain groupBy(z,x,y) gives one straggler task.

``salted_tile_stats``: phase 1 groups by (z, x, y, salt) where
salt = hash(id) % n_salts — map-side combinable, splits each hot key into
n_salts partial groups spread over the cluster; phase 2 re-aggregates the
partials per tile. Associative stats (count/sum/min/max) compose exactly.

``detect_hot_tiles`` finds keys exceeding a row threshold (the reference's
analog is the mosaic batch admission by peak footprint,
mosaic_tools/assemble/mod.rs:11-14).

For the *render* path the equivalent valve is feature capping per tile
(``cap_features_per_tile``): deterministic top-N by the stable splitmix
hash, matching the reference's drop_rate thinning philosophy — the kept set
is a deterministic function of ids, not of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from versatiles_rs_spark.operators.reduce_points import splitmix64_unit_col


def salted_tile_stats(
    assigned: DataFrame,
    n_salts: int = 16,
    id_col: str = "doc_id",
    value_col: str | None = None,
) -> DataFrame:
    """Two-phase per-tile stats robust to hot keys.

    Output: (z, x, y, n, [value_sum]) — exactly equal to the unsalted
    groupBy (tested), but phase 1 spreads each hot tile over ``n_salts``
    reducers.
    """
    salt = (F.abs(F.hash(F.col(id_col))) % F.lit(n_salts)).alias("_salt")
    aggs1 = [F.count("*").alias("n")]
    aggs2 = [F.sum("n").alias("n")]
    if value_col:
        aggs1.append(F.sum(value_col).alias("_vsum"))
        aggs2.append(F.round(F.sum("_vsum"), 6).alias("value_sum"))
    partial = assigned.select("z", "x", "y", salt, *( [value_col] if value_col else [] )).groupBy(
        "z", "x", "y", "_salt"
    ).agg(*aggs1)
    return partial.groupBy("z", "x", "y").agg(*aggs2)


def detect_hot_tiles(assigned: DataFrame, threshold: int) -> DataFrame:
    """Tiles whose row count exceeds ``threshold`` (salting/capping
    candidates). Itself salted so the detector cannot straggle."""
    return salted_tile_stats(assigned).filter(F.col("n") > threshold).select("z", "x", "y", "n")


def cap_features_per_tile(
    assigned: DataFrame,
    max_features: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministically keep at most ``max_features`` rows per tile: rank
    by the stable splitmix64 unit hash (ties impossible for distinct ids),
    so the kept set is independent of partitioning/execution order."""
    w = Window.partitionBy("z", "x", "y").orderBy(
        splitmix64_unit_col(id_col).asc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_features)
        .drop("_rk")
    )
