"""Point reduction parity: drop_rate superset property + splitmix exactness,
min_distance grid semantics."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from versatiles_rs_spark.operators.reduce_points import (
    apply_drop_rate_np,
    drop_rate_keep,
    min_distance_cell_winner,
    min_distance_seq_np,
    splitmix64_col,
    splitmix64_unit_col,
)
from versatiles_rs_spark.tile_math.hilbert import splitmix64_np, splitmix64_unit_np


def test_splitmix_column_matches_numpy(spark):
    ids = np.arange(0, 5000, dtype=np.int64)
    df = spark.range(0, 5000).select(F.col("id"))
    got = df.select(splitmix64_col("id").alias("h"), splitmix64_unit_col("id").alias("u")).toPandas()
    want_h = splitmix64_np(ids.astype(np.uint64)).astype(np.int64)  # two's complement view
    np.testing.assert_array_equal(got["h"].values, want_h)
    np.testing.assert_allclose(got["u"].values, splitmix64_unit_np(ids.astype(np.uint64)), rtol=0, atol=0)


def test_drop_rate_superset_across_zooms(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    df = df.select("*", F.explode(F.sequence(F.lit(0), F.lit(8))).alias("z"))
    kept = drop_rate_keep(df, "doc_id", "z", max_zoom=8, keep_ratio=0.5).toPandas()
    by_zoom = {z: set(g["doc_id"]) for z, g in kept.groupby("z")}
    for z in range(1, 9):
        assert by_zoom.get(z - 1, set()) <= by_zoom[z], f"superset violated at z={z}"
    # at max zoom everything survives ratio^0 = 1
    assert len(by_zoom[8]) == 2000


def test_drop_rate_matches_reference_numpy(spark):
    df = spark.range(0, 3000).select(F.col("id").alias("doc_id"), F.lit(3).alias("z"))
    kept = drop_rate_keep(df, "doc_id", "z", max_zoom=8, keep_ratio=0.7).toPandas()
    ids = np.arange(3000)
    want = ids[apply_drop_rate_np(ids, 0.7**5)]
    np.testing.assert_array_equal(np.sort(kept["doc_id"].values), want)


def test_min_distance_seq_reference_semantics():
    # first-seen wins; a later point within threshold is dropped
    ids = np.array([0, 1, 2, 3])
    mx = np.array([0.0, 50.0, 500.0, 501.0])
    my = np.array([0.0, 0.0, 0.0, 0.0])
    keep = min_distance_seq_np(ids, mx, my, threshold=100.0)
    assert keep.tolist() == [True, False, True, False]
    # non-finite coordinates are dropped (reduce_points.rs:96-99)
    keep2 = min_distance_seq_np(np.array([0]), np.array([np.nan]), np.array([0.0]), 10.0)
    assert keep2.tolist() == [False]


def test_min_distance_cell_winner(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "mx": [0.0, 50.0, 500.0, 501.0],
            "my": [0.0, 0.0, 0.0, 0.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = min_distance_cell_winner(df, "doc_id", "mx", "my", 100.0).toPandas()
    # cells of 100m: {0,1} -> winner 0; {2,3} -> winner 2 (both in cell 5)
    assert sorted(out["doc_id"]) == [0, 2]
    assert set(out.columns) == {"doc_id", "mx", "my"}
