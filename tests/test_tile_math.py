"""Tile math parity with reference doctests/formulas.

Reference values come from versatiles_core doctests:
- tile_coord.rs:124-127 (Berlin @ z10 via from_geo)
- tile_coord.rs:166-171 (coord_to_geo(10, 1.0, 1020.0))
- tile_coord.rs:209-211 (zoom-0 mercator bbox covers the world)
- tile_hilbert_index.rs:25-29 (roundtrip invariant)
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from versatiles_rs_spark.tile_math import (
    coord_to_geo_np,
    hilbert_index_np,
    hilbert_to_coord_np,
    lonlat_to_tile_np,
    mercator_fwd_np,
    mercator_inv_np,
    quadkey_np,
    sort_index_np,
    splitmix64_np,
    splitmix64_unit_np,
    zorder_index_np,
)
from versatiles_rs_spark.tile_math.coords import (
    lonlat_to_tile_cols,
    sort_index_col,
    tile_mercator_bbox_np,
)


def test_from_geo_berlin_z10():
    # Berlin 13.404954, 52.520008 @ z10 (tile_coord.rs:124-127); expected
    # web-mercator tile x=550 y=335 (standard slippy-map value).
    x, y = lonlat_to_tile_np(np.array([13.404954]), np.array([52.520008]), 10)
    assert (x[0], y[0]) == (550, 335)


def test_from_geo_clamping():
    # lat 90 would be -inf in mercator; reference clamps to [0, 2^z - 1]
    x, y = lonlat_to_tile_np(np.array([180.0, -180.0]), np.array([90.0, -90.0]), 4)
    assert x.tolist() == [15, 0]
    assert y.tolist() == [0, 15]


def test_coord_to_geo_doctest():
    lon, lat = coord_to_geo_np(10, np.array([1.0]), np.array([1020.0]))
    assert f"{lon[0]:.5f}" == "-179.64844"
    assert f"{lat[0]:.5f}" == "-84.92832"


def test_geo_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-84, 84, 500)
    for z in (0, 5, 14):
        x, y = lonlat_to_tile_np(lon, lat, z)
        w, n = coord_to_geo_np(z, x, y)
        e, s = coord_to_geo_np(z, x + 1, y + 1)
        assert np.all((lon >= w - 1e-9) & (lon <= e + 1e-9))
        assert np.all((lat <= n + 1e-9) & (lat >= s - 1e-9))


def test_mercator_roundtrip_and_world_bbox():
    lon = np.array([13.404954, -77.0365])
    lat = np.array([52.520008, 38.8977])
    mx, my = mercator_fwd_np(lon, lat)
    lon2, lat2 = mercator_inv_np(mx, my)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    bbox = tile_mercator_bbox_np(0, np.array([0]), np.array([0]))
    assert bbox[0][0] < -20_000_000.0 and bbox[2][0] > 20_000_000.0


def test_sort_index():
    # (4^z - 1)/3 + y*2^z + x (tile_coord.rs:235-239)
    assert sort_index_np(np.array([0]), np.array([0]), np.array([0]))[0] == 0
    assert sort_index_np(np.array([1]), np.array([1]), np.array([1]))[0] == 1 + 2 + 1
    z, x, y = np.array([10]), np.array([550]), np.array([335])
    expected = (4**10 - 1) // 3 + 335 * 2**10 + 550
    assert sort_index_np(z, x, y)[0] == expected


def test_hilbert_roundtrip():
    rng = np.random.default_rng(7)
    for z in (0, 1, 5, 12):
        n = 2**z
        x = rng.integers(0, n, 200)
        y = rng.integers(0, n, 200)
        idx = hilbert_index_np(z, x, y)
        z2, x2, y2 = hilbert_to_coord_np(idx)
        assert np.all(z2 == z)
        np.testing.assert_array_equal(x2, x)
        np.testing.assert_array_equal(y2, y)


def test_hilbert_zoom_stacking():
    # lower zooms occupy strictly lower index ranges (tile_hilbert_index.rs:74-76)
    i_z0 = hilbert_index_np(0, np.array([0]), np.array([0]))[0]
    i_z1 = hilbert_index_np(1, np.array([0, 1]), np.array([0, 1]))
    i_z2_min = hilbert_index_np(2, np.array([0]), np.array([0]))[0]
    assert i_z0 == 0
    assert i_z1.min() >= 1 and i_z1.max() <= 4
    assert i_z2_min == 5


def test_hilbert_locality_adjacent():
    # consecutive hilbert indices are adjacent tiles
    z = 6
    n = 2**z
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    idx = hilbert_index_np(z, xs.ravel(), ys.ravel())
    order = np.argsort(idx)
    x_sorted, y_sorted = xs.ravel()[order], ys.ravel()[order]
    d = np.abs(np.diff(x_sorted)) + np.abs(np.diff(y_sorted))
    assert np.all(d == 1)


def test_zorder_interleave():
    # x bits -> even positions, y bits -> odd: x=0b101, y=0b011 -> 0b011011
    assert zorder_index_np(np.array([0b101]), np.array([0b011]))[0] == 0b011011
    # z-order preserves prefix blocks
    idx = zorder_index_np(np.arange(16), np.zeros(16, dtype=np.int64))
    assert np.all(np.diff(idx) > 0)


def test_quadkey():
    qk = quadkey_np(3, np.array([3]), np.array([5]))
    # bits: x=011 y=101 -> digits (y<<1|x per level, MSB first): (1,0)->2? compute manually
    # level 2 (i=2): x bit 0, y bit 1 -> 2 ; level 1 (i=1): x 1, y 0 -> 1 ; level 0: x 1, y 1 -> 3
    assert qk[0] == "213"


def test_splitmix64_reference_vector():
    # splitmix64(0..2) known vector (Steele et al. / reference impl)
    def sm_ref(x: int) -> int:  # pure-python wrapping-arithmetic ground truth
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return x ^ (x >> 31)

    out = splitmix64_np(np.array([0, 1, 2, 123456789], dtype=np.uint64))
    assert out[0] == 0xE220A8397B1DCDAF  # published splitmix64(0)
    for i, v in zip([0, 1, 2, 123456789], out):
        assert int(v) == sm_ref(i)
    u = splitmix64_unit_np(np.arange(10000, dtype=np.uint64))
    assert 0.0 <= u.min() and u.max() < 1.0
    assert abs(u.mean() - 0.5) < 0.02


def test_column_form_matches_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "lon": np.linspace(-179.9, 179.9, 400),
            "lat": np.linspace(-84.9, 84.9, 400),
        }
    )
    df = spark.createDataFrame(pdf)
    for z in (3, 10, 14):
        xc, yc = lonlat_to_tile_cols("lon", "lat", z)
        out = df.select(xc.alias("x"), yc.alias("y")).toPandas()
        xn, yn = lonlat_to_tile_np(pdf["lon"].values, pdf["lat"].values, z)
        np.testing.assert_array_equal(out["x"].values, xn)
        np.testing.assert_array_equal(out["y"].values, yn)
    si = (
        df.select(
            sort_index_col(F.lit(10), F.lit(550).cast("bigint"), F.lit(335).cast("bigint")).alias("s")
        )
        .limit(1)
        .collect()[0]["s"]
    )
    assert si == (4**10 - 1) // 3 + 335 * 2**10 + 550
    # high zoom: 4^z - 1 > 2^53 — Column form must stay exact-integer
    # (tile_coord.rs:235, MAX_ZOOM_LEVEL=30)
    for z, x, y in ((27, 12345678, 98765432), (30, 2**30 - 1, 2**30 - 1)):
        si_hi = (
            df.select(
                sort_index_col(
                    F.lit(z), F.lit(x).cast("bigint"), F.lit(y).cast("bigint")
                ).alias("s")
            )
            .limit(1)
            .collect()[0]["s"]
        )
        want = sort_index_np(np.array([z]), np.array([x]), np.array([y]))[0]
        assert si_hi == int(want) == (4**z - 1) // 3 + y * 2**z + x


def test_at_level_and_flip_and_ground_size(spark):
    from pyspark.sql import functions as F

    from versatiles_rs_spark.tile_math.coords import (
        WORLD_SIZE,
        at_level_cols,
        flip_y_col,
        ground_size_meters_col,
        swap_xy_cols,
    )

    df = spark.createDataFrame([(10, 550, 335)], ["z", "x", "y"])
    up_x, up_y = at_level_cols(F.col("z"), F.col("x"), F.col("y"), 12)
    dn_x, dn_y = at_level_cols(F.col("z"), F.col("x"), F.col("y"), 8)
    fy = flip_y_col(F.col("z"), F.col("y"))
    gs = ground_size_meters_col(F.col("z"))
    sx, sy = swap_xy_cols(F.col("x"), F.col("y"))
    row = df.select(
        up_x.alias("ux"), up_y.alias("uy"), dn_x.alias("dx"), dn_y.alias("dy"),
        fy.alias("fy"), gs.alias("gs"), sx.alias("sx"), sy.alias("sy"),
    ).collect()[0]
    assert (row["ux"], row["uy"]) == (550 * 4, 335 * 4)  # at_level up (tile_coord.rs:264)
    assert (row["dx"], row["dy"]) == (550 // 4, 335 // 4)
    assert row["fy"] == 2**10 - 1 - 335
    assert abs(row["gs"] - WORLD_SIZE / 1024) < 1e-6
    assert (row["sx"], row["sy"]) == (335, 550)


_LON = st.one_of(st.sampled_from([-180.0, 180.0, 0.0, -0.0, -179.999999, 179.999999]),
                 st.floats(-180.0, 180.0))
_LAT = st.one_of(st.sampled_from([-90.0, 90.0, -85.0511, 85.0511, -85.051128779806589,
                                  85.051128779806589, 0.0]),
                 st.floats(-90.0, 90.0))


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(points=st.lists(st.tuples(_LON, _LAT), min_size=1, max_size=20), z=st.integers(0, 30),
       ids=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=20))
def test_sql_column_forms_match_numpy(spark, points, z, ids):
    """The one-expression Column forms of the geocode and the splitmix64
    hash give exactly the numpy forms, at the antimeridian, the mercator
    limit, the poles and every zoom."""
    from versatiles_rs_spark.operators.reduce_points import splitmix64_col, splitmix64_unit_col

    lon, lat = (np.array(c, dtype=np.float64) for c in zip(*points))
    df = spark.createDataFrame([(float(a), float(b)) for a, b in points], "lon double, lat double")
    xc, yc = lonlat_to_tile_cols("lon", "lat", z)
    got = df.select(xc.alias("x"), yc.alias("y")).toPandas()
    zc = lonlat_to_tile_cols("lon", "lat", "z")
    by_name = df.selectExpr("*", f"{z} AS z").select(zc[0].alias("x"), zc[1].alias("y")).toPandas()
    xn, yn = lonlat_to_tile_np(lon, lat, z)
    np.testing.assert_array_equal(got["x"].values, xn)
    np.testing.assert_array_equal(got["y"].values, yn)
    np.testing.assert_array_equal(by_name["x"].values, xn)
    np.testing.assert_array_equal(by_name["y"].values, yn)

    hashed = spark.createDataFrame([(i,) for i in ids], "id bigint").select(
        splitmix64_col("id").alias("h"), splitmix64_unit_col("id").alias("u")).toPandas()
    u64 = np.array(ids, dtype=np.int64).astype(np.uint64)
    np.testing.assert_array_equal(hashed["h"].values, splitmix64_np(u64).astype(np.int64))
    np.testing.assert_array_equal(hashed["u"].values, splitmix64_unit_np(u64))
