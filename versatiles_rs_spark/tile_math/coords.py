"""Tile coordinate algebra — exact Web Mercator pyramid math.

Semantics mirror the reference implementation:

- ``from_geo``      : versatiles_core/src/types/tile_coord.rs:129-147
- ``coord_to_geo``  : tile_coord.rs:173-190
- ``sort_index``    : tile_coord.rs:235-239
- ``to_mercator_bbox``: tile_coord.rs:213-225
- mercator fwd/inv  : versatiles_geometry/src/ext/mercator.rs:18-39

Every function exists in two forms:

1. a **numpy** form (vectorized, used inside Arrow/pandas UDFs and unit
   tests), and
2. a **Spark Column** form (built-in Spark SQL functions — JVM-side,
   whole-stage-codegen friendly, zero Python in the hot path; the geocode
   is built as one SQL string, so planning it costs one ``F.expr`` call
   instead of a py4j round trip per operator).

The Column form is the one production plans use: geocoding 10^12 pages must
never leave the JVM.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from versatiles_rs_spark.sql_literals import sql_double, sql_name

MAX_ZOOM_LEVEL = 30
EARTH_RADIUS = 6_378_137.0
WORLD_SIZE = 2.0 * math.pi * EARTH_RADIUS
MAX_LAT = 85.051128779806589  # versatiles_core MAX_LAT (web-mercator limit)


# ---------------------------------------------------------------------------
# numpy forms
# ---------------------------------------------------------------------------

def lonlat_to_tile_np(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon°, lat°) -> (tile_x, tile_y) at zoom ``z``; clamped like the
    reference (tile_coord.rs:139-146)."""
    zoom = float(2**z)
    x = zoom * (np.asarray(lon, dtype=np.float64) / 360.0 + 0.5)
    lat = np.asarray(lat, dtype=np.float64)
    with np.errstate(divide="ignore"):  # lat=±90 -> ±inf, clamped below like the reference
        y = zoom * (0.5 - 0.5 * np.log(np.tan(lat * np.pi / 360.0 + np.pi / 4.0)) / np.pi)
    x = np.floor(np.clip(x, 0.0, zoom - 1.0)).astype(np.int64)
    y = np.floor(np.clip(y, 0.0, zoom - 1.0)).astype(np.int64)
    return x, y


def coord_to_geo_np(z: int, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Tile (possibly fractional) coords -> NW-corner (lon°, lat°)
    (tile_coord.rs:173-190)."""
    zoom = float(2**z)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = (x / zoom - 0.5) * 360.0
    lat = (np.arctan(np.exp(np.pi * (1.0 - 2.0 * y / zoom))) / np.pi - 0.25) * 360.0
    return lon, lat


def tile_geo_bbox_np(z: int, x: np.ndarray, y: np.ndarray):
    """[west, south, east, north] in degrees for each tile."""
    w, n = coord_to_geo_np(z, x, y)
    e, s = coord_to_geo_np(z, np.asarray(x) + 1, np.asarray(y) + 1)
    return w, s, e, n


def mercator_fwd_np(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 -> EPSG:3857 meters; lat clamped to ±MAX_LAT (mercator.rs:18-26)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    mx = np.radians(np.asarray(lon, dtype=np.float64)) * EARTH_RADIUS
    my = np.log(np.tan(np.radians(lat) / 2.0 + np.pi / 4.0)) * EARTH_RADIUS
    return mx, my


def mercator_inv_np(mx: np.ndarray, my: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:3857 meters -> WGS84 degrees (mercator.rs:29-36)."""
    lon = np.degrees(np.asarray(mx, dtype=np.float64) / EARTH_RADIUS)
    lat = np.degrees(2.0 * np.arctan(np.exp(np.asarray(my, dtype=np.float64) / EARTH_RADIUS)) - np.pi / 2.0)
    return lon, lat


def tile_mercator_bbox_np(z: int, x: np.ndarray, y: np.ndarray):
    """[x_min, y_min, x_max, y_max] in mercator meters (tile_coord.rs:213-225)."""
    tiles = float(2**z)
    ts = WORLD_SIZE / tiles
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    x_min = -WORLD_SIZE / 2.0 + x * ts
    y_max = WORLD_SIZE / 2.0 - y * ts
    return x_min, y_max - ts, x_min + ts, y_max


def sort_index_np(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Linear total order across zooms: (4^z - 1)/3 + y*2^z + x
    (tile_coord.rs:235-239)."""
    z = np.asarray(z, dtype=np.int64)
    size = np.int64(1) << z
    offset = (size * size - 1) // 3
    return offset + size * np.asarray(y, dtype=np.int64) + np.asarray(x, dtype=np.int64)


def ground_size_meters_np(z: int) -> float:
    """Ground size of one tile edge at the equator (tile_coord.rs:411)."""
    return WORLD_SIZE / float(2**z)


# ---------------------------------------------------------------------------
# Spark Column forms (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

def lonlat_to_tile_cols(lon: str, lat: str, z: str | int) -> tuple[Column, Column]:
    """Geocode of the columns named ``lon``/``lat`` at zoom ``z`` (a column
    name or an int): identical formula to ``lonlat_to_tile_np``, each of x
    and y one SQL expression.

    Pure built-in functions → stays inside WholeStageCodegen; this is the
    geocoding core applied to every page row, so it must never hit Python.
    """
    zc = sql_name(z) if isinstance(z, str) else str(int(z))
    zoom = f"power(2.0D, CAST({zc} AS DOUBLE))"
    pi = sql_double(math.pi)
    xf = f"{zoom} * ({sql_name(lon)} / 360.0D + 0.5D)"
    yf = (
        f"{zoom} * (0.5D - 0.5D * ln(tan({sql_name(lat)} * {pi} / 360.0D"
        f" + {sql_double(math.pi / 4.0)})) / {pi})"
    )
    x, y = (f"CAST(floor(greatest(0.0D, least({f}, {zoom} - 1.0D))) AS BIGINT)" for f in (xf, yf))
    return F.expr(x), F.expr(y)


def sort_index_col(z: Column, x: Column, y: Column) -> Column:
    """Column form of ``sort_index`` — global ordering key for tile writes.

    Integer ``div`` keeps the zoom offset (4^z - 1)/3 exact for all
    z <= MAX_ZOOM_LEVEL (tile_coord.rs:235); float division would lose up
    to ~64 ULPs once 4^z - 1 exceeds 2^53 (z >= 27).
    """
    size = F.call_function("shiftleft", F.lit(1).cast("bigint"), z.cast("int"))  # exact 2^z
    offset = F.call_function("div", size * size - F.lit(1).cast("bigint"), F.lit(3).cast("bigint"))
    return (offset + size * y.cast("bigint") + x.cast("bigint")).alias("sort_index")


def tile_bounds_cols(z: Column | int, x: Column, y: Column) -> tuple[Column, Column, Column, Column]:
    """(west, south, east, north) degree Columns for a tile."""
    zc = F.lit(z) if isinstance(z, int) else z
    zoom = F.pow(F.lit(2.0), zc.cast("double"))

    def _lon(xc: Column) -> Column:
        return (xc.cast("double") / zoom - F.lit(0.5)) * F.lit(360.0)

    def _lat(yc: Column) -> Column:
        return (
            F.atan(F.exp(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yc.cast("double") / zoom)))
            / F.lit(math.pi)
            - F.lit(0.25)
        ) * F.lit(360.0)

    return _lon(x), _lat(y + F.lit(1)), _lon(x + F.lit(1)), _lat(y)


def parent_coord_cols(x: Column, y: Column, levels: int = 1) -> tuple[Column, Column]:
    """Parent tile at ``levels`` zooms up: x >> levels (tile_coord.rs at_level)."""
    return F.shiftright(x.cast("bigint"), levels), F.shiftright(y.cast("bigint"), levels)


def flip_y_col(z: Column, y: Column) -> Column:
    """TMS y-flip: y' = 2^z - 1 - y (tile_coord.rs flip_y / mbtiles reader)."""
    return F.pow(F.lit(2.0), z.cast("double")).cast("bigint") - F.lit(1) - y.cast("bigint")


def swap_xy_cols(x: Column, y: Column) -> tuple[Column, Column]:
    """Axis swap (tile_coord.rs swap_xy)."""
    return y, x


def at_level_cols(z: Column, x: Column, y: Column, target: int) -> tuple[Column, Column]:
    """Rescale coords to another zoom (tile_coord.rs:264 at_level): multiply
    when zooming in, integer-divide when zooming out."""
    scale = F.pow(F.lit(2.0), (F.lit(target) - z).cast("double"))
    up_x = (x.cast("bigint") * scale.cast("bigint"))
    up_y = (y.cast("bigint") * scale.cast("bigint"))
    down = F.pow(F.lit(2.0), (z - F.lit(target)).cast("double")).cast("bigint")
    nx = F.when(F.lit(target) >= z, up_x).otherwise(F.floor(x.cast("bigint") / down).cast("bigint"))
    ny = F.when(F.lit(target) >= z, up_y).otherwise(F.floor(y.cast("bigint") / down).cast("bigint"))
    return nx, ny


def ground_size_meters_col(z: Column) -> Column:
    """Tile edge length in meters at the equator (tile_coord.rs:411)."""
    return F.lit(WORLD_SIZE) / F.pow(F.lit(2.0), z.cast("double"))
