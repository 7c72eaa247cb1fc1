"""Hierarchical cell index (XYZ-quadkey cells = our H3/S2 stand-in) and
polygon cell covers — the *scale path* for spatial joins.

The broadcast PIP join (spatial/pip.py) wins while the polygon set fits in
memory. When it doesn't (country-scale masks at z14), the standard pattern —
mirroring the reference's coarse-to-fine classification
(mask_geometry.rs:237) — is a two-stage equi-join:

1. cover every polygon with tiles at a fixed cell zoom, labelled
   FULLY_INSIDE / PARTIAL (``polygon_cell_cover``);
2. equi-join points' cell ids against the cover (hash join, shuffles on the
   cell key — broadcastable when the cover is small);
3. points hitting FULLY_INSIDE cells are accepted immediately; points in
   PARTIAL cells run the exact ray-cast test only for that polygon.

Two cell key families are available:
- XYZ tile id at a fixed zoom with ``cell_id = sort_index``
  (tile_coord.rs:235) as the 64-bit key — used throughout this module;
- REAL S2 cell ids (tile_math/s2.py, round 3): cube face + quadratic ST
  projection + per-face Hilbert curve in the standard 64-bit layout,
  usable as a drop-in bucket/partition key wherever cell_id is
  (`s2_cell_id_col(lon, lat, level)`); oracle-checked via the
  `s2_face_ij` driver query and property-tested in tests/test_s2.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from versatiles_rs_spark.spatial.pip import (
    FULLY_INSIDE,
    FULLY_OUTSIDE,
    PARTIAL,
    Polygon,
    band_index,
    classify_tiles,
    pip_contains_np,
    prepare,
)
from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols, lonlat_to_tile_np


def cell_id_col(x: Column, y: Column, zoom: int) -> Column:
    """64-bit cell key at fixed zoom: (4^z - 1)/3 + y * 2^z + x."""
    size = 1 << zoom
    offset = (size * size - 1) // 3
    return (F.lit(offset) + y.cast("bigint") * F.lit(size) + x.cast("bigint")).cast("bigint")


def point_cells(points: DataFrame, zoom: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    x, y = lonlat_to_tile_cols(lon_col, lat_col, zoom)
    return points.withColumn("cell_id", cell_id_col(x, y, zoom))


def polygon_cell_cover(poly: Polygon, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Cover one polygon with cells at ``zoom``.

    Returns (cell_ids, classes) with class FULLY_INSIDE or PARTIAL.
    Quadtree descent: start at z0 and only subdivide PARTIAL cells — the
    TileCover/TileQuadtree auto-upgrade pattern (tile_cover/mod.rs:48).
    Each level's cells are classified in one ``classify_tiles`` call; the
    descent then walks them depth first."""
    shape = prepare(poly)
    classes: dict[tuple[int, int, int], int] = {}
    level = np.zeros((1, 2), dtype=np.int64)  # (x, y) of one level's cells
    for zc in range(zoom + 1):
        cls = classify_tiles(zc, level[:, 0], level[:, 1], shape)
        classes.update(zip(((zc, x, y) for x, y in level.tolist()), cls.tolist()))
        split = level[cls == PARTIAL] * 2
        level = np.concatenate([split + (dx, dy) for dx in (0, 1) for dy in (0, 1)])
        if not len(level):
            break
    frontier = [(0, 0, 0)]  # (z, x, y) partial cells to refine
    inside: list[tuple[int, int]] = []
    partial: list[tuple[int, int]] = []
    while frontier:
        zc, xc, yc = frontier.pop()
        cls = classes[(zc, xc, yc)]
        if cls == FULLY_OUTSIDE:
            continue
        if cls == FULLY_INSIDE:
            # expand to target zoom arithmetically (children ranges)
            scale = 1 << (zoom - zc)
            xs = np.arange(xc * scale, (xc + 1) * scale)
            ys = np.arange(yc * scale, (yc + 1) * scale)
            gx, gy = np.meshgrid(xs, ys)
            inside.extend(zip(gx.ravel().tolist(), gy.ravel().tolist()))
            continue
        if zc == zoom:
            partial.append((xc, yc))
            continue
        z2 = zc + 1
        frontier.extend(
            (z2, 2 * xc + dx, 2 * yc + dy) for dx in (0, 1) for dy in (0, 1)
        )
    size = 1 << zoom
    offset = (size * size - 1) // 3

    def _ids(pairs: list[tuple[int, int]]) -> np.ndarray:
        if not pairs:
            return np.empty(0, dtype=np.int64)
        arr = np.array(pairs, dtype=np.int64)
        return offset + arr[:, 1] * size + arr[:, 0]

    ids = np.concatenate([_ids(inside), _ids(partial)])
    classes = np.concatenate(
        [np.full(len(inside), FULLY_INSIDE, np.int8), np.full(len(partial), PARTIAL, np.int8)]
    )
    return ids, classes


def pip_join_cells(
    points: DataFrame,
    polygons: list[Polygon],
    cell_zoom: int = 7,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Two-stage cell-cover spatial join (the 100 TB path).

    Stage 1: equi-join point cell ids x polygon cover cells (Catalyst picks
    broadcast vs shuffle by cover size). Stage 2: rows landing in PARTIAL
    cells get the exact ray-cast, restricted to that polygon — the expensive
    test runs on the boundary fraction only (~perimeter/area of the cover).
    Output schema matches spatial.pip.pip_join (inner semantics).
    """
    spark = points.sparkSession
    import pandas as pd

    cover_rows = []
    for p in polygons:
        ids, classes = polygon_cell_cover(p, cell_zoom)
        for cid, cls in zip(ids.tolist(), classes.tolist()):
            cover_rows.append((cid, int(cls), p.feature_id, p.name))
    cover = spark.createDataFrame(
        pd.DataFrame(cover_rows, columns=["cell_id", "cls", "feature_id", "poly_name"])
    )

    pts = point_cells(points, cell_zoom, lon_col, lat_col)
    joined = pts.join(F.broadcast(cover), "cell_id")
    sure = joined.filter(F.col("cls") == FULLY_INSIDE).drop("cls", "cell_id")

    maybe = joined.filter(F.col("cls") == PARTIAL).drop("cls", "cell_id")
    index_map = {p.feature_id: band_index(p.edges()) for p in polygons}
    bc = spark.sparkContext.broadcast(index_map)
    out_fields = sure.schema

    def exact(it):
        index_by_fid = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for fid in np.unique(pdf["feature_id"].values):
                m = pdf["feature_id"].values == fid
                keep[m] = pip_contains_np(
                    pdf[lon_col].values[m], pdf[lat_col].values[m], index_by_fid[int(fid)]
                )
            out = pdf.loc[keep]
            if len(out):
                yield out

    verified = maybe.mapInPandas(exact, schema=out_fields)
    return sure.unionByName(verified)


def knn_cells_np(
    q_lon: float,
    q_lat: float,
    zoom: int,
    ring: int,
) -> np.ndarray:
    """Cell ids of the (2r+1)^2 ring neighborhood around a query point —
    the cell-ring expansion probe set (generalizes reduce_points.rs:78
    9-cell neighborhood)."""
    qx, qy = lonlat_to_tile_np(np.array([q_lon]), np.array([q_lat]), zoom)
    size = 1 << zoom
    xs = np.arange(qx[0] - ring, qx[0] + ring + 1) % size  # wrap antimeridian
    ys = np.clip(np.arange(qy[0] - ring, qy[0] + ring + 1), 0, size - 1)
    gx, gy = np.meshgrid(xs, ys)
    offset = (size * size - 1) // 3
    return np.unique(offset + gy.ravel() * size + gx.ravel())
