"""Broadcast ray-casting point-in-polygon join — the north-star primitive.

Re-expresses raster_mask's spatial machinery
(versatiles_pipeline/src/operations/raster/raster_mask/mask_geometry.rs):

- ``classify_tiles``  : FullyInside / FullyOutside / Partial tile-vs-polygon
  classification (mask_geometry.rs:237 ``classify_tile``) — the coarse-to-fine
  pruning stage, so the exact per-point test only runs on Partial tiles.
- ``band_index``      : the per-polygon edge index that stands in for the
  reference's R-tree beside its polygons (mask_geometry.rs:164). The
  polygon's y-range is cut into about E/4 equal bands (capped), and a CSR
  map lists for each band the int32 ids of the edges whose y-span meets it.
  Built once per polygon, on the driver for the Spark joins.
- ``pip_contains_np`` : banded even-odd ray cast, exact semantics of
  ``ray_crosses`` (mask_geometry.rs:85): a ray to +x crosses edge (p1, p2)
  iff ``(y1 > py) != (y2 > py)`` and ``px < (x2-x1)*(py-y1)/(y2-y1) + x1``.
  Each point meets only the edges of its band. That is exact: an edge can
  cross a point's ray only when ``min(y1,y2) <= py < max(y1,y2)``, and the
  band of a y is a monotone function of y, so such an edge is always
  listed in the point's band. The (point, edge) pairs are evaluated flat,
  in chunks of at most ``_PAIR_BUDGET`` pairs, with the same expression
  and operation order as a test against every edge: the masks are
  bit-identical, and memory stays bounded even when every band holds
  every edge.
- ``pip_join``        : DataFrame join point-rows x polygon-set. The polygon
  set is broadcast with its band indexes; the probe side is a zero-shuffle
  mapInArrow with a per-batch bbox prefilter in front of the banded ray
  cast. No pandas frame is materialized on either side of the Arrow
  boundary, and ``payload_cols`` trims the return stream.

Scale: no shuffle at all — each task streams its point partition against the
broadcast band indexes; 10^12 points parallelize embarrassingly. For polygon
sets too big to broadcast, the planner should fall back to the cell-cover
equi-join (spatial/cells.py) — same two-stage shape as the reference.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from versatiles_rs_spark.sql_literals import sql_double, sql_name

FULLY_OUTSIDE = 0
PARTIAL = 1
FULLY_INSIDE = 2


@dataclass
class Polygon:
    """A polygon feature: outer ring(s); holes via even-odd rule."""

    feature_id: int
    name: str
    kind: str
    rings: list[list[tuple[float, float]]]

    def _vertices(self) -> list[np.ndarray]:
        """Each non-empty ring's vertices as an (n, 2) float64 array."""
        return [
            np.fromiter(itertools.chain.from_iterable(r), np.float64, 2 * len(r)).reshape(-1, 2)
            for r in self.rings
            if len(r)
        ]

    def edges(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """float64 (x1, y1, x2, y2) of every ring's edges, each ring closed
        back to its first vertex; zero-length edges are skipped."""
        parts = [np.empty((4, 0))]
        for a in self._vertices():
            b = np.roll(a, -1, axis=0)
            keep = (a != b).any(axis=1)
            parts.append(np.concatenate([a[keep].T, b[keep].T]))
        return tuple(np.concatenate(parts, axis=1))

    def bbox(self) -> tuple[float, float, float, float]:
        xy = np.concatenate(self._vertices())
        x, y = xy[:, 0], xy[:, 1]
        return float(x.min()), float(y.min()), float(x.max()), float(y.max())


# Bands per polygon: about one per four edges (a few edges per band on a
# border-like ring), capped so the band map of a huge ring stays small.
_EDGES_PER_BAND = 4
_MAX_BANDS = 4096
# (point, edge) pairs evaluated at once: the kernel's intermediates (about
# 100 bytes a pair) stay cache-sized whatever the polygon's shape.
_PAIR_BUDGET = 1 << 14


@dataclass(frozen=True, eq=False)
class BandIndex:
    """A polygon's edges plus a y-band map: ``[ymin, ymax)`` is cut into
    equal bands and band ``b`` lists, in CSR form
    (``ids[starts[b]:starts[b + 1]]``), every edge whose y-span meets it."""

    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    ymin: float
    ymax: float
    scale: float
    starts: np.ndarray
    ids: np.ndarray


def _band(y: np.ndarray, ymin: float, scale: float, nb: int) -> np.ndarray:
    """Band of each ``y >= ymin``: monotone non-decreasing in y, and
    ``y*scale - ymin*scale`` stays finite for any finite y."""
    return np.minimum((y * scale - ymin * scale).astype(np.int64), nb - 1)


def band_index(edges) -> BandIndex:
    """Build the y-band edge index of one polygon's ``edges()`` tuple.
    Vertex y values must be finite: the bands partition ``[ymin, ymax)``."""
    x1, y1, x2, y2 = (np.asarray(a, dtype=np.float64) for a in edges)
    if not (np.isfinite(y1).all() and np.isfinite(y2).all()):
        raise ValueError("polygon vertex y values must be finite")
    lo, hi = np.minimum(y1, y2), np.maximum(y1, y2)
    ymin = float(lo.min()) if len(lo) else 0.0
    ymax = float(hi.max()) if len(hi) else 0.0
    nb = min(max(len(x1) // _EDGES_PER_BAND, 1), _MAX_BANDS)
    scale = nb / (ymax - ymin) if ymax > ymin else 0.0
    if not np.isfinite(scale):  # a y-extent of a few subnormals: one band
        scale = 0.0
    b_lo = _band(lo, ymin, scale, nb)
    span = _band(hi, ymin, scale, nb) - b_lo + 1
    edge = np.repeat(np.arange(len(x1), dtype=np.int32), span)
    band = np.repeat(b_lo - (np.cumsum(span) - span), span) + np.arange(span.sum())
    starts = np.concatenate([[0], np.cumsum(np.bincount(band, minlength=nb))])
    ids = edge[np.argsort(band, kind="stable")]
    return BandIndex(x1, y1, x2, y2, ymin, ymax, scale, starts, ids)


def pip_contains_np(px: np.ndarray, py: np.ndarray, edges) -> np.ndarray:
    """Even-odd ray cast of N points against one polygon; bool mask.

    ``edges`` is a polygon's ``edges()`` tuple or its prebuilt
    ``band_index``. Exact ``ray_crosses`` arithmetic (mask_geometry.rs:85):
    note the strict ``>`` on both y-comparisons (half-open rule — a vertex
    counts for the edge whose y1 is at/below the ray) and the strict ``<``
    on x.

    Banded: an edge can count for a point only when ``lo <= py < hi`` (its
    y-span, half open), so a point outside the polygon's ``[ymin, ymax)``
    crosses nothing, and a point inside it need only meet the edges listed
    for its band. The band of a y is monotone in y, so every edge that
    straddles ``py`` is listed for ``py``'s band and no crossing is lost.
    Each candidate point is expanded (``np.repeat``) to the edges of its
    band, the same crossing expression is evaluated on the flat pairs and
    the crossings are counted per point with ``np.bincount``: the mask is
    bit-identical to testing every edge. Points go through in chunks of
    ``_band_pairs``, so a polygon whose bands all hold many long edges
    never allocates N x E intermediates.
    """
    idx = edges if isinstance(edges, BandIndex) else band_index(edges)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    pts = np.flatnonzero((py >= idx.ymin) & (py < idx.ymax))
    cx, cy = px[pts], py[pts]
    band = _band(cy, idx.ymin, idx.scale, len(idx.starts) - 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i, j, pair_pt, e in _band_pairs(idx, idx.starts[band], idx.starts[band + 1]):
            x1, y1, x2, y2 = idx.x1[e], idx.y1[e], idx.x2[e], idx.y2[e]
            bpx, bpy = cx[i:j][pair_pt], cy[i:j][pair_pt]
            straddles = (y1 > bpy) != (y2 > bpy)
            x_at_y = (x2 - x1) * (bpy - y1) / (y2 - y1) + x1
            hits = np.bincount(pair_pt[straddles & (bpx < x_at_y)], minlength=j - i)
            inside[pts[i:j]] = (hits % 2).astype(bool)
    return inside


def _band_pairs(idx: BandIndex, first: np.ndarray, end: np.ndarray):
    """Flat (item, edge) pairs in chunks: item k meets the edges
    ``idx.ids[first[k]:end[k]]``. Each chunk holds at most
    ``_PAIR_BUDGET`` pairs (at least one item) and is yielded as
    ``(i, j, pair_item, edge)``: items ``i:j``, and for every pair its
    item (counted from ``i``) and its edge."""
    count = end - first
    done = np.cumsum(count)
    i = 0
    while i < len(count):
        base = done[i - 1] if i else 0
        j = max(int(np.searchsorted(done, base + _PAIR_BUDGET, side="right")), i + 1)
        c = count[i:j]
        pair = np.repeat(np.arange(j - i), c)
        slot = np.repeat(first[i:j] - (done[i:j] - c - base), c) + np.arange(done[j - 1] - base)
        yield i, j, pair, idx.ids[slot]
        i = j


def _segments_intersect_rect(
    idx: BandIndex, w: np.ndarray, s: np.ndarray, e: np.ndarray, n: np.ndarray
) -> np.ndarray:
    """Liang-Barsky clip acceptance -> per-tile bool: does ANY polygon edge
    touch the tile rect (including edges fully inside it)? Mirrors the
    reference's use of Liang-Barsky for line clipping
    (feature_import/tile_render.rs:210).

    Banded: an edge can touch a tile only when its y-span meets the tile's
    ``[s, n]``, and every such edge is listed for a band between those of
    ``s`` and ``n``, so each tile meets only the edges of those bands, plus
    one band on each side: the clip accepts an edge that misses ``[s, n]``
    by the rounding of its divisions (about an ulp of the edge's height,
    far less than a band), and those edges are met too. The clip runs on
    flat (tile, edge) pairs from ``_band_pairs``; each pair's arithmetic is
    the dense clip's, so the result is the same as testing every edge."""
    nb = len(idx.starts) - 1
    lo = np.maximum(_band(np.clip(s, idx.ymin, idx.ymax), idx.ymin, idx.scale, nb) - 1, 0)
    hi = np.minimum(_band(np.clip(n, idx.ymin, idx.ymax), idx.ymin, idx.scale, nb) + 1, nb - 1)
    touched = np.zeros(len(w), dtype=bool)
    for i, j, pair, edge in _band_pairs(idx, idx.starts[lo], idx.starts[hi + 1]):
        x1, y1 = idx.x1[edge], idx.y1[edge]
        dx, dy = idx.x2[edge] - x1, idx.y2[edge] - y1
        t0, t1 = np.zeros(len(edge)), np.ones(len(edge))
        reject = np.zeros(len(edge), dtype=bool)
        for p, q in (
            (-dx, x1 - w[i:j][pair]),
            (dx, e[i:j][pair] - x1),
            (-dy, y1 - s[i:j][pair]),
            (dy, n[i:j][pair] - y1),
        ):
            par = p == 0
            reject |= par & (q < 0)
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                t = np.where(par, 0.0, q / np.where(par, 1.0, p))
            t0 = np.where(~par & (p < 0), np.maximum(t0, t), t0)
            t1 = np.where(~par & (p > 0), np.minimum(t1, t), t1)
        touched[i:j] = np.bincount(pair[~reject & (t0 <= t1)], minlength=j - i) > 0
    return touched


@dataclass(frozen=True, eq=False)
class PreparedPolygon:
    """What ``classify_tiles`` needs of one polygon (its vertex bbox and its
    band index, which holds the edges), built once by ``prepare`` for a
    caller that classifies many tiles one call at a time."""

    bbox: tuple[float, float, float, float]
    index: BandIndex


def prepare(poly: Polygon) -> PreparedPolygon:
    return PreparedPolygon(poly.bbox(), band_index(poly.edges()))


def classify_tiles(
    z: int, x: np.ndarray, y: np.ndarray, poly: Polygon | PreparedPolygon
) -> np.ndarray:
    """Classify tiles against one polygon (mask_geometry.rs:237).

    Sound for arbitrary (incl. concave) polygons: if no polygon edge touches
    the tile rect, the tile is uniformly inside or outside, decided by one
    corner's PIP; otherwise PARTIAL. Pass ``prepare(poly)`` when calling
    repeatedly for the same polygon."""
    from versatiles_rs_spark.tile_math.coords import tile_geo_bbox_np

    shape = poly if isinstance(poly, PreparedPolygon) else prepare(poly)
    x = np.atleast_1d(np.asarray(x))
    y = np.atleast_1d(np.asarray(y))
    w, s, e, n = tile_geo_bbox_np(z, x, y)
    bx0, by0, bx1, by1 = shape.bbox
    out = np.full(len(x), PARTIAL, dtype=np.int8)
    disjoint = (e < bx0) | (w > bx1) | (n < by0) | (s > by1)
    out[disjoint] = FULLY_OUTSIDE

    idx = shape.index
    todo = ~disjoint
    if todo.any():
        cw, cs, ce, cn = w[todo], s[todo], e[todo], n[todo]
        touched = _segments_intersect_rect(idx, cw, cs, ce, cn)
        # untouched tiles are uniform: sample the center point
        center_in = pip_contains_np((cw + ce) / 2.0, (cs + cn) / 2.0, idx)
        sub = np.full(todo.sum(), PARTIAL, dtype=np.int8)
        sub[~touched & center_in] = FULLY_INSIDE
        sub[~touched & ~center_in] = FULLY_OUTSIDE
        out[todo] = sub
    return out


def bbox_prefilter_sql(lon_col: str, lat_col: str, bboxes) -> str:
    """One SQL condition: the point lies in any of ``bboxes`` (closed boxes
    ``(x0, y0, x1, y1)``). Built as one expression string, so planning it
    costs one parse, not a py4j round trip per ``Column`` operator."""
    lon, lat = sql_name(lon_col), sql_name(lat_col)
    return " OR ".join(
        f"({lon} >= {sql_double(x0)} AND {lon} <= {sql_double(x1)}"
        f" AND {lat} >= {sql_double(y0)} AND {lat} <= {sql_double(y1)})"
        for x0, y0, x1, y1 in bboxes
    )


_PIP_EXTRA = [
    StructField("feature_id", IntegerType()),
    StructField("poly_name", StringType()),
]


def pip_join(
    points: DataFrame,
    polygons: list[Polygon],
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Join point rows to the polygons containing them (even-odd rule).

    ``how='inner'`` drops points in no polygon; ``'left'`` keeps them with
    NULL feature_id. A point inside k polygons yields k rows (matching the
    SQL cross-join-filter oracle).

    ``payload_cols`` names the input columns carried through the probe and
    returned alongside (feature_id, poly_name). Default: every input column.
    Pass the minimal set (e.g. ``["doc_id"]``) to shrink BOTH Arrow streams —
    lon/lat are consumed inside the probe and need not ride the return path.

    The probe is a ``mapInArrow`` stage: lon/lat come out of the RecordBatch
    as zero-copy numpy views, hit rows are gathered with one C++-side
    ``Table.take`` per batch, and no pandas frame is ever materialized —
    JVM<->Python transfer is the measured bottleneck at bench scale, so the
    hot path stays entirely in Arrow.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    spark = points.sparkSession
    if payload_cols is not None:
        keep = list(dict.fromkeys(list(payload_cols) + [lon_col, lat_col]))
        points = points.select(*keep)
        out_names = list(payload_cols)
    else:
        out_names = [f.name for f in points.schema.fields]
    shapes = [prepare(p) for p in polygons]
    if how == "inner" and polygons:
        # JVM-side bbox prefilter: a point outside every polygon's bbox can
        # never match an inner join, so drop it INSIDE codegen before the
        # Arrow boundary — the JVM->Python transfer is the measured
        # bottleneck and this shrinks it by the non-candidate fraction.
        # The exact per-polygon bbox test still runs in the probe.
        cond = bbox_prefilter_sql(lon_col, lat_col, [s.bbox for s in shapes])
        points = points.filter(F.expr(cond))
    # scale hygiene: a zero-shuffle map pipeline inherits the source's
    # partitioning; a single fat parquet file would serialize the whole probe
    # onto one task. Spread (on the already-projected slim columns) to at
    # least the cluster's parallelism. On a many-partition production table
    # this guard never fires and the plan stays exchange-free.
    #
    # Why an exchange and not spark.sql.files.maxPartitionBytes on the read
    # (the obvious alternative): parquet scan splits only parallelize down
    # to ROW-GROUP granularity — the test tables are single-row-group files
    # (events sf0.1 = 1 row group / 100k rows, measured), so byte-range
    # splits below that produce empty partitions, not parallelism. A
    # RoundRobin exchange of the bbox-surviving slim rows is the only lever
    # for such inputs, and it is bounded by the post-prefilter volume. At
    # production scale (many files x many row groups) the condition is
    # false and no exchange exists.
    # (partitions counted on the JVM's RDD: no Python RDD is built)
    target = spark.sparkContext.defaultParallelism
    if points._jdf.rdd().getNumPartitions() < target:
        points = points.repartition(target)
    payload = [(p.feature_id, p.name, s.index, s.bbox) for p, s in zip(polygons, shapes)]
    bc = spark.sparkContext.broadcast(payload)

    base_fields = [f for f in points.schema.fields if f.name in out_names]
    out_schema = StructType(base_fields + _PIP_EXTRA)

    def probe(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        polys = bc.value
        # per-row polygon position -> feature_id / poly_name by one take each
        fid_of = pa.array([p[0] for p in polys], type=pa.int32())
        name_of = pa.array([p[1] for p in polys], type=pa.string())
        for batch in it:
            tbl = pa.Table.from_batches([batch])
            lon_i = batch.schema.get_field_index(lon_col)
            lat_i = batch.schema.get_field_index(lat_col)
            px = batch.column(lon_i).to_numpy(zero_copy_only=False).astype(np.float64)
            py = batch.column(lat_i).to_numpy(zero_copy_only=False).astype(np.float64)
            n = len(px)
            idx_parts: list[np.ndarray] = []
            pos_parts: list[np.ndarray] = []
            matched = np.zeros(n, dtype=bool)
            for k, (_, _, index, (bx0, by0, bx1, by1)) in enumerate(polys):
                cand = (px >= bx0) & (px <= bx1) & (py >= by0) & (py <= by1)
                if not cand.any():
                    continue
                inside = np.zeros(n, dtype=bool)
                inside[cand] = pip_contains_np(px[cand], py[cand], index)
                hit_idx = np.nonzero(inside)[0]
                if len(hit_idx):
                    idx_parts.append(hit_idx)
                    pos_parts.append(np.full(len(hit_idx), k, dtype=np.int32))
                    matched |= inside
            if how == "left":
                miss_idx = np.nonzero(~matched)[0]
                if len(miss_idx):
                    idx_parts.append(miss_idx)
                    pos_parts.append(np.full(len(miss_idx), -1, dtype=np.int32))
            if not idx_parts:
                continue
            idx = np.concatenate(idx_parts)
            pos = np.concatenate(pos_parts)
            pos_arr = pa.array(pos, mask=pos == -1)
            taken = tbl.select(out_names).take(pa.array(idx))
            cols = list(taken.columns) + [fid_of.take(pos_arr), name_of.take(pos_arr)]
            out = pa.Table.from_arrays(cols, names=out_names + ["feature_id", "poly_name"])
            yield from out.combine_chunks().to_batches()

    return points.mapInArrow(probe, schema=out_schema)
