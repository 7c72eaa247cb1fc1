"""Point-in-polygon: ray-cast parity, tile classification, join semantics."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from versatiles_rs_spark.spatial import (
    Polygon,
    classify_tiles,
    pip_contains_np,
    pip_join,
    sample_polygons,
)
from versatiles_rs_spark.spatial.pip import (
    _PAIR_BUDGET,
    FULLY_INSIDE,
    FULLY_OUTSIDE,
    PARTIAL,
    band_index,
    bbox_prefilter_sql,
    prepare,
)
from versatiles_rs_spark.sql_literals import sql_double


def _unit_square() -> Polygon:
    return Polygon(1, "sq", "box", [[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]])


def test_pip_basic():
    sq = _unit_square()
    px = np.array([5.0, 15.0, -1.0, 5.0])
    py = np.array([5.0, 5.0, 5.0, 15.0])
    got = pip_contains_np(px, py, sq.edges())
    assert got.tolist() == [True, False, False, False]


def test_pip_boundary_rule_half_open():
    """Strict > / < comparisons (mask_geometry.rs:85): points on the left/
    bottom edge are IN, on the right/top edge are OUT — every point lands in
    exactly one tile of a partition, never two."""
    sq = _unit_square()
    edges = sq.edges()
    # left edge x=0: ray crosses right edge only -> inside
    assert pip_contains_np(np.array([0.0]), np.array([5.0]), edges)[0]
    # right edge x=10: px < x_at_y is false for its own edge -> outside
    assert not pip_contains_np(np.array([10.0]), np.array([5.0]), edges)[0]
    # bottom-left corner
    assert pip_contains_np(np.array([0.0]), np.array([0.0]), edges)[0]
    # top-left corner y=10: both top edges fail the strict y straddle -> out
    assert not pip_contains_np(np.array([0.0]), np.array([10.0]), edges)[0]


def test_pip_concave():
    arrow = next(p for p in sample_polygons() if p.name == "concave_arrow")
    # the notch (90, -15) is outside; (70, -45) inside left prong
    got = pip_contains_np(np.array([90.0, 70.0]), np.array([-15.0, -45.0]), arrow.edges())
    assert got.tolist() == [False, True]


def test_pip_matches_matplotlib_oracle():
    """Cross-check vs an independent implementation (matplotlib.path)."""
    mpl = pytest.importorskip("matplotlib.path")
    rng = np.random.default_rng(11)
    px = rng.uniform(-180, 180, 4000)
    py = rng.uniform(-85, 85, 4000)
    for poly in sample_polygons():
        ours = pip_contains_np(px, py, poly.edges())
        path = mpl.Path(np.array(poly.rings[0] + [poly.rings[0][0]]))
        theirs = path.contains_points(np.c_[px, py])
        disagree = ours != theirs
        # allow disagreement only exactly on the boundary (measure-zero set;
        # random doubles never land there)
        assert disagree.sum() == 0, f"{poly.name}: {disagree.sum()} mismatches"


def _brute_contains(px, py, edges) -> np.ndarray:
    """Reference: every point against every edge, blocked over both axes
    (the ray cast before the band index)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = (np.asarray(a, dtype=np.float64) for a in edges)
    n, e = len(px), len(x1)
    crossings = np.zeros(n, dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        for p0 in range(0, n, 2048):
            p1 = min(p0 + 2048, n)
            bpx = px[p0:p1, None]
            bpy = py[p0:p1, None]
            acc = np.zeros(p1 - p0, dtype=np.int64)
            for e0 in range(0, e, 128):
                e1 = min(e0 + 128, e)
                ey1 = y1[None, e0:e1]
                ey2 = y2[None, e0:e1]
                straddles = (ey1 > bpy) != (ey2 > bpy)
                x_at_y = (x2 - x1)[None, e0:e1] * (bpy - ey1) / (ey2 - ey1) + x1[None, e0:e1]
                acc += (straddles & (bpx < x_at_y)).sum(axis=1)
            crossings[p0:p1] = acc
    return (crossings % 2).astype(bool)


def _ring_edges(rings):
    """Edges of every ring, zero-length ones kept (``Polygon.edges`` drops them)."""
    a = np.array([p for r in rings for p in r], dtype=np.float64)
    b = np.array([r[(i + 1) % len(r)] for r in rings for i in range(len(r))], dtype=np.float64)
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1]


# coarse grid values: shared x/y values make horizontal edges, duplicate and
# zero-length vertices, and points on vertex rays common
_grid = st.integers(-6, 6).map(lambda v: v / 2.0)
_coord = st.one_of(_grid, st.floats(-4.0, 4.0, allow_nan=False, width=32))
_ring = st.lists(st.tuples(_coord, _coord), min_size=1, max_size=24)


@st.composite
def _polygon_and_points(draw):
    rings = draw(st.lists(_ring, min_size=1, max_size=3))
    if draw(st.booleans()):
        # a nested ring: the first ring shrunk about its first vertex (a hole
        # touching the outer ring when that ring is convex)
        (cx, cy) = rings[0][0]
        rings.append([(cx + (x - cx) / 2.0, cy + (y - cy) / 2.0) for x, y in rings[0]])
    xs = sorted({p[0] for r in rings for p in r})
    ys = sorted({p[1] for r in rings for p in r})
    px_s = st.one_of(_coord, st.sampled_from(xs), st.sampled_from([-1e6, 1e6, np.nan]))
    py_s = st.one_of(
        _coord, st.sampled_from(ys), st.sampled_from([ys[0], ys[-1], -1e6, 1e6, np.nan])
    )
    pts = draw(st.lists(st.tuples(px_s, py_s), min_size=1, max_size=60))
    px, py = (np.array(v, dtype=np.float64) for v in zip(*pts))
    return rings, px, py


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@example(
    (
        [
            [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)],
            [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)],
        ],
        np.array([2.0, 0.5, 0.0, 3.0, 2.0, np.nan, 1.0]),
        np.array([2.0, 0.5, 4.0, 1.0, 0.0, 2.0, np.nan]),
    )
)
@example(
    (
        [[(0.0, 0.0), (4.0, 0.0), (np.nan, 1.0), (4.0, 4.0), (np.inf, 2.0), (0.0, 4.0),
          (-np.inf, 3.0)]],
        np.array([1.0, 3.0, -1.0, np.inf, -np.inf, 2.0]),
        np.array([1.0, 2.0, 3.0, 2.0, 0.5, 4.0]),
    )
)
@given(_polygon_and_points())
def test_banded_ray_cast_matches_brute_kernel(case):
    """The band index never changes a mask bit: horizontal, zero-length and
    duplicate edges, points on vertex rays, at ymin/ymax, outside the bbox,
    NaN coordinates, non-finite vertex x, multi-ring polygons with holes."""
    rings, px, py = case
    for edges in (Polygon(1, "p", "prop", rings).edges(), _ring_edges(rings)):
        want = _brute_contains(px, py, edges)
        assert np.array_equal(pip_contains_np(px, py, edges), want)
        assert np.array_equal(pip_contains_np(px, py, band_index(edges)), want)


def _loop_edges(rings):
    """``Polygon.edges`` as a loop over the vertices (the reference for the
    vectorised version)."""
    x1, y1, x2, y2 = [], [], [], []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            if a == b:
                continue
            x1.append(a[0]); y1.append(a[1]); x2.append(b[0]); y2.append(b[1])  # noqa: E702
    return np.array(x1), np.array(y1), np.array(x2), np.array(y2)


@st.composite
def _closed_or_open_rings(draw):
    rings = draw(st.lists(_ring, min_size=1, max_size=3))
    return [r + [r[0]] if draw(st.booleans()) else r for r in rings]


@settings(max_examples=200, deadline=None)
@example([[(0.0, 0.0), (4.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
          [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]])
@example([[(1.0, 1.0)], [(2.0, 2.0), (2.0, 2.0)], [(0, 0), (3, 0), (3, 3)]])
@given(_closed_or_open_rings())
def test_edges_and_bbox_match_vertex_loop(rings):
    """The vectorised edges equal the loop's exactly (values and order, as
    float64) on closed and unclosed rings, repeated vertices, holes,
    integer and one-vertex rings; bbox equals the min/max over every
    vertex."""
    poly = Polygon(1, "p", "prop", rings)
    for got, want in zip(poly.edges(), _loop_edges(rings), strict=True):
        assert got.dtype == np.float64 and np.array_equal(got, want)
    xs = [p[0] for r in rings for p in r]
    ys = [p[1] for r in rings for p in r]
    assert poly.bbox() == (min(xs), min(ys), max(xs), max(ys))


def test_band_index_rejects_non_finite_vertex_y():
    for bad in (np.nan, np.inf):
        with pytest.raises(ValueError):
            band_index(Polygon(1, "p", "bad", [[(0.0, 0.0), (1.0, bad), (1.0, 1.0)]]).edges())


def test_banded_ray_cast_matches_brute_on_dense_rings():
    """The benchmark's three 2880-vertex rings, with points on vertex y values."""
    from perfbench.gen import dense_rings

    rng = np.random.default_rng(5)
    for ring in dense_rings(1):
        poly = Polygon(1, "dense", "ring", [ring])
        x0, y0, x1, y1 = poly.bbox()
        px = rng.uniform(x0 - 1, x1 + 1, 8000)
        py = rng.uniform(y0 - 1, y1 + 1, 8000)
        py[:300] = np.array(ring)[rng.integers(0, len(ring), 300), 1]
        index = band_index(poly.edges())
        assert len(index.starts) - 1 == 2880 // 4
        assert np.array_equal(pip_contains_np(px, py, index), _brute_contains(px, py, poly.edges()))


def test_banded_ray_cast_memory_stays_within_pair_budget():
    """A saw-tooth 'comb' whose 400 edges all span the full y range puts
    every edge in every band; 100k points must still run in chunks of
    ``_PAIR_BUDGET`` pairs, never as N x E intermediates."""
    teeth = 200
    ring = [(0.0, -1.0)]
    for k in range(teeth):
        ring += [(k + 0.5, 1.0), (k + 1.0, -1.0)]
    poly = Polygon(1, "comb", "comb", [ring])
    index = band_index(poly.edges())
    assert (np.diff(index.starts) >= 2 * teeth).all()
    rng = np.random.default_rng(9)
    n = 100_000
    px = rng.uniform(-1.0, teeth + 1.0, n)
    py = rng.uniform(-1.2, 1.2, n)
    tracemalloc.start()
    try:
        got = pip_contains_np(px, py, index)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    pairs = n * 2 * teeth
    assert peak < 64 * n + 256 * _PAIR_BUDGET < pairs, (peak, pairs)
    assert np.array_equal(got, _brute_contains(px, py, poly.edges()))


def test_classify_tiles():
    sq = Polygon(1, "sq", "box", [[(-90.0, -60.0), (90.0, -60.0), (90.0, 60.0), (-90.0, 60.0)]])
    z = 3
    xs, ys = np.meshgrid(np.arange(8), np.arange(8))
    cls = classify_tiles(z, xs.ravel(), ys.ravel(), sq)
    assert set(cls.tolist()) <= {FULLY_OUTSIDE, PARTIAL, FULLY_INSIDE}
    # x=0 column (lon [-180,-135], strictly west of the box) is fully outside
    # (x=1 touches the box's left edge at lon=-90, which the half-open rule
    # counts as inside, so that column is correctly PARTIAL)
    far_west = xs.ravel() == 0
    assert (cls[far_west] == FULLY_OUTSIDE).all()
    # the center tiles are fully inside
    center = (xs.ravel() == 4) & (ys.ravel() == 3)
    assert (cls[center] == FULLY_INSIDE).all()
    # classification is conservative: FULLY_INSIDE tiles have all corners in
    from versatiles_rs_spark.tile_math.coords import tile_geo_bbox_np

    for flag, x, y in zip(cls, xs.ravel(), ys.ravel()):
        w, s, e, n = (a[0] for a in tile_geo_bbox_np(z, np.array([x]), np.array([y])))
        corners_in = pip_contains_np(
            np.array([w, e, e, w]), np.array([s, s, n, n]), sq.edges()
        )
        if flag == FULLY_INSIDE:
            assert corners_in.all()
        if flag == FULLY_OUTSIDE:
            assert not corners_in.any()


def _dense_touched(edges, w, s, e, n) -> np.ndarray:
    """Reference tile-edge test: the Liang-Barsky clip of every edge
    against every rect, as a (rects x edges) grid."""
    x1, y1, x2, y2 = edges
    dx, dy = (x2 - x1)[None, :], (y2 - y1)[None, :]
    x1b, y1b = x1[None, :], y1[None, :]
    t0, t1 = np.zeros((len(w), len(x1))), np.ones((len(w), len(x1)))
    reject = np.zeros((len(w), len(x1)), dtype=bool)
    for p, q in ((-dx, x1b - w[:, None]), (dx, e[:, None] - x1b),
                 (-dy, y1b - s[:, None]), (dy, n[:, None] - y1b)):
        p, q = np.broadcast_to(p, t0.shape), np.broadcast_to(q, t0.shape)
        par = p == 0
        reject |= par & (q < 0)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.where(par, 0.0, q / np.where(par, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, t), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, t), t1)
    return (~reject & (t0 <= t1)).any(axis=1)


@settings(max_examples=80, deadline=None)
@given(data=st.data())
def test_banded_tile_clip_matches_dense_kernel(data):
    """Meeting only the edges of the bands a rect's [s, n] spans gives the
    dense clip's answer, also for rects whose south or north lies on a band
    boundary or a vertex y, zero-height rects, and horizontal edges."""
    from versatiles_rs_spark.spatial.pip import _segments_intersect_rect

    levels = data.draw(st.lists(st.floats(-30, 30), min_size=1, max_size=3))
    y_of = st.one_of(st.sampled_from(levels), st.floats(-30, 30))
    ring = data.draw(st.lists(st.tuples(st.floats(-40, 40), y_of), min_size=3, max_size=60))
    idx = band_index(Polygon(1, "p", "ring", [ring]).edges())
    nb = len(idx.starts) - 1
    marks = [idx.ymin + b / idx.scale for b in range(nb + 1)] if idx.scale else [idx.ymin]
    y_at = st.one_of(st.sampled_from(marks + [y for _, y in ring]), st.floats(-35, 35))
    rects = data.draw(st.lists(
        st.tuples(st.floats(-45, 45), st.floats(0, 20), y_at, y_at), min_size=1, max_size=30))
    w, width, a, b = (np.array(c, dtype=np.float64) for c in zip(*rects))
    s, n = np.minimum(a, b), np.maximum(a, b)
    got = _segments_intersect_rect(idx, w, s, w + width, n)
    want = _dense_touched((idx.x1, idx.y1, idx.x2, idx.y2), w, s, w + width, n)
    assert np.array_equal(got, want)


def test_cell_covers_and_tile_classes_are_pinned():
    """sha1 of the z5/z7 cell covers and a z8 tile-class grid of every
    sample polygon and the benchmark's rings; a prepared polygon classifies
    exactly as the polygon itself."""
    import hashlib

    from perfbench.gen import dense_rings

    from versatiles_rs_spark.spatial.cells import polygon_cell_cover

    h = hashlib.sha1()
    xs, ys = np.meshgrid(np.arange(256), np.arange(256))
    for poly in sample_polygons() + [Polygon(9, "d", "ring", [r]) for r in dense_rings(1)]:
        for z in (5, 7):
            ids, classes = polygon_cell_cover(poly, z)
            h.update(ids.tobytes())
            h.update(classes.tobytes())
        h.update(classify_tiles(8, xs.ravel(), ys.ravel(), poly).tobytes())
        assert np.array_equal(classify_tiles(8, xs.ravel(), ys.ravel(), prepare(poly)),
                              classify_tiles(8, xs.ravel(), ys.ravel(), poly))
    assert h.hexdigest() == "20b03b53684b70ab74c30871fd7a6e9fe37b28db"


def test_pip_join_dataframe(spark):
    import pandas as pd

    pts = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "lon": [13.0, -100.0, 90.0, 0.0],
            "lat": [52.0, 0.0, -15.0, -89.0],
        }
    )
    df = spark.createDataFrame(pts)
    out = pip_join(df, sample_polygons()).toPandas()
    by_doc = out.groupby("doc_id")["poly_name"].apply(list).to_dict()
    assert by_doc[0] == ["eurasia_box"]  # Berlin
    assert by_doc[1] == ["america_box"]
    assert 2 not in by_doc  # notch of the concave arrow
    assert 3 not in by_doc  # southern ocean
    left = pip_join(df, sample_polygons(), how="left").toPandas()
    assert len(left) == 4
    assert left.loc[left["doc_id"] == 2, "feature_id"].isna().all()


def test_pip_join_multi_polygon_membership(spark):
    """A point in k polygons yields k rows (sliver overlaps africa_tri)."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "lon": [6.0], "lat": [0.0]}))
    out = pip_join(df, sample_polygons()).toPandas()
    assert sorted(out["poly_name"]) == ["africa_tri", "sliver"]


# --- the pip_join bbox prefilter ------------------------------------------

_BOX_EDGES = [-np.inf, np.inf, -0.0, 0.0, 5e-324, -5e-324, 1.5, -1.5, 1e300]
_coord = st.one_of(st.sampled_from(_BOX_EDGES), st.floats(-200.0, 200.0, allow_nan=False))


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _column_prefilter(lon_col: str, lat_col: str, bboxes):
    """The prefilter as pip_join built it before: one Column op at a time."""
    lon, lat = F.col(_quoted(lon_col)), F.col(_quoted(lat_col))
    cond = None
    for x0, y0, x1, y1 in bboxes:
        c = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        cond = c if cond is None else (cond | c)
    return cond


@st.composite
def _boxes_and_points(draw):
    boxes = draw(st.lists(st.tuples(_coord, _coord, _coord, _coord), min_size=1, max_size=3))
    xs = [v for b in boxes for v in (b[0], b[2])]
    ys = [v for b in boxes for v in (b[1], b[3])]
    # points on the box edges, anywhere, NaN and NULL
    px = st.one_of(st.sampled_from(xs), _coord, st.just(float("nan")), st.none())
    py = st.one_of(st.sampled_from(ys), _coord, st.just(float("nan")), st.none())
    points = draw(st.lists(st.tuples(px, py), min_size=1, max_size=24))
    names = draw(st.sampled_from([("lon", "lat"), ("my lon", "lat"), ("lo`n", "l``a t")]))
    return boxes, points, names


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_boxes_and_points())
def test_one_expression_prefilter_keeps_the_column_built_rows(spark, case):
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    boxes, points, (lon_col, lat_col) = case
    schema = StructType([StructField("i", IntegerType()), StructField(lon_col, DoubleType()),
                         StructField(lat_col, DoubleType())])
    df = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(points)], schema)
    rows = df.select(
        "i",
        F.expr(bbox_prefilter_sql(lon_col, lat_col, boxes)).alias("one"),
        _column_prefilter(lon_col, lat_col, boxes).alias("ops"),
    ).collect()
    assert [r["one"] for r in sorted(rows)] == [r["ops"] for r in sorted(rows)]


def test_prefilter_literals_round_trip_exactly(spark):
    values = [0.0, -0.0, 5e-324, -5e-324, 1e300, 1.7976931348623157e308, 0.1, 1 / 3,
              -2.5e-10, np.inf, -np.inf]
    row = spark.range(1).select(
        *[F.expr(sql_double(v)).alias(f"v{i}") for i, v in enumerate(values)]).first()
    for i, v in enumerate(values):
        got = row[f"v{i}"]
        assert got == v and np.signbit(got) == np.signbit(v), (v, got)
    assert np.isnan(spark.range(1).select(F.expr(sql_double(np.nan)).alias("v")).first()["v"])


def test_pip_join_rows_are_pinned(spark):
    """sha1 of the sorted rows of an inner, a left and a slim-payload join of
    6,000 seeded points (half in the boxes of three 2,880-vertex rings)."""
    import hashlib

    import pandas as pd

    from perfbench import gen

    rings = gen.dense_rings(3)
    pts = gen.points(3, 6000, clustered=0.0)
    lon, lat = pts["lon"], pts["lat"]
    lon[:3000], lat[:3000] = gen.ring_points(3, 3000, rings)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(6000), "lon": lon, "lat": lat}))
    polys = sample_polygons() + [Polygon(100 + i, f"dense{i}", "ring", [r])
                                 for i, r in enumerate(rings)]

    def digest(frame):
        rows = sorted(tuple((k, repr(v)) for k, v in r.asDict().items()) for r in frame.collect())
        return len(rows), hashlib.sha1(repr(rows).encode()).hexdigest()

    assert digest(pip_join(df, polys)) == (4781, "c026316f26fe14b8ed5493eb5fc614a3f99b8dd7")
    assert digest(pip_join(df, polys, how="left")) == (
        7282, "7217396aa3da84a4a4606ff54b69cc5c3ad13224")
    assert digest(pip_join(df, polys, payload_cols=["doc_id"])) == (
        4781, "1d50cbf4a7297b63ecd789b7d6d5c2518beaffa0")
