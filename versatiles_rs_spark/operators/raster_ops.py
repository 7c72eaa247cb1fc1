"""Raster tile operators: levels / flatten / format / mask / overscale /
tile_resize / dem_quantize (SURVEY.md §2.3/§2.7/§2.10 raster inventory).

All are per-tile ``map_tiles`` transforms (zero shuffle) except the
tile_resize merge, a ``reduce_tiles`` over the parent coordinate (same shape
as overview). Input tiles decode by their own format; output is PNG unless
``raster_image_format`` says otherwise. raster_mask is the full spatial
composition: classify tile vs polygon (FullyInside passthrough /
FullyOutside drop / Partial per-pixel), then vectorized ray-cast PIP on the
pixel grid of Partial tiles -> alpha channel (raster_mask/mask_geometry.rs:
237 classify, :402 contains_point, :442 alpha grid; the signed-distance
blur is approximated by the binary alpha + optional box smoothing).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from versatiles_rs_spark.functions.raster import (
    dem_decode,
    dem_encode,
    dem_scale_down,
    flatten_onto,
    is_opaque,
    levels,
    scaled_down,
    to_rgba,
)
from versatiles_rs_spark.operators.tiles import Tile, map_tiles, reduce_tiles
from versatiles_rs_spark.spatial.pip import (
    FULLY_INSIDE,
    FULLY_OUTSIDE,
    Polygon,
    classify_tiles,
    pip_contains_np,
    prepare,
)
from versatiles_rs_spark.tile_math.coords import tile_geo_bbox_np


def raster_levels(tiles: DataFrame, brightness: float = 0.0, contrast: float = 1.0,
                  gamma: float = 1.0) -> DataFrame:
    """Per-pixel brightness/contrast/gamma (raster_levels.rs:64-84)."""

    def fn(t: Tile) -> Tile:
        img = levels(t.image(), brightness, contrast, gamma)
        return Tile.from_image(t.coord, img, t.compression, t.n_features)

    return map_tiles(tiles, fn)


def raster_flatten(tiles: DataFrame, bg: tuple[int, int, int] = (255, 255, 255)) -> DataFrame:
    """RGBA -> RGB onto a background color (raster_flatten.rs)."""

    def fn(t: Tile) -> Tile:
        img = t.image()
        img = flatten_onto(img, bg) if img.shape[2] == 4 else img
        return Tile.from_image(t.coord, img, t.compression, t.n_features)

    return map_tiles(tiles, fn)


def raster_format(tiles: DataFrame, compression_by_zoom: dict[int, str] | None = None,
                  default: str = "none") -> DataFrame:
    """Re-encode with a per-zoom compression schedule (raster_format.rs
    quality-list analog; PNG is lossless so 'quality' maps to codec)."""
    sched = compression_by_zoom or {}
    return map_tiles(tiles, lambda t: t.recompressed(sched.get(t.z, default)))


def raster_mask(
    tiles: DataFrame, poly: Polygon | list[Polygon], smooth: int = 0
) -> DataFrame:
    """Mask raster tiles to one or more polygons: FullyOutside tiles drop
    without a decode, FullyInside tiles keep their pixels (RGBA), Partial
    tiles get a per-pixel PIP alpha grid. ``smooth`` > 0 box-blurs
    the alpha edge (approximation of the signed-distance blur,
    blur_function.rs).

    Multi-polygon semantics match the reference (mask_geometry.rs:185-219):
    a pixel is kept if it is inside ANY polygon (per-polygon even-odd ring
    test, results OR-ed) — NOT the even-odd rule over the concatenated ring
    set, which would wrongly unmask regions where two polygons overlap."""
    polys = [poly] if isinstance(poly, Polygon) else list(poly)
    shapes = [prepare(p) for p in polys]

    def fn(t: Tile) -> Tile | None:
        xs, ys = np.array([t.x]), np.array([t.y])
        classes = [classify_tiles(t.z, xs, ys, shape)[0] for shape in shapes]
        if all(c == FULLY_OUTSIDE for c in classes):
            return None
        img = to_rgba(t.image())
        if any(c == FULLY_INSIDE for c in classes):
            return Tile.from_image(t.coord, img, t.compression, t.n_features)
        h, w = img.shape[:2]
        west, south, east, north = (a[0] for a in tile_geo_bbox_np(t.z, xs, ys))
        lons = west + (np.arange(w) + 0.5) / w * (east - west)
        lats = north - (np.arange(h) + 0.5) / h * (north - south)
        gx, gy = np.meshgrid(lons, lats)
        inside = np.zeros(h * w, dtype=bool)
        for cls, shape in zip(classes, shapes):
            if cls == FULLY_OUTSIDE:
                continue
            inside |= pip_contains_np(gx.ravel(), gy.ravel(), shape.index)
        inside = inside.reshape(h, w)
        alpha = inside.astype(np.float64)
        for _ in range(smooth):
            padded = np.pad(alpha, 1, mode="edge")
            alpha = (
                padded[:-2, 1:-1] + padded[2:, 1:-1] + padded[1:-1, :-2]
                + padded[1:-1, 2:] + padded[1:-1, 1:-1]
            ) / 5.0
        out = img.copy()
        out[:, :, 3] = np.round(out[:, :, 3].astype(np.float64) * alpha).astype(np.uint8)
        return Tile.from_image(t.coord, out, t.compression, t.n_features)

    return map_tiles(tiles, fn)


def _quadrants(img: np.ndarray):
    """(dx, dy, crop) for the four quadrants of an image."""
    hh, hw = img.shape[0] // 2, img.shape[1] // 2
    for dy in (0, 1):
        for dx in (0, 1):
            yield dx, dy, img[dy * hh : (dy + 1) * hh, dx * hw : (dx + 1) * hw]


def raster_tile_split(tiles: DataFrame) -> DataFrame:
    """Overscale one level: each tile's quadrants, upscaled x2 by pixel
    duplication, become its 4 children at z+1 — a shuffle-free flat-map."""

    def fn(t: Tile) -> list[Tile]:
        return [
            Tile.from_image(t.child(dx, dy), np.repeat(np.repeat(sub, 2, 0), 2, 1), t.compression)
            for dx, dy, sub in _quadrants(t.image())
        ]

    return map_tiles(tiles, fn)


def _tile_resize(tiles: DataFrame, tile_size: int, scale_down, name: str) -> DataFrame:
    """512<->256 px retiling (helpers/tile_resize.rs).

    tile_size=256 (split, source must be 512px): each source tile at
    (z, x, y) is CROPPED into four 256px quadrants emitted at
    (z+1, 2x+dx, 2y+dy) — no resampling (tile_resize.rs:141-158
    process_split_tile). The source (0,0,0) additionally produces the
    output level-0 tile via ``scale_down``.

    tile_size=512 (merge, source must be 256px): the four children at
    (z+1, 2x+dx, 2y+dy) are pasted onto a 512px RGBA canvas at
    (256*dx, 256*dy); missing children stay transparent
    (tile_resize.rs:160-192 process_merge_tile). z=0 source tiles have no
    parent in the 512px scheme and are dropped (the reference validates
    source_max >= 1 at build time, tile_resize.rs:88-92).
    """
    if tile_size not in (256, 512):
        raise ValueError(f"{name}: tile_size must be 256 or 512")
    src = 512 if tile_size == 256 else 256

    def source_image(t: Tile) -> np.ndarray:
        img = t.image()
        if img.shape[:2] != (src, src):
            raise ValueError(
                f"{name} {tile_size}: source tiles must be {src}px, "
                f"got {img.shape[1]}x{img.shape[0]}"
            )
        return img

    if tile_size == 256:
        def split(t: Tile) -> list[Tile]:
            img = source_image(t)
            out = [Tile.from_image((0, 0, 0), scale_down(img), t.compression)] if t.z == 0 else []
            return out + [
                Tile.from_image(t.child(dx, dy), sub, t.compression)
                for dx, dy, sub in _quadrants(img)
            ]

        return map_tiles(tiles, split)

    def merge(coord, members: list[Tile]) -> Tile:
        canvas = np.zeros((512, 512, 4), dtype=np.uint8)
        for t in members:
            dx, dy = t.x & 1, t.y & 1
            canvas[dy * 256 : (dy + 1) * 256, dx * 256 : (dx + 1) * 256] = to_rgba(source_image(t))
        return Tile.from_image(coord, canvas, members[0].compression)

    return reduce_tiles(tiles, merge, key="parent")


def raster_tile_resize(tiles: DataFrame, tile_size: int = 256) -> DataFrame:
    """Convert raster tile size between 256px and 512px
    (raster_tile_resize.rs); the level-0 tile of a split is the
    channel-wise ``scaled_down`` source."""
    return _tile_resize(tiles, tile_size, scaled_down, "raster_tile_resize")


def dem_tile_resize(tiles: DataFrame, tile_size: int = 256) -> DataFrame:
    """Convert DEM tile size between 256px and 512px
    (operations/dem/dem_tile_resize.rs). Same split/merge as
    ``raster_tile_resize``, except the level-0 tile of a split averages
    24-bit raw values (``dem_scale_down``), not channels
    (dem_tile_resize.rs:13-14)."""
    return _tile_resize(tiles, tile_size, dem_scale_down, "dem_tile_resize")


def parse_quality_schedule(spec: str) -> tuple[int, list[tuple[int, int]]]:
    """Parse the reference's zoom-dependent quality syntax
    (raster_format.rs:16-18): "70,14:50,15:20" -> default 70, then quality
    50 from z14 up, 20 from z15 up. Returns (default, [(zoom, q), ...])."""
    parts = [p.strip() for p in str(spec).split(",") if p.strip()]
    default = 85
    sched: list[tuple[int, int]] = []
    for i, p in enumerate(parts):
        if ":" in p:
            z, q = p.split(":", 1)
            sched.append((int(z), int(q)))
        elif i == 0:
            default = int(p)
        else:
            raise ValueError(f"bad quality spec segment {p!r}")
    sched.sort()
    return default, sched


def _quality_for(z: int, default: int, sched: list[tuple[int, int]]) -> int:
    q = default
    for zz, qq in sched:
        if z >= zz:
            q = qq
    return q


def raster_image_format(
    tiles: DataFrame,
    fmt: str = "png",
    quality: str | int = 85,
    quality_translucent: str | int | None = None,
) -> DataFrame:
    """Convert the raster IMAGE format (raster_format.rs): png <-> jpg with
    the reference's zoom-dependent quality syntax. Translucent tiles use
    ``quality_translucent`` when set (raster_format.rs:19-22); JPG drops
    alpha, so translucent tiles converted to JPG are flattened onto white
    first."""
    if fmt not in ("png", "jpg", "webp", "avif"):
        raise ValueError(f"raster_image_format: unsupported format {fmt!r}")
    opaque_q = parse_quality_schedule(str(quality))
    translucent_q = (
        parse_quality_schedule(str(quality_translucent))
        if quality_translucent is not None else opaque_q
    )

    def fn(t: Tile) -> Tile:
        img = t.image()
        q = _quality_for(t.z, *(opaque_q if is_opaque(img) else translucent_q))
        if fmt == "jpg" and img.shape[2] == 4:
            img = flatten_onto(img, (255, 255, 255))
        return Tile.from_image(t.coord, img, t.compression, t.n_features, fmt, q)

    return map_tiles(tiles, fn)


def raster_overscale(tiles: DataFrame, levels_up: int = 1) -> DataFrame:
    """Serve z+Δ from zoom z: crop the parent's pixel sub-region and upscale
    (raster_overscale.rs:49-111 find/extract). Implemented as Δ chained
    splits — each is the crop+x2-upscale for all 4 children."""
    out = tiles
    for _ in range(levels_up):
        out = raster_tile_split(out)
    return out


def dem_quantize(tiles: DataFrame, elevation_error: float = 1.0, schema: str = "terrarium") -> DataFrame:
    """Quantize DEM tiles: snap elevations to a power-of-2 step derived from
    the allowed error (dem_quantize.rs:45 compute_quantizer, :87
    quantize_pixel round-to-nearest) — improves compression."""
    step = max(1.0, 2.0 ** np.ceil(np.log2(max(elevation_error, 1e-9))))

    def fn(t: Tile) -> Tile:
        elev = dem_decode(t.image()[:, :, :3], schema)
        q = dem_encode(np.round(elev / step) * step, schema)
        return Tile.from_image(t.coord, q, t.compression, t.n_features)

    return map_tiles(tiles, fn)
