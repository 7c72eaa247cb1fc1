"""Minimal pure-python GeoTIFF reader + from_gdal_raster analog.

The reference reads rasters through GDAL (read/from_gdal); GDAL is not in
this container, so the subset needed for georeferenced 8-bit rasters is
implemented from the public TIFF 6.0 + GeoTIFF specs with stdlib zlib:

- little/big endian classic TIFF, stripped AND tiled layouts (tags
  322/323/324/325),
- compression 1 (none), 5 (LZW with the TIFF early-change variant,
  TIFF 6.0 §13) and 8 (zlib/deflate), predictor 1/2 (horizontal
  differencing),
- GeoTIFF ModelPixelScale + ModelTiepoint for the geotransform and
  GeographicTypeGeoKey (EPSG:4326 supported — the reference fixture's CRS).

``from_gdal_raster`` then renders the raster into a Web-Mercator PNG tile
pyramid: the (small, broadcastable) source image rides a broadcast
variable; candidate tiles are enumerated from the raster's bbox as a
DataFrame and rendered per Arrow batch with vectorized nearest-neighbor
sampling — pixels outside the raster's coverage get alpha 0.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 12: 8}

_LZW_CLEAR, _LZW_EOI = 256, 257


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 9-bit start,
    Clear=256 / EOI=257, and the "early change" — the code width bumps when
    the NEXT table entry would be 2^width - 1 (one code earlier than plain
    LZW). Pure python; runs once per strip/tile on the driver for small,
    broadcastable rasters."""
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    prev: bytes | None = None
    out = bytearray()
    bitbuf = 0
    nbits = 0
    i = 0
    n = len(data)
    while True:
        while nbits < width:
            if i >= n:
                return bytes(out)
            bitbuf = (bitbuf << 8) | data[i]
            i += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _LZW_CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == _LZW_EOI:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table {len(table)}")
        out += entry
        prev = entry
        # early change: the decoder's table lags the encoder's NextCode by
        # one, so it must widen one entry earlier (at 510/1022/2046) than
        # the encoder's 511/1023/2047 (TIFF 6.0 §13 + the de-facto
        # "earlychange" behavior of every mainstream reader)
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture writer / sink side), symmetric
    with _tiff_lzw_decode including the early change."""
    out = bytearray()
    bitbuf = 0
    nbits = 0
    width = 9

    def put(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    put(_LZW_CLEAR)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        put(table[w])
        table[w + c] = next_code
        next_code += 1
        # encoder bumps width one entry EARLIER than generic LZW, mirroring
        # the decoder's early change
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # table nearly full: emit Clear, restart
            put(_LZW_CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = c
    if w:
        put(table[w])
    put(_LZW_EOI)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def read_geotiff_meta(path: str) -> dict:
    """Parse ONLY the IFD (header + tag table + out-of-line tag values)
    with ranged reads — never the raster payload. The returned dict is the
    driver-side plan input for distributed windowed ingest: every block's
    byte range is known, so executor tasks can ranged-read exactly the
    blocks their tiles need (the reference streams per-tile windows
    through a pooled GDAL handle — from_gdal/gdal_pool.rs; this is the
    same idea with the IFD as the window index).

    Keys: width height spp dtype compression predictor tiled block_w
    block_h blocks_across offsets byte_counts west north sx sy epsg
    nodata (GDAL ASCII tag 42113, or None).
    """
    with open(path, "rb") as f:
        head = f.read(8)
        if head[:2] == b"II":
            fmt = "<"
        elif head[:2] == b"MM":
            fmt = ">"
        else:
            raise ValueError("not a TIFF")
        if struct.unpack(fmt + "H", head[2:4])[0] != 42:
            raise ValueError("not a classic TIFF")
        ifd_off = struct.unpack(fmt + "I", head[4:8])[0]
        f.seek(ifd_off)
        n = struct.unpack(fmt + "H", f.read(2))[0]
        entries = f.read(12 * n)
        tags: dict[int, tuple] = {}
        deferred: list[tuple[int, int, int, int]] = []  # (tag, typ, cnt, off)
        for i in range(n):
            e = entries[12 * i : 12 * (i + 1)]
            tag, typ, cnt = struct.unpack(fmt + "HHI", e[:8])
            size = _TYPE_SIZE.get(typ, 1) * cnt
            if size <= 4:
                tags[tag] = _unpack_tag(fmt, typ, cnt, e[8 : 8 + size])
            else:
                deferred.append((tag, typ, cnt, struct.unpack(fmt + "I", e[8:12])[0]))
        for tag, typ, cnt, off in deferred:
            f.seek(off)
            tags[tag] = _unpack_tag(fmt, typ, cnt, f.read(_TYPE_SIZE.get(typ, 1) * cnt))

    width = tags[256][0]
    height = tags[257][0]
    spp = tags.get(277, (1,))[0]
    bits = tags.get(258, (8,))[0]
    sample_format = tags.get(339, (1,))[0]  # 1 uint, 2 int, 3 float
    # supported sample layouts: 8-bit uint (imagery), 16-bit int and 32-bit
    # float single band (elevation)
    if (bits, sample_format) == (8, 1):
        dtype = np.dtype(fmt + "u1") if fmt == ">" else np.dtype(np.uint8)
    elif (bits, sample_format) == (16, 2):
        dtype = np.dtype(fmt + "i2")
    elif (bits, sample_format) == (32, 3):
        dtype = np.dtype(fmt + "f4")
    else:
        raise ValueError(f"unsupported sample layout bits={bits} format={sample_format}")
    compression = tags.get(259, (1,))[0]
    predictor = tags.get(317, (1,))[0]
    if compression not in (1, 5, 8):
        raise ValueError(f"unsupported TIFF compression {compression} (have none/lzw/deflate)")
    if predictor == 2 and bits != 8:
        raise ValueError("horizontal predictor only supported for 8-bit samples")

    if 322 in tags:  # tiled layout (TIFF 6.0 §15): tiles across, then down
        block_w, block_h = tags[322][0], tags[323][0]
        offsets, byte_counts = tags[324], tags[325]
        tiled = True
        blocks_across = (width + block_w - 1) // block_w
    else:
        block_w = width
        block_h = tags.get(278, (height,))[0]
        offsets, byte_counts = tags[273], tags[279]
        tiled = False
        blocks_across = 1

    geo: dict = {}
    if 33550 in tags and 33922 in tags:
        sx, sy = tags[33550][0], tags[33550][1]
        tie = tags[33922]
        # tiepoint: raster (i,j,k) -> model (x,y,z)
        geo = {"west": tie[3] - tie[0] * sx, "north": tie[4] + tie[1] * sy,
               "sx": sx, "sy": sy}
    epsg = None
    gk = tags.get(34735)
    if gk:
        for i in range(4, len(gk), 4):
            if gk[i] == 2048:  # GeographicTypeGeoKey
                epsg = gk[i + 3]
            elif gk[i] == 3072 and epsg is None:  # ProjectedCRSGeoKey
                epsg = gk[i + 3]
    if not geo.get("sx"):
        raise ValueError("TIFF has no GeoTIFF geotransform")
    if epsg not in (None, 4326, 3857):
        raise ValueError(f"only EPSG:4326/3857 rasters supported, got {epsg}")
    nodata = None
    if 42113 in tags:  # GDAL_NODATA: ASCII decimal
        raw = tags[42113][0]
        text = (raw if isinstance(raw, bytes) else bytes(tags[42113])).split(b"\x00")[0]
        try:
            nodata = float(text.strip())
        except ValueError:
            nodata = None
    return {
        "path": path,
        "width": width,
        "height": height,
        "spp": spp,
        "dtype": dtype,
        "compression": compression,
        "predictor": predictor,
        "tiled": tiled,
        "block_w": block_w,
        "block_h": block_h,
        "blocks_across": blocks_across,
        "offsets": tuple(offsets),
        "byte_counts": tuple(byte_counts),
        "epsg": epsg,
        "nodata": nodata,
        **geo,
    }


def _unpack_tag(fmt: str, typ: int, cnt: int, raw: bytes) -> tuple:
    if typ == 3:
        return struct.unpack(fmt + f"{cnt}H", raw)
    if typ == 4:
        return struct.unpack(fmt + f"{cnt}I", raw)
    if typ == 12:
        return struct.unpack(fmt + f"{cnt}d", raw)
    if typ == 1:
        return tuple(raw)
    return (raw,)


class GeoTiffBlockReader:
    """Ranged-read block gatherer: decompresses ONLY the strips/tiles the
    requested sample positions fall in, with a byte-bounded LRU cache so
    neighboring output tiles in the same Spark task reuse blocks. One
    instance per task (mapInPandas partition); the file handle is opened
    lazily on the executor — nothing pixel-sized ever crosses the driver.
    """

    def __init__(self, meta: dict, max_cache_bytes: int = 64 << 20):
        from collections import OrderedDict

        self.m = meta
        self.max_cache_bytes = max_cache_bytes
        self._cache: "OrderedDict[int, np.ndarray]" = OrderedDict()
        self._cache_bytes = 0
        self._fh = None

    def _file(self):
        if self._fh is None:
            self._fh = open(self.m["path"], "rb")
        return self._fh

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None

    def _decompress(self, raw: bytes) -> bytes:
        c = self.m["compression"]
        if c == 8:
            return zlib.decompress(raw)
        if c == 5:
            return _tiff_lzw_decode(raw)
        return raw

    def _block(self, br: int, bc: int) -> np.ndarray:
        m = self.m
        idx = br * m["blocks_across"] + bc
        blk = self._cache.pop(idx, None)
        if blk is not None:
            self._cache[idx] = blk  # LRU touch
            return blk
        f = self._file()
        f.seek(m["offsets"][idx])
        raw = self._decompress(f.read(m["byte_counts"][idx]))
        spp = m["spp"]
        if m["tiled"]:
            bh, bw = m["block_h"], m["block_w"]
        else:
            bh = min(m["block_h"], m["height"] - br * m["block_h"])
            bw = m["width"]
        arr = np.frombuffer(raw, m["dtype"])[: bh * bw * spp].reshape(bh, bw, spp)
        if m["predictor"] == 2:
            arr = np.cumsum(arr.astype(np.int64), axis=1).astype(np.uint8)
        self._cache[idx] = arr
        self._cache_bytes += arr.nbytes
        while self._cache_bytes > self.max_cache_bytes and len(self._cache) > 1:
            _, old = self._cache.popitem(last=False)
            self._cache_bytes -= old.nbytes
        return arr

    def gather(self, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
        """out[i, j] = raster[rows[i], cols[j]] — the outer-product gather
        a tile render needs. Duplicate indices are fine (low-res source at
        high zoom). Touches only the blocks the index sets intersect: a
        z-high tile reads 1-4 blocks, a decimating low-zoom tile reads one
        block per DISTINCT sampled block row x col, never the full image.
        """
        m = self.m
        rows = np.asarray(rows, np.int64)
        cols = np.asarray(cols, np.int64)
        rb = rows // m["block_h"]
        cb = cols // m["block_w"]
        out = np.empty((rows.size, cols.size, m["spp"]), m["dtype"])
        for b_r in np.unique(rb):
            ri = np.nonzero(rb == b_r)[0]
            rloc = rows[ri] - b_r * m["block_h"]
            for b_c in np.unique(cb):
                ci = np.nonzero(cb == b_c)[0]
                cloc = cols[ci] - b_c * m["block_w"]
                block = self._block(int(b_r), int(b_c))
                out[np.ix_(ri, ci)] = block[np.ix_(rloc, cloc)]
        return out


def read_geotiff(path: str) -> tuple[np.ndarray, dict]:
    """GeoTIFF -> (HxWxC image, {"west","north","sx","sy","epsg"}) —
    whole-image convenience built on the block reader (small rasters,
    fixtures, the broadcast fast path)."""
    meta = read_geotiff_meta(path)
    rd = GeoTiffBlockReader(meta, max_cache_bytes=1 << 18)
    try:
        img = rd.gather(np.arange(meta["height"]), np.arange(meta["width"]))
    finally:
        rd.close()
    geo = {k: meta[k] for k in ("west", "north", "sx", "sy", "epsg")}
    return img, geo


_R = 6378137.0  # WGS84 web-mercator radius (EPSG:3857 meters)


def _merc_y_to_lat(my: float) -> float:
    import math

    return math.degrees(2.0 * math.atan(math.exp(my / _R)) - math.pi / 2.0)


def _raster_geo_bounds(meta: dict) -> tuple[float, float, float, float]:
    """(west, south, east, north) in DEGREES regardless of the raster CRS
    (4326 transforms are already degrees; 3857 transforms are meters)."""
    import math

    w, h = meta["width"], meta["height"]
    if meta["epsg"] == 3857:
        west = math.degrees(meta["west"] / _R)
        east = math.degrees((meta["west"] + w * meta["sx"]) / _R)
        north = _merc_y_to_lat(meta["north"])
        south = _merc_y_to_lat(meta["north"] - h * meta["sy"])
        return west, south, east, north
    return (
        meta["west"],
        meta["north"] - h * meta["sy"],
        meta["west"] + w * meta["sx"],
        meta["north"],
    )


def _pixel_of(meta: dict, lon: float, lat: float) -> tuple[float, float]:
    """Fractional (col, row) of a lon/lat point in the raster grid."""
    import math

    if meta["epsg"] == 3857:
        mx = math.radians(lon) * _R
        lat = min(max(lat, -89.9), 89.9)
        my = _R * math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0))
        return (mx - meta["west"]) / meta["sx"], (meta["north"] - my) / meta["sy"]
    return (lon - meta["west"]) / meta["sx"], (meta["north"] - lat) / meta["sy"]


def _tile_candidates(
    meta: dict, min_zoom: int, max_zoom: int, cutline_bbox=None
) -> list[tuple[int, int, int, int]]:
    """Candidate (z, x, y, locality) tiles intersecting the raster bbox
    (and the cutline bbox when given). Driver-side enumeration is tiny —
    bbox area / tile area, never pixel-sized. ``locality`` is the raster
    BLOCK index under the tile's center: range-partitioning on it lands
    tiles that read the same blocks in the same task, so the per-task
    block cache actually hits."""
    w, h = meta["width"], meta["height"]
    west, south, east, north = _raster_geo_bounds(meta)
    bw, bh, across = meta["block_w"], meta["block_h"], meta["blocks_across"]
    if cutline_bbox is not None:
        west = max(west, cutline_bbox[0])
        east = min(east, cutline_bbox[2])
        south = max(south, cutline_bbox[1])
        north2 = min(north, cutline_bbox[3])
    else:
        north2 = north
    cands = []
    for z in range(min_zoom, max_zoom + 1):
        zn = 1 << z
        fx = lambda lon: int(np.clip(np.floor((lon / 360.0 + 0.5) * zn), 0, zn - 1))
        lat_clip = np.clip([south, north2], -85.05112878, 85.05112878)
        fy = lambda lat: int(np.clip(np.floor(
            (0.5 - 0.5 * np.log(np.tan(lat * np.pi / 360.0 + np.pi / 4.0)) / np.pi) * zn
        ), 0, zn - 1))
        for ty in range(fy(lat_clip[1]), fy(lat_clip[0]) + 1):
            for tx in range(fx(west), fx(min(east, 179.999999)) + 1):
                # tile center -> raster pixel -> block index (locality key)
                clon = ((tx + 0.5) / zn - 0.5) * 360.0
                cyy = (ty + 0.5) / zn
                clat = (np.arctan(np.exp(np.pi * (1.0 - 2.0 * cyy))) / np.pi - 0.25) * 360.0
                pcf, prf = _pixel_of(meta, clon, clat)
                pc = int(np.clip(pcf, 0, w - 1))
                pr = int(np.clip(prf, 0, h - 1))
                locality = (pr // bh) * across + (pc // bw)
                cands.append((z, tx, ty, locality))
    return cands


def _cutline_edges(cutline):
    """Cutline argument (Polygon | list of rings | None) -> (band index,
    bbox) for the banded ray cast (spatial/pip.py), mirroring the
    reference's cutline mask (read/from_gdal/cutline.rs)."""
    if cutline is None:
        return None, None
    from versatiles_rs_spark.spatial.pip import Polygon, band_index

    if not isinstance(cutline, Polygon):
        cutline = Polygon(0, "cutline", "cutline", [list(map(tuple, r)) for r in cutline])
    return band_index(cutline.edges()), cutline.bbox()


def _cubic_kernel(x: np.ndarray) -> np.ndarray:
    """Catmull-Rom cubic (a = -0.5 — GDAL's 'cubic'), |x| in [0, 2)."""
    ax = np.abs(x)
    a = -0.5
    near = (a + 2.0) * ax**3 - (a + 3.0) * ax**2 + 1.0
    far = a * ax**3 - 5.0 * a * ax**2 + 8.0 * a * ax - 4.0 * a
    return np.where(ax <= 1.0, near, np.where(ax < 2.0, far, 0.0))


def _axis_taps(coord: np.ndarray, size: int, resampling: str):
    """Separable-kernel taps for one axis: (clipped index vectors,
    weight vectors) over pixel-CENTER coordinates (pixel i's center sits
    at i + 0.5)."""
    c = coord - 0.5
    i0 = np.floor(c).astype(np.int64)
    f = c - i0
    if resampling == "bilinear":
        offs = (0, 1)
        wts = (1.0 - f, f)
    elif resampling == "cubic":
        offs = (-1, 0, 1, 2)
        wts = tuple(_cubic_kernel(f - o) for o in offs)
    else:
        raise ValueError(f"unknown resampling {resampling!r}")
    idxs = tuple(np.clip(i0 + o, 0, size - 1) for o in offs)
    return idxs, wts


def _overview_split_zoom(meta: dict, tile_size: int, min_zoom: int, max_zoom: int) -> int:
    """Lowest zoom whose tiles sample the raster WITHOUT heavy decimation
    (tile ground-pixel <= 2x raster pixel). Below it a direct render's
    per-tile sample grid spreads across up to the whole raster — one task
    touching every block — so overview mode direct-renders only z >=
    split and halves downward (the same reason GDAL reads overviews)."""
    import math

    sx_deg = math.degrees(meta["sx"] / _R) if meta["epsg"] == 3857 else meta["sx"]
    span_deg = sx_deg * tile_size * 2.0
    if span_deg <= 0:
        return min_zoom
    z = math.ceil(math.log2(max(360.0 / span_deg, 1.0)))
    return max(min_zoom, min(max_zoom, z))


def _raster_pyramid(
    spark: SparkSession,
    path: str,
    min_zoom: int,
    max_zoom: int,
    tile_size: int,
    encode_tile,
    *,
    resampling: str = "nearest",
    cutline=None,
    nodata: float | None = None,
    mode: str = "auto",
    broadcast_threshold: int = 32 << 20,
    low_zoom: str = "direct",
    overview_step=None,
) -> DataFrame:
    """Shared pyramid renderer behind from_gdal_raster / from_gdal_dem.

    Two physical strategies, auto-selected on the UNCOMPRESSED raster byte
    size (parity: the reference pools per-tile GDAL window reads,
    from_gdal/gdal_pool.rs + raster/mod.rs — a planet DEM never fits one
    broadcast):

    - **broadcast**: small rasters ride a broadcast variable; each task
      slices it (zero file IO per task).
    - **windowed**: executors ranged-read only the strips/tiles their
      output tiles sample, through a per-task ``GeoTiffBlockReader`` with
      a byte-bounded LRU; candidates are range-partitioned on the block
      under the tile center so cache hits are structural, not lucky. The
      driver handles ONLY the IFD — no pixel bytes ever cross it.

    ``encode_tile(pix, valid, meta) -> bytes`` turns the sampled grid
    (tile_size x tile_size x spp float64) + validity mask into a PNG.
    Options (reference read/from_gdal/raster/args.rs parity): nearest or
    bilinear ``resampling``; ``cutline`` polygon masking (even-odd ray
    cast in lon/lat, cutline.rs); ``nodata`` -> invalid (masked to alpha
    0 / elevation 0), with nodata-aware bilinear weights so sentinel
    values never bleed into interpolated edges.

    ``low_zoom="overview"`` bounds per-task IO on arbitrarily large
    rasters: zooms >= the non-decimating split zoom render directly
    (small windows, few blocks each); every lower zoom is composed by
    2x2 halving (``overview_step``) from the level above — so no task
    ever reads more than a handful of source blocks, where a direct z0
    render of a planet raster would pull every block through one task.
    """
    from versatiles_rs_spark.operators.convert import TILE_COLUMNS, TILE_SCHEMA
    from versatiles_rs_spark.tile_math.coords import tile_geo_bbox_np

    meta = read_geotiff_meta(path)
    if low_zoom not in ("direct", "overview"):
        raise ValueError(f"unknown low_zoom {low_zoom!r}")
    if low_zoom == "overview":
        split = _overview_split_zoom(meta, tile_size, min_zoom, max_zoom)
        if split > min_zoom:
            if overview_step is None:
                raise ValueError("low_zoom='overview' needs an overview_step")
            deep = _raster_pyramid(
                spark, path, split, max_zoom, tile_size, encode_tile,
                resampling=resampling, cutline=cutline, nodata=nodata,
                mode=mode, broadcast_threshold=broadcast_threshold,
                low_zoom="direct",
            )
            out = deep
            level = deep.where(F.col("z") == split).cache()
            for _z in range(split, min_zoom, -1):
                level = overview_step(level).cache()
                out = out.unionByName(level)
            return out
    if nodata is None:
        nodata = meta["nodata"]
    raster_bytes = meta["width"] * meta["height"] * meta["spp"] * meta["dtype"].itemsize
    if mode == "auto":
        mode = "broadcast" if raster_bytes <= broadcast_threshold else "windowed"
    if mode not in ("broadcast", "windowed"):
        raise ValueError(f"unknown mode {mode!r}")

    edges, cl_bbox = _cutline_edges(cutline)
    cands = _tile_candidates(meta, min_zoom, max_zoom, cl_bbox)
    if not cands:
        return spark.createDataFrame([], TILE_SCHEMA)
    npart = max(1, min(len(cands), spark.sparkContext.defaultParallelism * 2))
    cdf = (
        spark.createDataFrame(pd.DataFrame(cands, columns=["z", "x", "y", "locality"]))
        .repartitionByRange(npart, "locality", "z", "x", "y")
    )

    if mode == "broadcast":
        img, _ = read_geotiff(path)
        bc = spark.sparkContext.broadcast(img)
    else:
        bc = None
    if resampling not in ("nearest", "bilinear", "cubic"):
        raise ValueError(f"unknown resampling {resampling!r}")

    def render(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if bc is not None:
            src = bc.value
            gather = lambda rr, cc: src[np.ix_(rr, cc)]
            closer = lambda: None
        else:
            reader = GeoTiffBlockReader(meta)
            gather = reader.gather
            closer = reader.close
        w, h = meta["width"], meta["height"]
        west, north, sx, sy = meta["west"], meta["north"], meta["sx"], meta["sy"]
        merc = meta["epsg"] == 3857
        try:
            for pdf in it:
                rows = []
                for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"]):
                    z, x, y = int(z), int(x), int(y)
                    wb, sb, eb, nb = (
                        a[0] for a in tile_geo_bbox_np(z, np.array([x]), np.array([y]))
                    )
                    lons = wb + (np.arange(tile_size) + 0.5) / tile_size * (eb - wb)
                    # pixel rows are uniform in MERCATOR y, not degrees — the
                    # linear-in-degrees shortcut distorts low zooms badly
                    yy = (y + (np.arange(tile_size) + 0.5) / tile_size) / (1 << z)
                    lats = (np.arctan(np.exp(np.pi * (1.0 - 2.0 * yy))) / np.pi - 0.25) * 360.0
                    if merc:
                        # EPSG:3857 raster: web-mercator tiles are UNIFORM in
                        # the raster's own coordinate, so sampling is affine
                        mx = np.radians(lons) * _R
                        my = _R * (np.pi * (1.0 - 2.0 * yy))  # = R*ln(tan(pi/4+lat/2))
                        u = (mx - west) / sx
                        v = (north - my) / sy
                    else:
                        u = (lons - west) / sx  # continuous col, pixel i spans [i, i+1)
                        v = (north - lats) / sy
                    valid = (u[None, :] >= 0) & (u[None, :] < w) & \
                            (v[:, None] >= 0) & (v[:, None] < h)
                    if edges is not None:
                        gl = np.broadcast_to(lons[None, :], (tile_size, tile_size)).ravel()
                        ga = np.broadcast_to(lats[:, None], (tile_size, tile_size)).ravel()
                        from versatiles_rs_spark.spatial.pip import pip_contains_np

                        valid &= pip_contains_np(gl, ga, edges).reshape(tile_size, tile_size)
                    if not valid.any():
                        continue
                    if resampling == "nearest":
                        cc = np.clip(np.floor(u).astype(np.int64), 0, w - 1)
                        rr = np.clip(np.floor(v).astype(np.int64), 0, h - 1)
                        pix = gather(rr, cc).astype(np.float64)
                        if nodata is not None:
                            valid &= ~(pix == nodata).all(axis=2)
                    else:
                        # separable kernel taps (bilinear: 2x2, cubic: 4x4
                        # Catmull-Rom) over pixel-center coordinates
                        ci, cw = _axis_taps(u, w, resampling)
                        rj, rw = _axis_taps(v, h, resampling)
                        q = [
                            (gather(rj[a], ci[b]).astype(np.float64),
                             rw[a][:, None, None] * cw[b][None, :, None])
                            for a in range(len(rj))
                            for b in range(len(ci))
                        ]
                        if nodata is None:
                            pix = sum(arr * wt for arr, wt in q)
                        else:
                            # nodata-aware weights: renormalize over the
                            # taps that hold real data
                            num = np.zeros((tile_size, tile_size, meta["spp"]))
                            den = np.zeros((tile_size, tile_size, 1))
                            for arr, wt in q:
                                ok = ~(arr == nodata).all(axis=2, keepdims=True)
                                num += np.where(ok, arr, 0.0) * (wt * ok)
                                den += wt * ok
                            pix = np.where(
                                np.abs(den) > 1e-9, num / np.where(np.abs(den) > 1e-9, den, 1.0), nodata
                            )
                            valid &= np.abs(den[:, :, 0]) > 1e-9
                    blob = encode_tile(pix, valid, meta)
                    rows.append((z, x, y, "png", "none", blob, 0))
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=TILE_COLUMNS,
                    )
        finally:
            closer()

    return cdf.drop("locality").mapInPandas(render, TILE_SCHEMA)


def from_gdal_raster(
    spark: SparkSession,
    path: str,
    min_zoom: int = 0,
    max_zoom: int = 4,
    tile_size: int = 256,
    *,
    resampling: str = "nearest",
    bands: list[int] | None = None,
    nodata: float | None = None,
    cutline=None,
    mode: str = "auto",
    broadcast_threshold: int = 32 << 20,
    low_zoom: str = "direct",
) -> DataFrame:
    """Georeferenced raster -> Web-Mercator PNG tile pyramid (from_gdal
    analog). Out-of-coverage / cutline-excluded / nodata pixels become
    transparent. ``bands`` selects source bands (1-based, GDAL -b style);
    ``resampling`` is nearest or bilinear; ``mode`` auto-switches between
    broadcasting small rasters and per-task windowed ranged reads for
    rasters past ``broadcast_threshold`` uncompressed bytes;
    ``low_zoom="overview"`` composes sub-split zooms by 2x2 halving
    instead of direct decimating renders (bounded per-task block IO on
    planet-scale rasters)."""
    sel = None if bands is None else [b - 1 for b in bands]
    if sel is not None:
        spp = read_geotiff_meta(path)["spp"]
        for b in sel:
            if b < 0 or b >= spp:
                raise ValueError(f"band {b + 1} out of range (raster has {spp})")

    def encode(pix: np.ndarray, valid: np.ndarray, meta: dict) -> bytes:
        from versatiles_rs_spark.functions.raster import png_encode

        if sel is not None:
            pix = pix[:, :, sel]
        out = np.zeros((pix.shape[0], pix.shape[1], 4), np.uint8)
        rgb = np.clip(np.rint(pix), 0, 255).astype(np.uint8)
        out[:, :, :3] = rgb[:, :, :3] if rgb.shape[2] >= 3 else rgb[:, :, :1]
        out[:, :, 3] = np.where(valid, 255, 0)
        return png_encode(out)

    def overview_step(tiles: DataFrame) -> DataFrame:
        from versatiles_rs_spark.operators.overview import raster_overview_step

        return raster_overview_step(tiles, size=tile_size, channels=4)

    return _raster_pyramid(
        spark, path, min_zoom, max_zoom, tile_size, encode,
        resampling=resampling, cutline=cutline, nodata=nodata,
        mode=mode, broadcast_threshold=broadcast_threshold,
        low_zoom=low_zoom, overview_step=overview_step,
    )


def from_gdal_dem(
    spark: SparkSession,
    path: str,
    min_zoom: int = 0,
    max_zoom: int = 4,
    tile_size: int = 256,
    encoding: str = "terrarium",
    *,
    resampling: str = "nearest",
    nodata: float | None = None,
    cutline=None,
    mode: str = "auto",
    broadcast_threshold: int = 32 << 20,
    low_zoom: str = "direct",
) -> DataFrame:
    """Elevation raster (int16/float32 single band) -> terrarium/mapbox
    DEM PNG pyramid (from_gdal/dem analog). Same windowed/broadcast
    strategies as from_gdal_raster; out-of-coverage / nodata pixels get
    elevation 0. ``low_zoom="overview"`` composes sub-split zooms via
    dem_overview_step (raw 24-bit averaging, dem_overview.rs)."""
    meta = read_geotiff_meta(path)
    if meta["spp"] != 1:
        raise ValueError("from_gdal_dem expects a single-band elevation raster")

    def encode(pix: np.ndarray, valid: np.ndarray, _meta: dict) -> bytes:
        from versatiles_rs_spark.functions.raster import dem_encode, png_encode

        elev = np.where(valid, pix[:, :, 0], 0.0)
        return png_encode(dem_encode(elev, encoding))

    def overview_step(tiles: DataFrame) -> DataFrame:
        from versatiles_rs_spark.operators.overview import dem_overview_step

        return dem_overview_step(tiles, size=tile_size)

    return _raster_pyramid(
        spark, path, min_zoom, max_zoom, tile_size, encode,
        resampling=resampling, cutline=cutline, nodata=nodata,
        mode=mode, broadcast_threshold=broadcast_threshold,
        low_zoom=low_zoom, overview_step=overview_step,
    )


def write_geotiff_gray8(
    path: str,
    data: np.ndarray,
    west: float,
    north: float,
    sx: float,
    sy: float,
    compression: str = "none",
    tiled: bool = False,
    tile_size: int = 16,
    predictor: int = 1,
    epsg: int = 4326,
) -> None:
    """8-bit single-band GeoTIFF writer covering every layout/codec the
    reader supports (strips or tiles x none/deflate/lzw x predictor 1/2;
    EPSG:4326 degree or EPSG:3857 meter transforms) — exercises
    read_geotiff's full matrix in tests and doubles as a sink."""
    import struct as _s

    comp_tag = {"none": 1, "lzw": 5, "deflate": 8}[compression]
    h, w = data.shape
    data = data.astype(np.uint8)

    def pack(block: np.ndarray) -> bytes:
        if predictor == 2:
            block = np.concatenate(
                [block[:, :1], np.diff(block.astype(np.int16), axis=1)], axis=1
            ).astype(np.uint8)
        raw = block.tobytes()
        if comp_tag == 8:
            return zlib.compress(raw, 9)
        if comp_tag == 5:
            return _tiff_lzw_encode(raw)
        return raw

    blocks: list[bytes] = []
    if tiled:
        ts = tile_size
        for ty in range((h + ts - 1) // ts):
            for tx in range((w + ts - 1) // ts):
                block = np.zeros((ts, ts), np.uint8)
                sub = data[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
                block[: sub.shape[0], : sub.shape[1]] = sub
                blocks.append(pack(block))
    else:
        blocks.append(pack(data))

    n_entries = 15 if tiled else 14
    ifd_off = 8
    ext_base = ifd_off + 2 + 12 * n_entries + 4
    ext = bytearray()

    def ext_put(fmt_str: str, *vals) -> int:
        off = ext_base + len(ext)
        ext.extend(_s.pack("<" + fmt_str, *vals))
        return off

    scale_off = ext_put("3d", sx, sy, 0.0)
    tie_off = ext_put("6d", 0.0, 0.0, 0.0, west, north, 0.0)
    if epsg == 3857:  # ModelTypeProjected + ProjectedCRSGeoKey
        geokey_off = ext_put("16H", 1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, 3857)
    else:  # ModelTypeGeographic + GeographicTypeGeoKey
        geokey_off = ext_put("16H", 1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, epsg)

    nb = len(blocks)
    if nb > 1:
        offsets_off = ext_base + len(ext)
        ext.extend(b"\x00" * 4 * nb)  # patched below
        counts_off = ext_put(f"{nb}I", *[len(x) for x in blocks])
    data_off = ext_base + len(ext)
    offs = []
    pos = data_off
    for x in blocks:
        offs.append(pos)
        pos += len(x)
    if nb > 1:
        ext[offsets_off - ext_base : offsets_off - ext_base + 4 * nb] = _s.pack(
            f"<{nb}I", *offs
        )

    entries = [
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 1, 8),
        (259, 3, 1, comp_tag),
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (317, 3, 1, predictor),
        (339, 3, 1, 1),
        (33550, 12, 3, scale_off),
        (33922, 12, 6, tie_off),
        (34735, 3, 16, geokey_off),
    ]
    if tiled:
        entries += [
            (322, 3, 1, tile_size),
            (323, 3, 1, tile_size),
            (324, 4, nb, offs[0] if nb == 1 else offsets_off),
            (325, 4, nb, len(blocks[0]) if nb == 1 else counts_off),
        ]
    else:
        entries += [
            (273, 4, 1, offs[0]),
            (278, 3, 1, h),
            (279, 4, 1, len(blocks[0])),
        ]
    entries.sort()
    assert len(entries) == n_entries, "IFD size mismatch with ext_base layout"
    buf = bytearray(b"II*\x00" + _s.pack("<I", ifd_off))
    buf += _s.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        buf += _s.pack("<HHII", tag, typ, cnt, val)
    buf += _s.pack("<I", 0)
    buf += ext
    for x in blocks:
        buf += x
    with open(path, "wb") as f:
        f.write(buf)


def write_geotiff_gray16(path: str, data: np.ndarray, west: float, north: float,
                         sx: float, sy: float) -> None:
    """Minimal int16 single-band GeoTIFF writer (deflate, one strip,
    EPSG:4326) — for fixtures and tests; layout mirrors what read_geotiff
    parses."""
    import struct as _s

    h, w = data.shape
    payload = zlib.compress(data.astype("<i2").tobytes(), 9)

    n_entries = 13
    ifd_off = 8
    ext_base = ifd_off + 2 + 12 * n_entries + 4
    ext = bytearray()

    def ext_put(fmt_str: str, *vals) -> int:
        off = ext_base + len(ext)
        ext.extend(_s.pack("<" + fmt_str, *vals))
        return off

    scale_off = ext_put("3d", sx, sy, 0.0)
    tie_off = ext_put("6d", 0.0, 0.0, 0.0, west, north, 0.0)
    geokey_off = ext_put("16H", 1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
    data_off = ext_base + len(ext)

    entries = sorted([
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 1, 16),
        (259, 3, 1, 8),            # deflate
        (262, 3, 1, 1),            # BlackIsZero
        (273, 4, 1, data_off),     # strip offset
        (277, 3, 1, 1),
        (278, 3, 1, h),            # one strip
        (279, 4, 1, len(payload)),
        (339, 3, 1, 2),            # signed-int samples
        (33550, 12, 3, scale_off),
        (33922, 12, 6, tie_off),
        (34735, 3, 16, geokey_off),
    ])
    assert len(entries) == n_entries
    buf = bytearray(b"II*\x00" + _s.pack("<I", ifd_off))
    buf += _s.pack("<H", n_entries)
    for tag, typ, cnt, val in entries:
        buf += _s.pack("<HHII", tag, typ, cnt, val)
    buf += _s.pack("<I", 0)  # next IFD
    buf += ext
    buf += payload
    with open(path, "wb") as f:
        f.write(buf)
