"""The convert pipeline — pages -> z0..maxz MVT tile pyramid.

Spark-first re-expression of `versatiles convert` + `from_csv`/`from_geo`
(versatiles_pipeline/src/operations/read/from_csv.rs:36, SURVEY.md §3.1):

1. geocode pages (pure Column math — lonlat_to_tile_cols),
2. explode each point to one row per zoom level (the candidate-tile flat-map
   replaces the reference's per-tile R-tree probe direction, SURVEY.md §2.6),
3. point-reduce with the deterministic drop_rate hash (reduce_points.rs:60),
4. groupBy(z,x,y) -> applyInPandas rendering deterministic MVT point tiles
   (quantize to 4096 grid, dictionary-encoded props, gzip)
   — feature_import/tile_render.rs:27-64 semantics,
5. append hilbert clustering key for locality-preserving writes.

Scale notes: steps 1-3 are shuffle-free and whole-stage-codegen'd; the only
shuffle is the groupBy(z,x,y) in step 4 (hash-partitioned, AQE-skew-split for
hot urban tiles). The zoom explosion multiplies rows by (maxz-minz+1) but the
drop_rate filter is applied *before* the shuffle, so the shuffled volume is
sum_z keep_ratio^(maxz-z) * N ≈ N/(1-keep_ratio) rather than 15N.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from versatiles_rs_spark.functions.compression import GZIP, compress
from versatiles_rs_spark.functions.mvt import (
    GEOM_POINT,
    TILE_EXTENT,
    MvtFeature,
    encode_tile,
)
from versatiles_rs_spark.operators.reduce_points import drop_rate_keep
from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols

TILE_SCHEMA = StructType(
    [
        StructField("z", IntegerType()),
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("format", StringType()),
        StructField("compression", StringType()),
        StructField("tile", BinaryType()),
        StructField("n_features", LongType()),
    ]
)
TILE_COLUMNS = TILE_SCHEMA.fieldNames()


def assign_tiles(
    points: DataFrame,
    min_zoom: int = 0,
    max_zoom: int = 14,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """One row per (point, zoom) with tile coords. Pure Column math."""
    df = points.selectExpr("*", f"explode(sequence({int(min_zoom)}, {int(max_zoom)})) AS z")
    x, y = lonlat_to_tile_cols(lon_col, lat_col, "z")
    return df.withColumns({"x": x, "y": y})


def _quantize_grid(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized fractional-tile-coord -> local 4096 grid for a whole batch
    (tile_render.rs:167 quantization), any mix of zoom levels."""
    zoom = np.exp2(pdf["z"].values.astype(np.float64))
    xf = zoom * (pdf["lon"].values / 360.0 + 0.5)
    with np.errstate(divide="ignore"):
        yf = zoom * (
            0.5 - 0.5 * np.log(np.tan(pdf["lat"].values * np.pi / 360.0 + np.pi / 4.0)) / np.pi
        )
    gx = np.clip(np.floor((xf - pdf["x"].values) * TILE_EXTENT), 0, TILE_EXTENT - 1).astype(np.int64)
    gy = np.clip(np.floor((yf - pdf["y"].values) * TILE_EXTENT), 0, TILE_EXTENT - 1).astype(np.int64)
    return gx, gy


# gzip framing alone is 18 bytes + >=5 bytes of deflate block overhead;
# measured on real single-point tiles (44-51 B raw) gzip NEVER wins below
# this size, so 'optimize' skips the attempt entirely — it was ~20% of the
# whole encode stage's CPU.
_OPTIMIZE_SKIP_BELOW = 64


def _finalize_blob(raw: bytes, compression: str) -> tuple[bytes, str]:
    """'optimize' = keep whichever of {raw, gzip} is smaller — the
    optimize_compression semantics (compression/functions.rs:54); tiny
    sparse tiles are SMALLER uncompressed (gzip header overhead)."""
    if compression == "optimize":
        if len(raw) < _OPTIMIZE_SKIP_BELOW:
            return raw, "none"
        gz = compress(raw, GZIP)
        return (gz, GZIP) if len(gz) < len(raw) else (raw, "none")
    return compress(raw, compression), compression


def _encode_single_point_tiles(
    z, x, y, fid, gx, gy, prop_vals: dict[str, np.ndarray],
    layer_name: str, compression: str,
) -> list[tuple]:
    """Vectorized fast path for 1-feature point tiles (the dominant shape at
    deep zooms over sparse data). Assembles protobuf bytes from cached
    segments; output is byte-identical to the generic encode_tile path
    (verified by test_fast_path_byte_identical)."""
    from versatiles_rs_spark.functions.mvt import (
        _encode_value,
        _len_field,
        _varint,
        _varint_field,
    )

    head = _varint_field(15, 2) + _len_field(1, layer_name.encode("utf-8"))
    extent_tail = _varint_field(5, TILE_EXTENT)
    sorted_props = sorted(prop_vals)
    keys_section = b"".join(_len_field(3, k.encode("utf-8")) for k in sorted_props)
    # single feature: key index i pairs with value index i -> tags 0,0,1,1,…
    tags_section = (
        _len_field(2, b"".join(_varint(i) + _varint(i) for i in range(len(sorted_props))))
        if sorted_props
        else b""
    )
    type_geom_head = _varint_field(3, GEOM_POINT)
    cmd = _varint(9)  # MoveTo count=1

    val_cache: dict[tuple, bytes] = {}
    n = len(fid)
    blobs: list[bytes] = []
    codecs: list[str] = []
    fid_l = fid.tolist()
    # point coords are non-negative -> zigzag is just 2v (vectorized)
    zzx_l = (np.asarray(gx) << 1).tolist()
    zzy_l = (np.asarray(gy) << 1).tolist()
    prop_lists = [prop_vals[k].tolist() for k in sorted_props]
    # inlined wire assembly (byte-identical to the generic path — guarded by
    # test_fast_path_byte_identical): geom/feature lengths are provably < 128
    # (1 cmd + two <=10-byte varints; fid varint + ~6 bytes framing), so
    # their length prefixes are single bytes and _len_field calls collapse
    # to constant tag bytes + one varint. ~2x fewer python calls per tile.
    varint = _varint
    tail = keys_section
    optimize = compression == "optimize"
    for i in range(n):
        vals = tuple(pl[i] for pl in prop_lists)
        vb = val_cache.get(vals)
        if vb is None:
            vb = b"".join(_len_field(4, _encode_value(v)) for v in vals)
            val_cache[vals] = vb
        zx, zy = zzx_l[i], zzy_l[i]
        vx = bytes((zx,)) if zx < 128 else varint(zx)
        vy = bytes((zy,)) if zy < 128 else varint(zy)
        geom = cmd + vx + vy
        fid_b = varint(fid_l[i])
        # feat = field1(fid) + tags + type + field4(geom); len(geom) < 128
        feat = b"\x08" + fid_b + tags_section + type_geom_head + b"\x22" + bytes((len(geom),)) + geom
        layer = head + b"\x12" + bytes((len(feat),)) + feat + tail + vb + extent_tail
        raw = b"\x1a" + varint(len(layer)) + layer
        if optimize and len(raw) < _OPTIMIZE_SKIP_BELOW:
            blob, codec = raw, "none"
        else:
            blob, codec = _finalize_blob(raw, compression)
        blobs.append(blob)
        codecs.append(codec)
    # columnar construction: per-row python tuples into DataFrame() cost more
    # than the encode itself at millions of tiles per task
    return pd.DataFrame(
        {
            "z": z.astype("int32"),
            "x": x,
            "y": y,
            "format": "mvt",
            "compression": codecs,
            "tile": blobs,
            "n_features": np.int64(1),
        }
    )


def _encode_multi_point_tile(
    ids, gxv, gyv, prop_arrays: dict[str, np.ndarray], s: int, e: int,
    layer_name: str,
) -> bytes:
    """Specialized encoder for an n-feature point tile with uniform non-null
    props — byte-identical to ``encode_tile`` (guarded by
    test_multi_fast_path_byte_identical) but without per-feature MvtFeature/
    dict construction. Rows [s:e) are already sorted by fid, matching the
    generic path's (fid, type, rings) sort for unique fids."""
    from versatiles_rs_spark.functions.mvt import (
        _encode_value,
        _len_field,
        _varint,
        _varint_field,
    )

    sorted_keys = sorted(prop_arrays)
    val_idx: dict[bytes, int] = {}
    values: list[bytes] = []
    feat_parts: list[bytes] = []
    varint = _varint
    type_head = _varint_field(3, GEOM_POINT)
    prop_cols = [prop_arrays[k] for k in sorted_keys]
    for i in range(s, e):
        tag_bytes = bytearray()
        for ki, col in enumerate(prop_cols):
            vb = _encode_value(col[i])
            vi = val_idx.get(vb)
            if vi is None:
                vi = len(values)
                val_idx[vb] = vi
                values.append(vb)
            tag_bytes += varint(ki) + varint(vi)
        zx, zy = int(gxv[i]) << 1, int(gyv[i]) << 1
        geom = b"\x09" + varint(zx) + varint(zy)  # MoveTo(1) cmd = 9
        buf = b"\x08" + varint(int(ids[i]))
        if tag_bytes:
            buf += b"\x12" + varint(len(tag_bytes)) + bytes(tag_bytes)
        buf += type_head + b"\x22" + bytes((len(geom),)) + geom
        feat_parts.append(b"\x12" + varint(len(buf)) + buf)
    layer = bytearray()
    layer += _varint_field(15, 2)
    layer += _len_field(1, layer_name.encode("utf-8"))
    for fp in feat_parts:
        layer += fp
    for k in sorted_keys:
        layer += _len_field(3, k.encode("utf-8"))
    for vb in values:
        layer += _len_field(4, vb)
    layer += _varint_field(5, TILE_EXTENT)
    return b"\x1a" + varint(len(layer)) + bytes(layer)


def _encode_tile_rows(
    body: pd.DataFrame,
    layer_name: str,
    props_cols: list[str],
    compression: str,
) -> pd.DataFrame:
    """Encode every (z,x,y) group in ``body`` to one MVT tile row.

    ``body`` must contain all rows of each contained tile (guaranteed by the
    repartition + boundary-carry logic in the caller). One pandas groupby per
    Arrow batch instead of one Spark group per tile — this is what makes the
    render scale to hundreds of thousands of sparse tiles per task.
    Single-feature tiles take a segment-cached fast path.
    """
    gx, gy = _quantize_grid(body)
    body = body.assign(_gx=gx, _gy=gy).sort_values(["z", "x", "y", "doc_id"], kind="stable")
    prop_arrays = {c: body[c].values for c in props_cols}
    ids = body["doc_id"].values
    gxv, gyv = body["_gx"].values, body["_gy"].values
    zv, xv, yv = body["z"].values, body["x"].values, body["y"].values

    # null props change the per-tile key table -> those rows use the generic
    # path (the fast path assumes every prop key is present)
    has_null = np.zeros(len(body), dtype=bool)
    for c in props_cols:
        has_null |= pd.isna(prop_arrays[c])

    # group boundaries on the sorted (z,x,y) arrays — pure numpy; pandas
    # groupby().indices was ~13% of the whole encode stage
    n = len(body)
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (zv[1:] != zv[:-1]) | (xv[1:] != xv[:-1]) | (yv[1:] != yv[:-1])
    starts = np.flatnonzero(new_grp)
    ends = np.append(starts[1:], n)
    lens = ends - starts
    # any-null groups take the generic object path; null-free groups take
    # the specialized encoders (key table shape is then uniform)
    null_csum = np.concatenate(([0], np.cumsum(has_null)))
    grp_has_null = (null_csum[ends] - null_csum[starts]) > 0
    single_mask = (lens == 1) & ~grp_has_null
    singles = starts[single_mask]
    rows: list[tuple] = []
    for gi in np.flatnonzero(~single_mask):
        s, e = starts[gi], ends[gi]
        if not grp_has_null[gi]:
            raw = _encode_multi_point_tile(ids, gxv, gyv, prop_arrays, s, e, layer_name)
        else:
            feats = [
                MvtFeature(
                    geom_type=GEOM_POINT,
                    rings=[[(int(gxv[i]), int(gyv[i]))]],
                    props={c: prop_arrays[c][i] for c in props_cols},
                    fid=int(ids[i]),
                )
                for i in range(s, e)
            ]
            raw = encode_tile({layer_name: feats})
        blob, codec = _finalize_blob(raw, compression)
        rows.append((int(zv[s]), int(xv[s]), int(yv[s]), "mvt", codec, blob, int(e - s)))
    multi = pd.DataFrame(rows, columns=TILE_COLUMNS)
    if not len(singles):
        return multi
    si = np.asarray(singles)
    single = _encode_single_point_tiles(
        zv[si], xv[si], yv[si], ids[si], gxv[si], gyv[si],
        {c: prop_arrays[c][si] for c in props_cols},
        layer_name, compression,
    )
    if not len(multi):
        return single
    return pd.concat([multi, single], ignore_index=True)


def grouped_tile_map(
    df: DataFrame,
    body_fn,
    schema: StructType,
    key_cols: tuple[str, ...] = ("z", "x", "y"),
    num_partitions: int | None = None,
) -> DataFrame:
    """Batched group-map over tile keys — the engine's shared shuffle shape.

    Physical strategy: explicit hash repartition on ``key_cols`` (co-locates
    every group's rows; the explicit partition count keeps AQE from
    coalescing the CPU-bound Python stage down to a handful of tasks) +
    sortWithinPartitions so each group's rows are contiguous, then a
    mapInPandas that processes whole Arrow batches with one pandas groupby,
    carrying the last (possibly straddling) group over to the next batch.
    ~50x fewer Python invocations than groupBy().applyInPandas() when groups
    are small (sparse tiles). ``body_fn(pdf) -> pdf`` must handle any number
    of complete groups.
    """
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism * 2

    def run_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            last = pdf.iloc[-1]
            is_last_key = np.ones(len(pdf), dtype=bool)
            for kc in key_cols:
                is_last_key &= pdf[kc].values == last[kc]
            carry = pdf.loc[is_last_key]
            body = pdf.loc[~is_last_key]
            if len(body):
                yield body_fn(body)
        if carry is not None and len(carry):
            yield body_fn(carry)

    prepared = df.repartition(n_part, *key_cols).sortWithinPartitions(*key_cols)
    return prepared.mapInPandas(run_batches, schema=schema)


def render_point_tiles(
    assigned: DataFrame,
    layer_name: str = "pages",
    props_cols: list[str] | None = None,
    compression: str = GZIP,
    num_partitions: int | None = None,
) -> DataFrame:
    """(point, zoom) rows -> MVT point tile rows. The pipeline's one shuffle."""
    props_cols = props_cols if props_cols is not None else ["lang"]
    cols = list(dict.fromkeys(["z", "x", "y", "lon", "lat", "doc_id", *props_cols]))

    def body(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_tile_rows(pdf, layer_name, props_cols, compression)

    return grouped_tile_map(
        assigned.select(*cols), body, TILE_SCHEMA, num_partitions=num_partitions
    )


def convert_pages_to_tiles(
    pages_geo: DataFrame,
    min_zoom: int = 0,
    max_zoom: int = 14,
    keep_ratio: float = 1.0,
    layer_name: str = "pages",
    compression: str = GZIP,
    hash_flavor: str = "splitmix",
    props_cols: list[str] | None = None,
) -> DataFrame:
    """Full convert: geocoded pages -> tile pyramid DataFrame."""
    assigned = assign_tiles(pages_geo, min_zoom, max_zoom)
    reduced = drop_rate_keep(assigned, "doc_id", "z", max_zoom, keep_ratio, hash_flavor)
    return render_point_tiles(reduced, layer_name, props_cols=props_cols, compression=compression)


def with_hilbert_key(tiles: DataFrame) -> DataFrame:
    """Append the 64-bit Hilbert clustering key (tile_hilbert_index.rs:85)
    via a vectorized iterator-UDF; used to sort tile writes for locality."""
    from versatiles_rs_spark.tile_math.hilbert import hilbert_index_np

    out_schema = StructType(list(tiles.schema.fields) + [StructField("hilbert_id", LongType())])

    def add_key(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            hk = np.empty(len(pdf), dtype=np.int64)
            for z in np.unique(pdf["z"].values):
                m = pdf["z"].values == z
                hk[m] = hilbert_index_np(int(z), pdf["x"].values[m], pdf["y"].values[m])
            out["hilbert_id"] = hk
            yield out

    return tiles.mapInPandas(add_key, schema=out_schema)


def filter_tiles_bbox(
    tiles: DataFrame,
    bbox: tuple[float, float, float, float],
    border: int = 0,
) -> DataFrame:
    """Keep only tiles intersecting a geographic bbox, optionally widened
    by ``border`` tiles per zoom (the reference convert's --bbox /
    --bbox-border, versatiles/src/tools/convert.rs:73-85). Pure Column
    math: the bbox corners' fractional tile positions are constants, so
    per row this is one multiply by 2^z + floor + range check — fully
    codegen, applied before any shuffle the caller adds."""
    import math

    w, s, e, n = bbox

    def _fx(lon: float) -> float:
        return min(max(lon / 360.0 + 0.5, 0.0), 1.0)

    def _fy(lat: float) -> float:
        lat = min(max(lat, -85.05112878), 85.05112878)
        return 0.5 - math.log(math.tan(lat * math.pi / 360.0 + math.pi / 4.0)) / (2.0 * math.pi)

    zn = F.pow(F.lit(2.0), F.col("z").cast("double"))
    zmax = (zn - 1).cast("long")
    b = F.lit(int(border))

    def _clamp(c):
        return F.greatest(F.lit(0).cast("long"), F.least(zmax, c.cast("long")))

    x_min = _clamp(F.floor(F.lit(_fx(w)) * zn) - b)
    x_max = _clamp(F.floor(F.lit(_fx(e) - 1e-12) * zn) + b)
    y_min = _clamp(F.floor(F.lit(_fy(n)) * zn) - b)
    y_max = _clamp(F.floor(F.lit(_fy(s) - 1e-12) * zn) + b)
    return tiles.filter(
        (F.col("x") >= x_min) & (F.col("x") <= x_max)
        & (F.col("y") >= y_min) & (F.col("y") <= y_max)
    )


def flip_tiles_y(tiles: DataFrame) -> DataFrame:
    """TMS vertical flip of the tile table: y' = 2^z - 1 - y
    (tile_coord.rs flip_y; convert.rs --flip-y)."""
    from versatiles_rs_spark.tile_math.coords import flip_y_col

    return tiles.withColumn("y", flip_y_col(F.col("z"), F.col("y")))


def swap_tiles_xy(tiles: DataFrame) -> DataFrame:
    """Swap tile rows and columns (tile_coord.rs swap_xy; convert.rs
    --swap-xy)."""
    return tiles.withColumn("_t", F.col("x")).withColumn("x", F.col("y")).withColumn(
        "y", F.col("_t")
    ).drop("_t")


def write_tiles(tiles: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sink: parquet partitioned by z, hilbert-clustered within partitions —
    the Iceberg-table equivalent of the versatiles block layout
    (container/versatiles/writer.rs:207 traversal ordering)."""
    (
        with_hilbert_key(tiles)
        .repartitionByRange("z", "hilbert_id")
        .sortWithinPartitions("z", "hilbert_id")
        .write.mode(mode)
        .partitionBy("z")
        .parquet(path)
    )
