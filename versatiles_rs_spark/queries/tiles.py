"""Tile-domain queries: assignment, probe, containers, rendering, diff/anomaly, pyramid validation.

Split from the single-file registry in round 5; QUERIES/ORACLES stay in
`versatiles_rs_spark.queries` (the package __init__), in driver-sweep order.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from versatiles_rs_spark.operators.convert import assign_tiles, convert_pages_to_tiles
from versatiles_rs_spark.operators.reduce_points import drop_rate_keep
from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols
from versatiles_rs_spark.queries._shared import (
    LAT_SQL,
    LON_SQL,
    _docs_geo,
    _events_geo,
    _tile_sql,
)

# ---------------------------------------------------------------------------
# 1. tile assignment (from_csv geocoding core — SURVEY.md §2.1/§2.10)
# ---------------------------------------------------------------------------

def q_tile_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = assign_tiles(_docs_geo(spark, sf_dir), 0, 8)
    return (
        assigned.groupBy("z", "x", "y")
        .agg(F.count("*").alias("n"))
    )


O_TILE_ASSIGN_COUNTS = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), zs AS (SELECT z FROM generate_series(0, 8) t(z))
SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y, count(*) AS n
FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
"""


def q_events_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = assign_tiles(_events_geo(spark, sf_dir), 0, 10)
    return assigned.groupBy("z", "x", "y").agg(F.count("*").alias("n"))


O_EVENTS_TILE_COUNTS = f"""
WITH pts AS (
  SELECT event_id, {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat
  FROM events
), zs AS (SELECT z FROM generate_series(0, 10) t(z))
SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y, count(*) AS n
FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# 2. probe statistics (§2.5) — per-zoom rollup of the coords plan
# ---------------------------------------------------------------------------

def q_zoom_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = assign_tiles(_docs_geo(spark, sf_dir), 0, 8)
    per_tile = assigned.groupBy("z", "x", "y").agg(F.count("*").alias("n"))
    return per_tile.groupBy("z").agg(
        F.count("*").alias("tile_count"),
        F.sum("n").alias("point_count"),
        F.max("n").alias("max_per_tile"),
    )


O_ZOOM_STATS = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), zs AS (SELECT z FROM generate_series(0, 8) t(z)),
per_tile AS (
  SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y, count(*) AS n
  FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
)
SELECT z, count(*) AS tile_count, CAST(sum(n) AS BIGINT) AS point_count, max(n) AS max_per_tile
FROM per_tile GROUP BY z
"""


# ---------------------------------------------------------------------------
# 3. drop_rate point reduction (§2.3, reduce_points.rs:60) — portable hash
# ---------------------------------------------------------------------------

def q_drop_rate_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = assign_tiles(_docs_geo(spark, sf_dir), 0, 8)
    thinned = drop_rate_keep(assigned, "doc_id", "z", max_zoom=8, keep_ratio=0.5, hash_flavor="portable")
    return thinned.groupBy("z").agg(
        F.count("*").alias("kept"),
        F.sum("doc_id").alias("id_sum"),
    )


O_DROP_RATE_THIN = """
WITH zs AS (SELECT z FROM generate_series(0, 8) t(z))
SELECT CAST(z AS INTEGER) AS z, count(*) AS kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents CROSS JOIN zs
WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < pow(0.5, CAST(8 - z AS DOUBLE))
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 4. min_distance thinning (§2.3) — scalable cell-winner variant
# ---------------------------------------------------------------------------

def q_min_distance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _docs_geo(spark, sf_dir)
    merc = geo.select(
        "doc_id",
        (F.radians("lon") * F.lit(6378137.0)).alias("mx"),
        (F.log(F.tan(F.radians("lat") / 2 + F.lit(3.141592653589793) / 4)) * F.lit(6378137.0)).alias("my"),
    )
    cell = 200000.0
    keyed = merc.select(
        "doc_id",
        F.floor(F.col("mx") / F.lit(cell)).alias("cx"),
        F.floor(F.col("my") / F.lit(cell)).alias("cy"),
    )
    return keyed.groupBy("cx", "cy").agg(F.min("doc_id").alias("winner"), F.count("*").alias("n"))


O_MIN_DISTANCE_CELLS = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), merc AS (
  SELECT doc_id, radians(lon) * 6378137.0 AS mx,
         ln(tan(radians(lat)/2 + pi()/4)) * 6378137.0 AS my
  FROM pts
)
SELECT CAST(floor(mx/200000.0) AS BIGINT) AS cx, CAST(floor(my/200000.0) AS BIGINT) AS cy,
       min(doc_id) AS winner, count(*) AS n
FROM merc GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 5. allow-list semi-join (general/filter.rs:83-84 filename= mask — §2.4)
# ---------------------------------------------------------------------------

def q_allowlist_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = 6
    docs = _docs_geo(spark, sf_dir)
    dx, dy = lonlat_to_tile_cols("lon", "lat", z)
    doc_tiles = docs.select("doc_id", dx.alias("x"), dy.alias("y"))
    events = _events_geo(spark, sf_dir)
    ex, ey = lonlat_to_tile_cols("lon", "lat", z)
    allow = events.select(ex.alias("x"), ey.alias("y")).distinct()
    return doc_tiles.join(allow, ["x", "y"], "left_semi").select("doc_id", "x", "y")


O_ALLOWLIST_SEMIJOIN = f"""
WITH dpts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat FROM documents
), dtiles AS (
  SELECT doc_id, {_tile_sql("x", "6")} AS x, {_tile_sql("y", "6")} AS y FROM dpts
), epts AS (
  SELECT event_id, {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat FROM events
), allow AS (
  SELECT DISTINCT {_tile_sql("x", "6")} AS x, {_tile_sql("y", "6")} AS y FROM epts
)
SELECT d.doc_id, d.x, d.y FROM dtiles d
WHERE EXISTS (SELECT 1 FROM allow a WHERE a.x = d.x AND a.y = d.y)
"""


# ---------------------------------------------------------------------------
# 6. vector_update_properties (§2.4) — broadcast hash join with a dim table
# ---------------------------------------------------------------------------

def q_update_properties_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = docs.withColumn("nkey", (F.col("doc_id") % 25).cast("int")).join(
        F.broadcast(nation), F.col("nkey") == F.col("n_nationkey"), "inner"
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
    )


O_UPDATE_PROPERTIES_JOIN = """
SELECT n.n_name, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS chars_sum
FROM documents d JOIN nation n ON CAST(d.doc_id % 25 AS INTEGER) = n.n_nationkey
GROUP BY n.n_name
"""


# ---------------------------------------------------------------------------
# 7. probe top-k (§2.5 probe.rs:192-204)
# ---------------------------------------------------------------------------

def q_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", "n_chars").orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(10)


O_PROBE_TOPK = """
SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# 10. rendered tiles (the applyInPandas path) — n_features vs SQL counts
# ---------------------------------------------------------------------------

def q_tile_render_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _docs_geo(spark, sf_dir)
    tiles = convert_pages_to_tiles(geo, 0, 6, keep_ratio=1.0)
    return tiles.select("z", "x", "y", "n_features")


O_TILE_RENDER_SUMMARY = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), zs AS (SELECT z FROM generate_series(0, 6) t(z))
SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y, count(*) AS n_features
FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
"""


def q_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render a z0-4 pyramid, export it to a real .mbtiles file (stdlib
    sqlite3, XYZ->TMS flip per mbtiles/writer.rs), re-ingest it through the
    container scan (rowid ranges), and emit the surviving coordinates.
    The oracle recomputes the expected non-empty tile set from the raw
    documents — coordinate identity proves the TMS flip + schema round-trip.
    (Byte-identity of the blobs is asserted in tests/test_mbtiles.py.)"""
    import hashlib
    import tempfile

    from versatiles_rs_spark.sources import read_container
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles

    geo = _docs_geo(spark, sf_dir)
    tiles = convert_pages_to_tiles(geo, 0, 4, keep_ratio=1.0)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/vt_roundtrip_{tag}.mbtiles"
    write_mbtiles(tiles, path)
    back = read_container(spark, path)
    return back.select("z", "x", "y")


O_CONTAINER_ROUNDTRIP = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), zs AS (SELECT z FROM generate_series(0, 4) t(z))
SELECT DISTINCT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y
FROM pts CROSS JOIN zs
"""


# ---------------------------------------------------------------------------
# 13. from_stacked / from_merged_vector (§2.4) — counts-level oracles
# ---------------------------------------------------------------------------

_STACK_Z = 4


def _two_tile_sources(spark: SparkSession, sf_dir: str):
    from versatiles_rs_spark.operators.convert import render_point_tiles

    d = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    dt = render_point_tiles(assign_tiles(d, _STACK_Z, _STACK_Z), layer_name="docs")
    e = _events_geo(spark, sf_dir).filter("event_id % 7 = 0").select(
        F.col("event_id").alias("doc_id"), "lon", "lat", F.col("event_type").alias("lang")
    )
    et = render_point_tiles(assign_tiles(e, _STACK_Z, _STACK_Z), layer_name="events")
    return dt, et


def q_stacked_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from versatiles_rs_spark.operators.stacked import from_stacked

    dt, et = _two_tile_sources(spark, sf_dir)
    return from_stacked([dt, et]).select("z", "x", "y", "n_features")


def q_merged_vector_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from versatiles_rs_spark.operators.stacked import from_merged_vector

    dt, et = _two_tile_sources(spark, sf_dir)
    return from_merged_vector([dt, et]).select("z", "x", "y", "n_features")


_STACK_CTE = f"""
WITH dpts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat FROM documents
), d AS (
  SELECT {_tile_sql("x", str(_STACK_Z))} AS x, {_tile_sql("y", str(_STACK_Z))} AS y, count(*) AS n
  FROM dpts GROUP BY 1, 2
), epts AS (
  SELECT event_id, {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat
  FROM events WHERE event_id % 7 = 0
), e AS (
  SELECT {_tile_sql("x", str(_STACK_Z))} AS x, {_tile_sql("y", str(_STACK_Z))} AS y, count(*) AS n
  FROM epts GROUP BY 1, 2
)
"""

O_STACKED_COALESCE = _STACK_CTE + f"""
SELECT CAST({_STACK_Z} AS INTEGER) AS z, coalesce(d.x, e.x) AS x, coalesce(d.y, e.y) AS y,
       CAST(coalesce(d.n, e.n) AS BIGINT) AS n_features
FROM d FULL OUTER JOIN e ON d.x = e.x AND d.y = e.y
"""

O_MERGED_VECTOR_COUNTS = _STACK_CTE + f"""
SELECT CAST({_STACK_Z} AS INTEGER) AS z, coalesce(d.x, e.x) AS x, coalesce(d.y, e.y) AS y,
       CAST(coalesce(d.n, 0) + coalesce(e.n, 0) AS BIGINT) AS n_features
FROM d FULL OUTER JOIN e ON d.x = e.x AND d.y = e.y
"""


# ---------------------------------------------------------------------------
# 14. vector_filter_features (CEL analog): relational predicate on tiles
# ---------------------------------------------------------------------------

def q_filter_features_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from versatiles_rs_spark.operators.convert import render_point_tiles
    from versatiles_rs_spark.operators.vector_transforms import explode_features

    d = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    tiles = render_point_tiles(assign_tiles(d, _STACK_Z, _STACK_Z), layer_name="docs")
    feats = explode_features(tiles).filter(F.expr("props['lang'] = 'en'"))
    return feats.groupBy("z", "x", "y").agg(F.count("*").alias("n"), F.min("fid").alias("min_fid"))


O_FILTER_FEATURES_EN = f"""
WITH dpts AS (
  SELECT doc_id, lang, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
)
SELECT CAST({_STACK_Z} AS INTEGER) AS z, {_tile_sql("x", str(_STACK_Z))} AS x,
       {_tile_sql("y", str(_STACK_Z))} AS y, count(*) AS n, min(doc_id) AS min_fid
FROM dpts WHERE lang = 'en' GROUP BY 1, 2, 3
"""



# ---------------------------------------------------------------------------
# 16. event-time tumbling window aggregation (batch form of the streaming op)
# ---------------------------------------------------------------------------

def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_geo(spark, sf_dir)
    x, y = lonlat_to_tile_cols("lon", "lat", 3)
    return (
        ev.withColumn("x", x).withColumn("y", y)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "x", "y"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
    )


O_WINDOWED_EVENTS = f"""
WITH pts AS (
  SELECT event_id, ts, value,
         {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat
  FROM events
)
SELECT date_trunc('hour', ts) AS window_start,
       {_tile_sql("x", "3")} AS x, {_tile_sql("y", "3")} AS y,
       count(*) AS n, round(sum(value), 6) AS value_sum
FROM pts GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# 17. set operations on coordinate sets (tile_cover/set_ops.rs analog)
# ---------------------------------------------------------------------------

def q_coord_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = 5
    docs = _docs_geo(spark, sf_dir)
    dx, dy = lonlat_to_tile_cols("lon", "lat", z)
    a = docs.select(dx.alias("x"), dy.alias("y")).distinct()
    ev = _events_geo(spark, sf_dir)
    ex, ey = lonlat_to_tile_cols("lon", "lat", z)
    b = ev.select(ex.alias("x"), ey.alias("y")).distinct()
    union = a.union(b).distinct().select(F.lit("union").alias("op"), "x", "y")
    inter = a.intersect(b).select(F.lit("intersect").alias("op"), "x", "y")
    diff = a.exceptAll(a.intersect(b)).select(F.lit("difference").alias("op"), "x", "y")
    return union.unionByName(inter).unionByName(diff)


O_COORD_SET_OPS = f"""
WITH dpts AS (
  SELECT {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat FROM documents
), a AS (
  SELECT DISTINCT {_tile_sql("x", "5")} AS x, {_tile_sql("y", "5")} AS y FROM dpts
), epts AS (
  SELECT {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat FROM events
), b AS (
  SELECT DISTINCT {_tile_sql("x", "5")} AS x, {_tile_sql("y", "5")} AS y FROM epts
)
SELECT 'union' AS op, x, y FROM (SELECT x, y FROM a UNION SELECT x, y FROM b)
UNION ALL
SELECT 'intersect' AS op, x, y FROM (SELECT x, y FROM a INTERSECT SELECT x, y FROM b)
UNION ALL
SELECT 'difference' AS op, x, y FROM (SELECT x, y FROM a EXCEPT SELECT x, y FROM b)
"""



# ---------------------------------------------------------------------------
# 18. linear sort-index ordering key (tile_coord.rs:235-239, §2.8)
# ---------------------------------------------------------------------------

def q_sort_index_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from versatiles_rs_spark.tile_math.coords import sort_index_col

    z = 6
    docs = _docs_geo(spark, sf_dir)
    x, y = lonlat_to_tile_cols("lon", "lat", z)
    t = docs.select("doc_id", F.lit(z).alias("z"), x.alias("x"), y.alias("y"))
    return t.select(
        "doc_id", "x", "y", sort_index_col(F.col("z"), F.col("x"), F.col("y")).alias("sort_key")
    )


O_SORT_INDEX_KEY = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), t AS (
  SELECT doc_id, {_tile_sql("x", "6")} AS x, {_tile_sql("y", "6")} AS y FROM pts
)
SELECT doc_id, x, y,
       CAST(floor((pow(4.0, 6) - 1) / 3) AS BIGINT) + y * 64 + x AS sort_key
FROM t
"""



# ---------------------------------------------------------------------------
# 19. salted two-phase aggregation (hot-tile skew valve) — must equal the
#     plain groupBy, which IS the oracle
# ---------------------------------------------------------------------------

def q_salted_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from versatiles_rs_spark.operators.skew import salted_tile_stats

    ev = _events_geo(spark, sf_dir)
    assigned = assign_tiles(
        ev.select(F.col("event_id").alias("doc_id"), "lon", "lat", "value"), 0, 6
    )
    return salted_tile_stats(assigned, n_salts=8, id_col="doc_id", value_col="value")


O_SALTED_TILE_STATS = f"""
WITH pts AS (
  SELECT event_id, value,
         {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat
  FROM events
), zs AS (SELECT z FROM generate_series(0, 6) t(z))
SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y,
       count(*) AS n, round(sum(value), 6) AS value_sum
FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# 16. shortbread fixture decode (external MVT wire-format validation)
# ---------------------------------------------------------------------------

# The reference's only real-world vector tile — produced by external
# shortbread tooling, decoded by versatiles_geometry/src/vector_tile/
# tile.rs:41 from_blob in the reference's own tests. Decoding it here
# validates the MVT reader against a third-party encoder, not just our own
# encode/decode symmetry.
SHORTBREAD_PBF = "/root/reference/testdata/shortbread-tile.pbf"

_SHORTBREAD_STAT_COLS = [
    "layer", "extent", "n_features", "n_rings", "n_vertices",
    "n_props", "n_points", "n_lines", "n_polys",
]


def q_shortbread_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer stats of the shortbread fixture, decoded through the
    engine's Arrow-batched MVT path (one mapInPandas over binaryFile rows —
    the same shape used to ingest third-party MVT tilesets at scale). The
    oracle is a literal expectation table; tests/test_reference_fixtures.py
    re-derives the same counts with an independent generic protobuf TLV
    walker, so the constants are not self-referential."""
    from versatiles_rs_spark.functions.mvt import decode_tile

    df = spark.read.format("binaryFile").load(SHORTBREAD_PBF).select("content")

    def stats(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for blob in pdf["content"]:
                for name, layer in decode_tile(bytes(blob)).items():
                    fs = layer["features"]
                    rows.append(
                        (
                            name,
                            int(layer["extent"]),
                            len(fs),
                            sum(len(f.rings) for f in fs),
                            sum(len(r) for f in fs for r in f.rings),
                            sum(len(f.props) for f in fs),
                            sum(1 for f in fs if f.geom_type == 1),
                            sum(1 for f in fs if f.geom_type == 2),
                            sum(1 for f in fs if f.geom_type == 3),
                        )
                    )
            yield pd.DataFrame(rows, columns=_SHORTBREAD_STAT_COLS)

    schema = (
        "layer string, extent int, n_features bigint, n_rings bigint, "
        "n_vertices bigint, n_props bigint, n_points bigint, n_lines bigint, "
        "n_polys bigint"
    )
    return df.mapInPandas(stats, schema)


_SHORTBREAD_EXPECTED = [
    ("addresses", 4096, 2609, 2609, 2609, 2614, 2609, 0, 0),
    ("buildings", 4096, 2328, 2356, 32250, 2328, 0, 0, 2328),
    ("land", 4096, 871, 886, 17503, 871, 0, 0, 871),
    ("place_labels", 4096, 6, 6, 6, 30, 6, 0, 0),
    ("public_transport", 4096, 4, 4, 4, 16, 4, 0, 0),
    ("sites", 4096, 333, 334, 3098, 333, 0, 0, 333),
    ("street_labels", 4096, 608, 608, 2867, 4256, 0, 608, 0),
    ("street_polygons", 4096, 11, 18, 367, 54, 0, 0, 11),
    ("streets", 4096, 4224, 4225, 17013, 25296, 0, 4224, 0),
    ("streets_polygons_labels", 4096, 11, 11, 11, 17, 11, 0, 0),
    ("water_lines", 4096, 1, 1, 5, 1, 0, 1, 0),
    ("water_polygons", 4096, 7, 7, 136, 7, 0, 0, 7),
    ("water_polygons_labels", 4096, 2, 2, 2, 8, 2, 0, 0),
]

O_SHORTBREAD_LAYERS = (
    "SELECT layer, CAST(extent AS INTEGER) AS extent, "
    + ", ".join(
        f"CAST({c} AS BIGINT) AS {c}" for c in _SHORTBREAD_STAT_COLS[2:]
    )
    + " FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(repr(v) if isinstance(v, str) else str(v) for v in row) + ")"
        for row in _SHORTBREAD_EXPECTED
    )
    + f") AS t({', '.join(_SHORTBREAD_STAT_COLS)})"
)


_DIFF_MOD = 7


def q_tile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-update verification (operators/tile_diff.py): render the
    full corpus and a corpus with every 7th doc removed, diff the two
    pyramids by content hash (only 16-byte digests shuffle). doc_id rides
    in the tile properties, so byte-equality holds exactly when the
    contributing doc set is unchanged — which is what the oracle computes
    independently from the raw points (per-tile sorted doc lists under the
    shared Web-Mercator formula), never decoding a tile."""
    from versatiles_rs_spark.operators.convert import convert_pages_to_tiles
    from versatiles_rs_spark.operators.tile_diff import tile_diff_summary

    geo = _docs_geo(spark, sf_dir)
    old = convert_pages_to_tiles(geo, 0, 4, keep_ratio=1.0, props_cols=["doc_id"], compression="none")
    new = convert_pages_to_tiles(
        geo.where(F.col("doc_id") % _DIFF_MOD != 0), 0, 4,
        keep_ratio=1.0, props_cols=["doc_id"], compression="none",
    )
    return tile_diff_summary(old, new).select(
        F.col("z").cast("int").alias("z"), "status", F.col("n").cast("bigint").alias("n")
    )


O_TILE_DIFF = f"""
WITH pts AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), zs AS (SELECT z FROM generate_series(0, 4) t(z)),
a AS (
  SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y,
         list(doc_id ORDER BY doc_id) AS ds
  FROM pts CROSS JOIN zs GROUP BY 1, 2, 3
),
b AS (
  SELECT CAST(z AS INTEGER) AS z, {_tile_sql("x")} AS x, {_tile_sql("y")} AS y,
         list(doc_id ORDER BY doc_id) AS ds
  FROM pts CROSS JOIN zs WHERE doc_id % {_DIFF_MOD} != 0 GROUP BY 1, 2, 3
),
d AS (
  SELECT coalesce(a.z, b.z) AS z,
         CASE WHEN a.ds IS NULL THEN 'added'
              WHEN b.ds IS NULL THEN 'removed'
              WHEN a.ds = b.ds THEN 'same' ELSE 'changed' END AS status
  FROM a FULL OUTER JOIN b ON a.z = b.z AND a.x = b.x AND a.y = b.y
)
SELECT z, status, count(*) AS n FROM d GROUP BY 1, 2
"""


_ANOM_Z = 2
_ANOM_THRESH = 2.0


def q_tile_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal anomaly detection: per-tile hourly event counts
    z-scored against that tile's own hourly distribution, flagging hours
    with |z| > 2 — the hot-tile monitoring op a live crawl/tile service
    runs. Pure groupBy + window aggregation on natural keys (tile, hour);
    integer counts make the mean/std arithmetic bit-identical in both
    engines."""
    from versatiles_rs_spark.operators.convert import assign_tiles

    ev = assign_tiles(_events_geo(spark, sf_dir), _ANOM_Z, _ANOM_Z)
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts").cast("timestamp")))
        .groupBy("z", "x", "y", "hour")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("z", "x", "y")
    stats = hourly.withColumn("mu", F.avg("n").over(w)).withColumn(
        "sigma", F.stddev_pop("n").over(w)
    )
    flagged = stats.where(
        (F.col("sigma") > 0)
        & (F.abs((F.col("n") - F.col("mu")) / F.col("sigma")) > _ANOM_THRESH)
    )
    return flagged.select(
        F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n").cast("bigint").alias("n"),
        F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
    )


O_TILE_ANOMALY = f"""
WITH pts AS (
  SELECT ts, {LON_SQL.format(id="event_id")} AS lon, {LAT_SQL.format(id="event_id")} AS lat
  FROM events
), hourly AS (
  SELECT {_tile_sql("x", str(_ANOM_Z))} AS x, {_tile_sql("y", str(_ANOM_Z))} AS y,
         date_trunc('hour', ts) AS hour, count(*) AS n
  FROM pts GROUP BY 1, 2, 3
), stats AS (
  SELECT x, y, hour, n,
         avg(n) OVER (PARTITION BY x, y) AS mu,
         stddev_pop(n) OVER (PARTITION BY x, y) AS sigma
  FROM hourly
)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(n AS BIGINT) AS n, round((n - mu) / sigma, 6) AS zscore
FROM stats WHERE sigma > 0 AND abs((n - mu) / sigma) > {_ANOM_THRESH}
"""


def q_polygon_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-geometry cascade over a deterministic admin-like polygon
    corpus (spatial/admin_rings.py): candidate explode z0-8 -> clip ->
    quantize -> MVT render, returning per-tile (n_features, sum_fid)
    where BOTH counts come from DECODING the rendered MVT bytes (the
    engine's own decoder recovering feature ids). The corpus is
    constructed so the closed-form oracle decides every tile floor and
    every quantize-drop exactly (1/96-offset grid, see
    spatial/admin_rings.py), so equality attests the whole distributed
    cascade end to end: explode ranges, the shuffle to (z,x,y),
    clipping, quantization, and the encode/decode round trip."""
    from versatiles_rs_spark.operators.from_geo import (
        candidate_tiles,
        render_geo_tiles,
    )
    from versatiles_rs_spark.spatial.admin_rings import synth_admin_features

    import pandas as pd

    feats = synth_admin_features(spark, sf_dir)
    cands = candidate_tiles(feats, 0, 8, simplify_px=0.0)
    tiles = render_geo_tiles(cands, compression="none")

    def summarize(it):
        from versatiles_rs_spark.functions.mvt import decode_tile

        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                fs = decode_tile(bytes(r["tile"]))["features"]["features"]
                rows.append((int(r["z"]), int(r["x"]), int(r["y"]),
                             len(fs), sum(f.fid for f in fs)))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "n_features", "sum_fid"]
            )

    return tiles.mapInPandas(
        summarize, "z int, x long, y long, n_features long, sum_fid long"
    )


def _o_polygon_tiles() -> str:
    from versatiles_rs_spark.spatial.admin_rings import admin_tiles_oracle_sql

    return admin_tiles_oracle_sql()


O_POLYGON_TILES = _o_polygon_tiles()


# ---------------------------------------------------------------------------
# 37. tile-pyramid integrity validation (the `validate` side of convert)
# ---------------------------------------------------------------------------

_PYR_ZMAX = 8
# deterministic damage schedule: drop ~1/11 of the non-root pyramid so the
# validator has real gaps to find
_PYR_DAMAGE = "(z >= 1 AND (x * 73 + y * 37 + z) % 11 = 0)"


def q_pyramid_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container validation: per-zoom tile counts + orphan tiles (present
    at z with no parent at z-1) over a deterministically damaged pyramid
    derived from the docs' max-zoom tiles. Models the reference's
    container consistency checking (versatiles probe / tile_coord parent
    math, tile_coord.rs:79-96): a healthy halved pyramid has zero
    orphans, so every reported orphan is damage-schedule-caused.
    Shape: one distinct, one broadcast-sized zoom explode, one self
    equi-join on (z-1, x>>1, y>>1) — all key-partitioned."""
    from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols

    geo = _docs_geo(spark, sf_dir)
    x8, y8 = lonlat_to_tile_cols("lon", "lat", _PYR_ZMAX)
    t8 = geo.select(x8.alias("x8"), y8.alias("y8")).distinct()
    zs = F.explode(F.sequence(F.lit(0), F.lit(_PYR_ZMAX))).alias("z")
    present = (
        t8.select("x8", "y8", zs)
        .select(
            F.col("z").cast("int").alias("z"),
            F.expr(f"shiftright(x8, {_PYR_ZMAX} - z)").alias("x"),
            F.expr(f"shiftright(y8, {_PYR_ZMAX} - z)").alias("y"),
        )
        .distinct()
        .where(~F.expr(_PYR_DAMAGE))
    )
    parents = present.select(
        (F.col("z") + 1).alias("z"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
    )
    joined = present.join(
        parents,
        on=[
            present.z == parents.z,
            F.shiftright(present.x, 1) == parents.px,
            F.shiftright(present.y, 1) == parents.py,
        ],
        how="left",
    )
    return (
        joined.groupBy(present.z.alias("z"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum(
                F.when((present.z >= 1) & F.col("px").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_orphans"),
        )
    )


O_PYRAMID_GAPS = f"""
WITH pts AS (
  SELECT {LON_SQL.format(id="doc_id")} AS lon, {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), t8 AS (
  SELECT DISTINCT {_tile_sql("x", str(_PYR_ZMAX))} AS x8, {_tile_sql("y", str(_PYR_ZMAX))} AS y8
  FROM pts
), zs AS (SELECT z FROM generate_series(0, {_PYR_ZMAX}) t(z)),
present AS (
  SELECT DISTINCT CAST(z AS INTEGER) AS z,
         x8 >> ({_PYR_ZMAX} - z) AS x, y8 >> ({_PYR_ZMAX} - z) AS y
  FROM t8 CROSS JOIN zs
), damaged AS (
  SELECT * FROM present WHERE NOT {_PYR_DAMAGE}
)
SELECT c.z, count(*) AS n_tiles,
       CAST(sum(CASE WHEN c.z >= 1 AND p.x IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM damaged c LEFT JOIN damaged p
  ON p.z = c.z - 1 AND p.x = c.x >> 1 AND p.y = c.y >> 1
GROUP BY c.z
"""




# ---------------------------------------------------------------------------
# 38. incremental dirty-tile maintenance (delta convert — the daily-delta
#     counterpart of the full rebuild; operators/incremental.py)
# ---------------------------------------------------------------------------

_INC_ZMAX = 6
# deterministic corpus delta: delete %17, move %13 (position re-derived
# from doc_id*31+7 — provably never equal to the original, see
# tests/test_incremental.py), add a clone at doc_id+1000000 for %19
_INC_MOVED = "doc_id % 13 = 0"
_INC_DELETED = "doc_id % 17 = 0"
_INC_ADDED = "doc_id % 19 = 0"


def _inc_old_new(spark: SparkSession, sf_dir: str):
    from versatiles_rs_spark.pages.generator import lat_expr, lon_expr

    old = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat")
    moved_id = F.col("doc_id") * 31 + 7
    surv = old.where(f"NOT ({_INC_DELETED})").select(
        "doc_id",
        F.when(F.expr(_INC_MOVED), lon_expr(moved_id)).otherwise(F.col("lon")).alias("lon"),
        F.when(F.expr(_INC_MOVED), lat_expr(moved_id)).otherwise(F.col("lat")).alias("lat"),
    )
    added_id = F.col("doc_id") + 1000000
    added = old.where(_INC_ADDED).select(
        added_id.alias("doc_id"),
        lon_expr(added_id).alias("lon"),
        lat_expr(added_id).alias("lat"),
    )
    return old, surv.unionByName(added)


def q_incremental_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zoom accounting of the incremental re-render: base tiles, dirty
    tiles (delta footprint, old+new positions), kept (anti-join) and
    re-rendered (semi-join) — n_after = n_kept + n_rerendered is the new
    pyramid's size. The dirty set is |delta|*zooms-bounded and broadcast;
    render work is delta-proportional (byte-identity of the patched
    pyramid vs a full rebuild is pinned in tests/test_incremental.py)."""
    from versatiles_rs_spark.operators.convert import assign_tiles
    from versatiles_rs_spark.operators.incremental import dirty_tiles, doc_delta

    old, new = _inc_old_new(spark, sf_dir)
    dirty = dirty_tiles(doc_delta(old, new), 0, _INC_ZMAX)
    old_tiles = assign_tiles(old, 0, _INC_ZMAX).select("z", "x", "y").distinct()
    new_tiles = assign_tiles(new, 0, _INC_ZMAX).select("z", "x", "y").distinct()
    kept = old_tiles.join(dirty, ["z", "x", "y"], "left_anti")
    rerendered = new_tiles.join(dirty, ["z", "x", "y"], "left_semi")
    tagged = (
        old_tiles.withColumn("src", F.lit("base"))
        .unionByName(dirty.withColumn("src", F.lit("dirty")))
        .unionByName(kept.withColumn("src", F.lit("kept")))
        .unionByName(rerendered.withColumn("src", F.lit("rr")))
    )
    agg = tagged.groupBy(F.col("z").cast("int").alias("z")).agg(
        F.sum(F.when(F.col("src") == "base", 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("src") == "dirty", 1).otherwise(0)).alias("n_dirty"),
        F.sum(F.when(F.col("src") == "kept", 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("src") == "rr", 1).otherwise(0)).alias("n_rerendered"),
    )
    return agg.withColumn("n_after", F.col("n_kept") + F.col("n_rerendered"))


def _o_incremental_tiles() -> str:
    lon_m = LON_SQL.format(id="(doc_id * 31 + 7)")
    lat_m = LAT_SQL.format(id="(doc_id * 31 + 7)")
    lon_a = LON_SQL.format(id="(doc_id + 1000000)")
    lat_a = LAT_SQL.format(id="(doc_id + 1000000)")
    tx, ty = _tile_sql("x", "z"), _tile_sql("y", "z")
    return f"""
WITH oldd AS (
  SELECT doc_id, {LON_SQL.format(id="doc_id")} AS lon,
         {LAT_SQL.format(id="doc_id")} AS lat
  FROM documents
), newd AS (
  SELECT doc_id,
         CASE WHEN {_INC_MOVED} THEN {lon_m} ELSE lon END AS lon,
         CASE WHEN {_INC_MOVED} THEN {lat_m} ELSE lat END AS lat
  FROM oldd WHERE NOT ({_INC_DELETED})
  UNION ALL
  SELECT doc_id + 1000000, {lon_a}, {lat_a} FROM documents WHERE {_INC_ADDED}
), delta AS (
  SELECT lon, lat FROM oldd WHERE ({_INC_DELETED}) OR ({_INC_MOVED})
  UNION ALL
  SELECT lon, lat FROM newd WHERE ({_INC_MOVED}) AND doc_id < 1000000
  UNION ALL
  SELECT lon, lat FROM newd WHERE doc_id >= 1000000
), zs AS (
  SELECT unnest(range(0, {_INC_ZMAX} + 1)) AS z
), old_tiles AS (
  SELECT DISTINCT z, {tx} AS x, {ty} AS y FROM oldd CROSS JOIN zs
), new_tiles AS (
  SELECT DISTINCT z, {tx} AS x, {ty} AS y FROM newd CROSS JOIN zs
), dirty AS (
  SELECT DISTINCT z, {tx} AS x, {ty} AS y FROM delta CROSS JOIN zs
), kept AS (
  SELECT * FROM old_tiles EXCEPT SELECT * FROM dirty
), rr AS (
  SELECT * FROM new_tiles INTERSECT SELECT * FROM dirty
), tagged AS (
  SELECT z, 'base' AS src FROM old_tiles
  UNION ALL SELECT z, 'dirty' FROM dirty
  UNION ALL SELECT z, 'kept' FROM kept
  UNION ALL SELECT z, 'rr' FROM rr
)
SELECT CAST(z AS INTEGER) AS z,
       CAST(sum(CASE WHEN src = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(sum(CASE WHEN src = 'dirty' THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
       CAST(sum(CASE WHEN src = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN src = 'rr' THEN 1 ELSE 0 END) AS BIGINT) AS n_rerendered,
       CAST(sum(CASE WHEN src = 'kept' THEN 1 ELSE 0 END)
            + sum(CASE WHEN src = 'rr' THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM tagged GROUP BY z
"""


O_INCREMENTAL_TILES = _o_incremental_tiles()


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the Iceberg-shaped keyed table
    (lineage.merge_upsert): build the doc corpus as a resumable keyed
    table, apply one merge commit (edits doc_id%10==3, inserts shifted
    copies of doc_id%50==0, deletes doc_id%10==7), and fingerprint the
    resulting snapshot. The oracle recomputes the merged relation
    directly — update/insert/delete semantics attested through the REAL
    table format (bucket-level CoW + snapshot protocol covered in
    tests/test_lineage.py)."""
    import hashlib
    import shutil
    import tempfile

    from versatiles_rs_spark.lineage import (
        keyed_resumable,
        merge_upsert,
        read_tiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table = f"{tempfile.gettempdir()}/vt_merge_{tag}"
    shutil.rmtree(table, ignore_errors=True)
    keyed_resumable(docs, table, n_buckets=8, key_col="doc_id")

    updates = (
        docs.filter("doc_id % 10 = 3")
        .select("doc_id", F.concat(F.col("text"), F.lit(" EDITED")).alias("text"))
        .unionByName(
            docs.filter("doc_id % 50 = 0").select(
                (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
                F.concat(F.lit("new:"), F.col("doc_id").cast("string")).alias("text"),
            )
        )
    )
    deletes = docs.filter("doc_id % 10 = 7").select("doc_id")
    merge_upsert(spark, table, updates, key_col="doc_id", deletes=deletes)
    out = read_tiles(spark, table).select("doc_id", F.md5("text").alias("fp"))
    return out


O_MERGE_UPSERT = """
WITH base AS (
  SELECT doc_id, text FROM documents
), merged AS (
  SELECT doc_id, text || ' EDITED' AS text FROM base WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 1000000, 'new:' || CAST(doc_id AS VARCHAR) FROM base WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id, text FROM base WHERE doc_id % 10 NOT IN (3, 7)
)
SELECT doc_id, md5(text) AS fp FROM merged
"""
