"""Structured Streaming variants of the tiling operators.

The reference has no unbounded-stream concepts (SURVEY.md §2.11) — its
TileStream is a bounded pull stream — so batch DataFrames match capability.
These streaming forms are the *incremental recompute* extension: a live feed
of points (e.g. a crawl frontier) maintains per-tile aggregates with
watermarked event-time windows. The same Column-math geocode is reused
verbatim — the logical plan is identical to the batch path, only the sink
mode differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols


def streaming_tile_counts(
    points_stream: DataFrame,
    zoom: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Running count of points per tile (complete/update mode aggregate)."""
    x, y = lonlat_to_tile_cols(lon_col, lat_col, zoom)
    return (
        points_stream.withColumn("x", x)
        .withColumn("y", y)
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
    )


def streaming_windowed_tile_stats(
    points_stream: DataFrame,
    zoom: int,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window per-tile stats with late-data handling: watermark
    bounds state so the aggregation runs indefinitely (append mode)."""
    x, y = lonlat_to_tile_cols(lon_col, lat_col, zoom)
    keyed = (
        points_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn("x", x)
        .withColumn("y", y)
    )
    aggs = [F.count("*").alias("n")]
    if value_col:
        aggs.append(F.round(F.avg(value_col), 6).alias("avg_value"))
    out_cols = [F.col("w.start").alias("window_start"), F.col("x"), F.col("y"), F.col("n")]
    if value_col:
        out_cols.append(F.col("avg_value"))
    return keyed.groupBy(F.window(ts_col, window).alias("w"), "x", "y").agg(*aggs).select(*out_cols)


def streaming_convert(
    points_stream: DataFrame,
    out_dir: str,
    zoom: int,
    layer_name: str = "pages",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
):
    """Incremental streaming tile conversion — the streaming form of the
    convert pipeline, via the dirty-tile re-render pattern:

    each micro-batch (1) appends its points to an accumulating point table
    partitioned by tile coords, (2) computes the batch's DIRTY tile set
    (tiles it touched — typically a tiny fraction of the pyramid), and
    (3) re-renders ONLY those tiles from the accumulated points, writing a
    new tile version under ``out_dir/tiles``. ``read_latest_tiles`` resolves
    upserts (latest batch wins per coordinate) — the Delta-style MERGE
    without requiring a table format. State is the point table on disk, not
    executor memory, so a month-long stream cannot OOM the cluster.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    from versatiles_rs_spark.operators.convert import render_point_tiles

    spark = points_stream.sparkSession
    points_path = f"{out_dir}/points"
    tiles_path = f"{out_dir}/tiles"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        x, y = lonlat_to_tile_cols(lon_col, lat_col, zoom)
        assigned = (
            batch_df.withColumn("z", F.lit(zoom))
            .withColumn("x", x)
            .withColumn("y", y)
            .select("z", "x", "y", lon_col, lat_col, id_col)
        )
        if assigned.isEmpty():
            return
        assigned.write.mode("append").partitionBy("x").parquet(points_path)
        dirty = assigned.select("x", "y").distinct()
        # partition pruning on x narrows the accumulated scan to dirty stripes
        acc = spark.read.parquet(points_path).join(F.broadcast(dirty), ["x", "y"])
        tiles = render_point_tiles(acc, layer_name=layer_name, props_cols=[])
        tiles.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(tiles_path)

    writer = (
        points_stream.writeStream.foreachBatch(process_batch)
        .outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def read_latest_tiles(spark, out_dir: str) -> DataFrame:
    """Resolve streaming upserts: latest batch version per tile coordinate."""
    from pyspark.sql import Window

    tiles = spark.read.parquet(f"{out_dir}/tiles")
    w = Window.partitionBy("z", "x", "y").orderBy(F.desc("batch_id"))
    return (
        tiles.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "batch_id")
    )
