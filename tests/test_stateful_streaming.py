"""applyInPandasWithState custom stateful operator."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark.streaming.stateful import streaming_stateful_tile_stats


def test_stateful_tile_stats_accumulates_across_batches(spark, tmp_path, sf_dir):
    from versatiles_rs_spark.queries import _events_geo

    ev = _events_geo(spark, sf_dir).select("lon", "lat", "user_id", "value").limit(2000).cache()
    src = str(tmp_path / "stateful_src")
    # two files -> can arrive as separate micro-batches; state must accumulate
    ev.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_stateful_tile_stats(stream, zoom=2)
        .writeStream.format("memory")
        .queryName("stateful_tiles")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select x, y, max(n_events) as n_events, max(n_users_approx) as nu "
            "from stateful_tiles group by x, y"
        ).toPandas()
    finally:
        q.stop()

    # final accumulated counts == batch groupBy
    from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols

    x, y = lonlat_to_tile_cols("lon", "lat", 2)
    want = (
        ev.withColumn("x", x).withColumn("y", y)
        .groupBy("x", "y").agg(F.count("*").alias("n_events"))
        .toPandas()
    )
    g = got.set_index(["x", "y"])["n_events"].sort_index()
    w = want.set_index(["x", "y"])["n_events"].sort_index()
    pd.testing.assert_series_equal(g, w, check_names=False)
    assert (got["nu"] >= 1).all() and (got["nu"] <= 64).all()


def test_streaming_convert_incremental(spark, tmp_path):
    """Dirty-tile streaming convert: after streaming the same points in two
    chunks, read_latest_tiles equals the batch render of all points —
    including tiles whose content changed between micro-batches."""
    import pandas as pd

    from versatiles_rs_spark.operators.convert import render_point_tiles
    from versatiles_rs_spark.queries import _docs_geo
    from versatiles_rs_spark.streaming.tiling import (
        read_latest_tiles,
        streaming_convert,
    )
    from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols
    from pyspark.sql import functions as F

    zoom = 4
    docs = _docs_geo(spark, "/root/testdata/sf0.001").select("doc_id", "lon", "lat")
    pdf = docs.toPandas().sort_values("doc_id")
    src = tmp_path / "incoming"
    src.mkdir()
    # two chunks that overlap in tile space -> second batch must re-render
    pdf.iloc[: len(pdf) // 2].to_json(src / "a.json", orient="records", lines=True)
    pdf.iloc[len(pdf) // 2 :].to_json(src / "b.json", orient="records", lines=True)

    stream = (
        spark.readStream.schema("doc_id long, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = tmp_path / "out"
    q = streaming_convert(
        stream, str(out), zoom, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r["z"], r["x"], r["y"]): bytes(r["tile"])
        for r in read_latest_tiles(spark, str(out)).collect()
    }
    x, y = lonlat_to_tile_cols("lon", "lat", zoom)
    assigned = docs.withColumn("z", F.lit(zoom)).withColumn("x", x).withColumn("y", y)
    want = {
        (r["z"], r["x"], r["y"]): bytes(r["tile"])
        for r in render_point_tiles(assigned, layer_name="pages", props_cols=[]).collect()
    }
    assert got == want


def test_streaming_sessionize_matches_batch(spark, tmp_path, sf_dir):
    """Emitted (closed) streaming sessions == the batch operator's
    non-final sessions per user, with the stream split into two
    event-time-ordered chunks (the operator's in-order contract)."""
    from versatiles_rs_spark.operators.sessions import session_stats
    from versatiles_rs_spark.streaming.stateful import streaming_sessionize

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("user_id") % 10 == 0)
        .cache()
    )
    cut = ev.selectExpr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5) p").collect()[0]["p"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sess_src")
    # event-time-ordered chunks: chunk 0 strictly before chunk 1
    ev.filter(us <= cut).coalesce(1).write.parquet(src + "/c=0")
    ev.filter(us > cut).coalesce(1).write.parquet(src + "/c=1")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/c=*")
    )
    q = (
        streaming_sessionize(stream, gap_minutes=360)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select user_id, session_no, n_events, start_us, end_us from sess_stream"
        ).toPandas()
    finally:
        q.stop()

    full = session_stats(ev, gap_minutes=360).toPandas()
    # non-final sessions per user = all but each user's max session_no
    last = full.groupby("user_id")["session_no"].transform("max")
    want = full[full["session_no"] < last]
    assert len(got) == len(want) > 0
    g = got.sort_values(["user_id", "session_no"], ignore_index=True)
    w = want.sort_values(["user_id", "session_no"], ignore_index=True)
    assert (g["user_id"].values == w["user_id"].values).all()
    assert (g["session_no"].values == w["session_no"].values).all()
    assert (g["n_events"].values == w["n_events"].values).all()
    # durations agree with the batch operator's (seconds, float)
    dur = (g["end_us"].values - g["start_us"].values) / 1_000_000.0
    assert (abs(dur - w["duration_s"].values) < 1e-6).all()
