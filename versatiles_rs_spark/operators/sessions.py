"""Gap-based sessionization of event streams.

The classic clickstream operator: a user's events belong to one session
until a silence longer than ``gap`` separates them. Pure window functions
— one shuffle on the user key (the natural partitioner), lag + running
sum inside the partition, no Python anywhere.

Cross-engine determinism: timestamps compare in integer MICROSECONDS
(``unix_micros`` / ``epoch_us``) — no float epoch math, so the oracle's
session boundaries are bit-identical; window order ties break on
event_id. Parquet naive timestamps (TIMESTAMP_NTZ) cast through
TIMESTAMP under the engine's fixed UTC session timezone (session.py), so
the wall-clock value IS the epoch value, matching DuckDB's epoch_us on
the same naive column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Append (session_no, session starts) to events: session_no counts a
    user's sessions from 1 in time order."""
    gap_us = int(gap_minutes * 60 * 1_000_000)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col(order_tiebreak).asc())
    prev = F.lag(us).over(w)
    new_session = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    return events.withColumn("session_no", F.sum(new_session).over(w))


def session_stats(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(user_id, session_no, n_events, duration_s, value_sum) per session."""
    s = sessionize(events, gap_minutes, user_col, ts_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return s.groupBy(user_col, "session_no").agg(
        F.count("*").alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


def session_stats_sql(gap_minutes: float = 30.0) -> str:
    """The identical computation as DuckDB SQL over ``events``."""
    gap_us = int(gap_minutes * 60 * 1_000_000)
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
), sessions AS (
  SELECT user_id, event_id, value, us,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       (max(us) - min(us)) / 1000000.0 AS duration_s,
       round(sum(value), 6) AS value_sum
FROM sessions GROUP BY 1, 2
"""


def event_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: per user, the earliest strictly-increasing
    timestamp chain through ``steps`` (classic product-analytics funnel).
    Output: (user_id, stage_reached, t1..tk in integer micros, NULL past
    the reached stage).

    Scale shape: k is a small constant, so the funnel is k bounded
    aggregations joined on the USER key — each stage input is one row
    per user (not the event log), so after the first stage everything
    moves at user-table size; no per-user event collection, no windows
    over the raw log.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = events.select(F.col(user_col).alias("u"), us.alias("us"), F.col(type_col).alias("t"))
    cur = (
        ev.filter(F.col("t") == steps[0])
        .groupBy("u")
        .agg(F.min("us").alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        prev = f"t{i - 1}"
        nxt = (
            ev.filter(F.col("t") == step)
            .join(cur.select("u", prev), on="u", how="inner")
            .filter(F.col("us") > F.col(prev))
            .groupBy("u")
            .agg(F.min("us").alias(f"t{i}"))
        )
        cur = cur.join(nxt, on="u", how="left")
    stage = sum(
        (F.col(f"t{i}").isNotNull()).cast("int") for i in range(1, len(steps) + 1)
    )
    return cur.select(
        F.col("u").alias(user_col),
        stage.cast("bigint").alias("stage_reached"),
        *[F.col(f"t{i}") for i in range(1, len(steps) + 1)],
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen DAY, counted
    on each later day-offset they were active. (cohort_day, offset_days,
    n_users) with day = floor(epoch_us / 86400e6) — integer math.

    Two shuffles on natural keys: first-seen per user, then the
    (cohort, offset) distinct-user rollup; the join moves one row per
    user, not the event log."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # integer modulo, not float division: us/86400e6 as double can round
    # up across a day boundary
    day = ((us - us % F.lit(86_400_000_000)) / F.lit(86_400_000_000)).cast("bigint")
    ev = events.select(F.col(user_col).alias("u"), day.alias("day"))
    first = ev.groupBy("u").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, on="u")
        .select("u", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count_distinct("u").alias("n_users"))
    )


def od_flows(
    events: DataFrame,
    zoom: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Origin-destination flow matrix: consecutive events of the same
    user become a trip from the tile cell of the earlier event to the
    tile cell of the later one (time order, ties on ``order_tiebreak``);
    flows aggregate trips per (origin, destination) cell pair at
    ``zoom``. Output: (ox, oy, dx, dy, n_trips, n_users).

    The mobility-analytics staple (commute matrices, migration flows) —
    reference parity: VersaTiles has the tile grid
    (versatiles_core/src/types/tile_coords.rs) but no event analytics;
    this extends the engine's grid to movement data.

    Scale shape: ONE hash exchange on the user key for the lag window
    (the natural partitioner — skew bounded by per-user event counts),
    then ONE map-side-combined aggregation on the OD key whose
    cardinality is bounded by 4^(2*zoom), not the event log. Cell
    assignment is pure Column math inside codegen; no Python anywhere.
    """
    x, y = lonlat_to_tile_cols(lon_col, lat_col, zoom)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cells = events.select(
        F.col(user_col).alias("u"),
        us.alias("us"),
        F.col(order_tiebreak).alias("tb"),
        x.alias("cx"),
        y.alias("cy"),
    )
    w = Window.partitionBy("u").orderBy(F.col("us").asc(), F.col("tb").asc())
    trips = cells.select(
        "u",
        F.lag("cx").over(w).alias("ox"),
        F.lag("cy").over(w).alias("oy"),
        F.col("cx").alias("dx"),
        F.col("cy").alias("dy"),
    ).filter(F.col("ox").isNotNull())
    return trips.groupBy("ox", "oy", "dx", "dy").agg(
        F.count("*").alias("n_trips"),
        F.count_distinct("u").alias("n_users"),
    )


def stay_points(
    events: DataFrame,
    radius_q: int,
    min_duration_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    qx_col: str = "qx",
    qy_col: str = "qy",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Stay-point detection (Li et al. 2008, GeoLife): a user's
    consecutive events belong to one spatial segment while each hop
    stays within ``radius_q`` (quantized integer units); segments
    lasting >= ``min_duration_us`` are stays. The trajectory twin of
    gap-based sessionize — the boundary predicate is DISTANCE, not
    silence. Output per stay: (user_id, seg_no, n_events, start_us,
    duration_us, qx0, qy0 — the segment's first position).

    Determinism: hop distances are exact integer d^2 vs radius_q^2;
    timestamps compare in integer micros; window ties break on
    ``order_tiebreak``. One hash exchange on the user key (the natural
    partitioner), then the per-segment rollup reuses the same key
    prefix; no Python anywhere.
    """
    r2 = radius_q * radius_q
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = events.select(
        F.col(user_col).alias("u"),
        us.alias("us"),
        F.col(order_tiebreak).alias("tb"),
        F.col(qx_col).alias("qx"),
        F.col(qy_col).alias("qy"),
    )
    w = Window.partitionBy("u").orderBy(F.col("us").asc(), F.col("tb").asc())
    dx = F.col("qx") - F.lag("qx").over(w)
    dy = F.col("qy") - F.lag("qy").over(w)
    new_seg = F.when(
        F.lag("qx").over(w).isNull() | (dx * dx + dy * dy > F.lit(r2)), 1
    ).otherwise(0)
    seg = ev.withColumn("seg_no", F.sum(new_seg).over(w))
    stays = seg.groupBy("u", "seg_no").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.min_by("qx", F.struct(F.col("us"), F.col("tb"))).alias("qx0"),
        F.min_by("qy", F.struct(F.col("us"), F.col("tb"))).alias("qy0"),
    )
    return stays.filter(F.col("duration_us") >= min_duration_us).select(
        F.col("u").alias(user_col), "seg_no", "n_events", "start_us",
        "duration_us", "qx0", "qy0",
    )
