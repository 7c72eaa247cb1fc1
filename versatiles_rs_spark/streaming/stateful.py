"""Custom stateful streaming operator: running per-tile statistics with
applyInPandasWithState.

The reference has no unbounded-state operators (SURVEY.md §2.11); this is
the engine's extension for live crawl feeds: per tile key, maintain
(count, sum_value, distinct-user sketch) across micro-batches. State is an
explicit tuple per key — survives across triggers, times out after
inactivity (NoTimeout here; swap in ProcessingTimeTimeout + setTimeoutDuration for
session-expiry semantics), and emits one updated row per touched key per
batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from versatiles_rs_spark.tile_math.coords import lonlat_to_tile_cols

_OUT_SCHEMA = StructType(
    [
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
        StructField("n_users_approx", IntegerType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
        StructField("user_bits", LongType()),  # 64-bit user presence sketch
    ]
)


def _update_tile_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, vsum, bits = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
        for uid in pdf["user_id"]:
            bits |= 1 << (hash(int(uid)) % 64)
    state.update((n, float(vsum), int(bits)))
    yield pd.DataFrame(
        {
            "x": [key[0]],
            "y": [key[1]],
            "n_events": [n],
            "value_sum": [round(vsum, 6)],
            "n_users_approx": [bin(bits).count("1")],
        }
    )


def streaming_stateful_tile_stats(points_stream: DataFrame, zoom: int) -> DataFrame:
    """Running per-tile (count, value sum, approx distinct users) maintained
    in explicit group state across micro-batches."""
    x, y = lonlat_to_tile_cols("lon", "lat", zoom)
    keyed = points_stream.withColumn("x", x).withColumn("y", y)
    return keyed.groupBy("x", "y").applyInPandasWithState(
        _update_tile_state,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hll_registers(
    events_stream: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    p: int = 7,
) -> DataFrame:
    """Streaming maintenance of the mergeable HLL sketch
    (functions/sketches.hll_registers): the register relation updated
    per micro-batch. Because the sketch build is itself a groupBy-max,
    Structured Streaming's stateful aggregation IS the merge law —
    state per (group, bucket) is one int (the running max rho), bounded
    by sketch geometry at any stream length, and the complete-mode
    output equals the batch sketch over everything seen (pytest-pinned).
    """
    from versatiles_rs_spark.functions.sketches import _hash60

    m = 1 << p
    h = _hash60(F.col(value_col))
    w = F.shiftright(h, p)
    rho = F.when(
        w > 0, F.lit(60 - p + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(60 - p + 1))
    return (
        events_stream.select(
            F.col(group_col).alias("g"), (h % F.lit(m)).alias("bucket"), rho.alias("rho")
        )
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_no", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
    ]
)

_SESS_STATE = StructType(
    [
        StructField("session_no", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def streaming_sessionize(
    events_stream: DataFrame, gap_minutes: float = 30.0
) -> DataFrame:
    """Gap-based sessionization as a stateful streaming operator — the
    streaming twin of operators/sessions.sessionize. Per user, the open
    session lives in explicit group state across micro-batches; a
    session is EMITTED (append semantics) when a later event arrives
    past the gap, exactly the batch operator's boundary rule, so emitted
    sessions equal the batch operator's non-final sessions per user
    regardless of how the stream is chunked (provided chunks arrive in
    event-time order — the file-stream contract here; out-of-order
    feeds need a watermark + buffer in front, documented not hidden).

    The last open session per user stays in state (it may still grow) —
    readers wanting it flushed can send a sentinel/end-of-stream event
    per user, the standard pattern.

    State is one 4-int tuple per ACTIVE user — bounded by the live-user
    set, not the event log; at 100 TB feed scale the shuffle is the
    single groupBy(user) hash exchange every stateful operator pays.
    """
    gap_us = int(gap_minutes * 60 * 1_000_000)

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            session_no, start_us, last_us, n_events = state.get
        else:
            session_no, start_us, last_us, n_events = 0, None, None, 0
        closed: list[tuple] = []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"], ignore_index=True)
        for us in rows["us"].astype("int64"):
            us = int(us)
            if start_us is None:
                session_no += 1
                start_us, last_us, n_events = us, us, 1
            elif us - last_us > gap_us:
                closed.append((key[0], session_no, n_events, start_us, last_us))
                session_no += 1
                start_us, last_us, n_events = us, us, 1
            else:
                last_us = us
                n_events += 1
        state.update((session_no, start_us, last_us, n_events))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_no", "n_events", "start_us", "end_us"],
            )

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    keyed = events_stream.select(
        F.col("user_id"), us.alias("us"), F.col("event_id")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
