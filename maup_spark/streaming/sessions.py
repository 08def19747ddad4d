"""Custom stateful streaming: per-user event sessionization.

The brief's "custom stateful operators" surface: sessions are runs of
events per user separated by less than ``gap``; closed sessions emit
(user_id, session_start, session_end, n_events, value_sum).

Two implementations that MUST agree (tests/test_streaming_sessions.py):

- ``sessionize_batch``: lag/cumsum window formulation — one sort-based
  window + one aggregation, the batch/backfill path;
- ``streaming_sessionize``: ``applyInPandasWithState`` with EVENT-TIME
  timeouts — per-user state (start, last, n, sum) lives in the state
  store; a session closes either when a later event arrives past the
  gap (emitted immediately) or when the watermark passes
  last_ts + gap (timeout).  Exactly-once via checkpoint; late events
  beyond the watermark are dropped by the watermark, same as the
  windowed-aggregation surface.

State scale shape: state is O(active users), partitioned by the group
key across executors — no global structure anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .harness import run_available_now

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("sv", DoubleType()),
    ]
)


def sessionize_batch(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Batch twin: lag -> new-session flag -> cumulative session id ->
    grouped aggregation."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag(F.col("ts")).over(w)
    # ts may be TIMESTAMP_NTZ (parquet) — NTZ casts to epoch only via a
    # session-TZ timestamp hop (session TZ is pinned to UTC)
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev_epoch = prev.cast("timestamp").cast("long")
    new_sess = F.when(
        prev.isNull() | (epoch - prev_epoch > gap_seconds), 1
    ).otherwise(0)
    sess = (
        events.select("user_id", "ts", "value")
        .withColumn("__new", new_sess)
        .withColumn("__sid", F.sum("__new").over(w))
    )
    return sess.groupBy("user_id", "__sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("value_sum"),
    ).drop("__sid")


def _make_session_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key

        def emit(start_us, last_us, n, sv):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(last_us, unit="us")],
                    "n_events": [n],
                    "value_sum": [sv],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            state.remove()
            yield emit(start_us, last_us, n, sv)
            return

        rows = pd.concat(list(pdfs))
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()  # ns -> us
        order = ts_us.argsort(kind="stable")
        ts_us = ts_us[order]
        vals = rows["value"].to_numpy()[order]

        if state.exists:
            start_us, last_us, n, sv = state.get
        else:
            start_us = last_us = None
            n, sv = 0, 0.0

        out = []
        for t, v in zip(ts_us, vals):
            t = int(t)
            if start_us is None:
                start_us, last_us, n, sv = t, t, 1, float(v)
            elif t - last_us > gap_us:
                out.append(emit(start_us, last_us, n, sv))
                start_us, last_us, n, sv = t, t, 1, float(v)
            else:
                last_us = max(last_us, t)
                n += 1
                sv += float(v)
        state.update((start_us, last_us, n, sv))
        # close via event-time timeout when the watermark passes last+gap
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        for pdf in out:
            yield pdf

    return fn


def streaming_sessionize(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    ),
    gap_seconds: int = 1800,
    watermark: str = "1 minutes",
):
    """Stateful sessionization stream -> parquet sink of CLOSED sessions.
    Returns the StreamingQuery (caller awaits)."""
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: s.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        ),
        output_dir,
        files_per_trigger=1,
    )
