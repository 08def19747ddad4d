"""Structured-Streaming ingest: continuous page arrival → point
extraction → district assignment → windowed rollups.

The reference is strictly batch (no streaming surface anywhere in
/root/reference/maup); this module is the web-scale ingest edge the
graft adds: a stream over the pages landing zone, the same
deterministic entity extraction used in batch (pure JVM expressions),
and per-microbatch assignment via ``foreachBatch`` — which reuses the
*batch* ``assign_points`` operator verbatim, so streaming and batch
answers cannot drift.  Watermarked event-time windows aggregate late
arrivals; checkpointLocation gives exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import entity_points
from .harness import run_available_now


def streaming_assign_counts(
    spark: SparkSession,
    source_dir: str,
    districts: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = "doc_id bigint, text string, lang string, source string, n_chars bigint",
    target_bounds: tuple | None = None,
):
    """Per-microbatch assignment + per-district counts appended to a
    parquet sink.  Returns the StreamingQuery (caller awaits)."""
    from ..operators.assign import assign_points

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = assign_points(
            batch_df,
            districts,
            point_id="entity_id",
            target_bounds=target_bounds,
        )
        (
            assigned.groupBy("district_id")
            .agg(F.count("*").alias("n_points"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_dir)
        )

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, entity_points, handle_batch
    )


def streaming_windowed_events(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    ),
    watermark: str = "2 hours",
    window: str = "1 hour",
):
    """Watermarked event-time tumbling-window aggregation over an event
    stream — the engine's late-data surface.  Append mode: a window is
    emitted once the watermark passes it (exactly-once via checkpoint).
    """
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events"),
        output_dir,
    )
