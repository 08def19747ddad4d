"""The one availableNow reader/writer every streaming twin runs through.

A twin is a transform of the streaming DataFrame plus a sink; the parquet
landing-zone read, the checkpoint (exactly-once delivery) and the
``availableNow`` trigger (drain what has landed, then stop) live here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def run_available_now(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    sink: str | Callable[[DataFrame, int], None],
    files_per_trigger: int = 4,
) -> StreamingQuery:
    """Stream the parquet files under ``source_dir`` through ``transform``
    into ``sink`` and return the started query (the caller awaits it).

    ``sink`` is an output directory (append-mode parquet file sink) or a
    ``(batch, batch_id)`` callable run on every micro-batch via
    ``foreachBatch``.  ``files_per_trigger`` fixes the micro-batch
    boundaries, which watermark-driven results depend on."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(source_dir)
    )
    writer = transform(stream).writeStream
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
