"""Stateless and watermark-deduplicating streaming twins — the
ingestion-side twins of ``functions.*`` batch operators.

Each twin reuses the exact batch operator on the stream and runs through
``run_available_now``: exactly-once delivery comes from the checkpoint.

Pure per-row projections (``streaming_extract_text`` — the decode +
regexp_replace chain of ``extract_text``; ``streaming_pii_scrub`` —
regexp counts + chained replaces) need NO foreachBatch, no state store
and no watermark: the batch operator composes directly onto the
streaming DataFrame and rides the parquet sink with exactly-once file
commits, so each micro-batch's output is byte-identical to the batch
path by construction (same plan).  This is the ideal Structured
Streaming operator class.  Extraction is the crawl front door at scale:
WARC-derived page files land continuously.

Static-side filters (``streaming_decontaminate``,
``streaming_lm_filter``, ``streaming_dsir_filter``) score each
micro-batch in ``foreachBatch`` against a table that is STATIC relative
to the stream: benchmark grams (an eval suite changes by release, not by
micro-batch), an LM vocab (trained on a reference corpus, refreshed by
release) or DSIR ratio models (fit on reference corpora, not on the
arriving batch).  The filters are stateless: a doc's grams and tokens
live entirely inside its own row, so no cross-batch state is needed.
The static table is bounded (<= ``max_vocab`` vocab rows, <=
``n_buckets`` ratio rows, one benchmark's grams), so it is computed once
(``localCheckpoint``: lineage cut, no CacheManager entry left behind)
and broadcast every micro-batch instead of recomputed.  The DSIR twin thresholds on the ABSOLUTE score — a
per-batch top-K would make survival depend on batch boundaries; pick
``min_score`` from a batch ``dsir_select`` run on a sample.

Watermark dedups (``streaming_dedup`` — content fingerprint;
``streaming_crawl_dedup`` — canonical URL): a Common-Crawl-style ingest
sees the same page repeatedly (recrawls, mirrors, utm-tagged links,
www/non-www, trailing slashes), and the batch dedups' full-corpus
aggregation is the wrong shape for an unbounded stream.
``dropDuplicatesWithinWatermark`` keeps key state only for the watermark
horizon: a duplicate arriving within the horizon is dropped exactly once
per key, state is evicted as event time advances, and state stays
O(distinct keys per horizon), never O(corpus).  URL canonicalization
runs per row (stateless, codegen).  Batch/stream parity compares key
sets: which representative row survives is arrival-order business in
the stream, (ts, doc_id) order in batch.

``streaming_profile`` pushes the cross-day story of ``functions.profile``
(per-batch profiles merge via sketch union, SURVEY §8.2) to the
ingestion edge: each micro-batch appends ONE sketch-profile row set (a
few KiB) to a profile log, and ``read_merged_profile`` unions the log
into the corpus-level profile.  Row/null counts add exactly, distinct
counts union through the HLL sketches — nothing ever rescans the
ingested data, and the log is itself a tiny parquet table a QA system
can diff between any two points in time (each row carries its
``batch_id``).  The streaming engine holds no state: each batch's write
overwrites its own ``batch_id`` partition, so a checkpoint replay
overwrites rather than double-counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dsir import DEFAULT_BUCKETS, dsir_score
from ..functions.lm import lm_score
from ..functions.profile import merge_profiles, profile_table_sketch
from ..functions.webtext import (
    benchmark_grams,
    canonicalize_url,
    contamination_check,
    extract_text,
    pii_scrub,
)
from .harness import run_available_now

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def streaming_extract_text(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = PAGES_SCHEMA,
    html_col: str = "html",
):
    """availableNow streaming extraction over page files: emit
    (url, warc_ts, lang, text_extracted) per page."""
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: extract_text(s, html_col=html_col).select(
            "url", "warc_ts", "lang", "text_extracted"
        ),
        output_dir,
    )


def streaming_pii_scrub(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = "doc_id bigint, text string",
    text_col: str = "text",
):
    """availableNow streaming redaction: emit every doc with its
    redacted text and per-class PII match counts."""
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: pii_scrub(s, text_col=text_col).select(
            "doc_id",
            F.col("clean_text").alias(text_col),
            "n_email",
            "n_phone",
            "n_ipv4",
        ),
        output_dir,
    )


def streaming_crawl_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary",
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
):
    """availableNow streaming crawl dedup (twin of
    ``functions.webtext.url_dedup``): emit each canonical URL's first
    arrival, drop recrawls within the watermark horizon."""
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: canonicalize_url(s)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["canon_url"]),
        output_dir,
    )


def fingerprinted(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint column shared by the batch and stream twins."""
    return docs.withColumn("fingerprint", F.md5(F.col(text_col)))


def dedup_batch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Batch twin of ``streaming_dedup``: first row (smallest ts, then
    doc_id) per fingerprint — the exact set the stream emits when every
    duplicate arrives within the watermark horizon.

    Each fingerprint's winner comes from a hash aggregation
    (``min(struct(ts, doc_id))`` — mutable buffer, map-side partial
    combine) joined back on the winner keys: a boilerplate page
    duplicated 10^7× across a web crawl combines map-side instead of
    funneling every copy into one window task (the same hot-key class
    fixed in substring_dedup/novelty; AQE can split skewed join
    partitions but never window partitions)."""
    fp = fingerprinted(docs, text_col)
    winners = fp.groupBy("fingerprint").agg(
        F.min(F.struct("ts", "doc_id")).alias("__w")
    )
    return (
        fp.join(winners, "fingerprint")
        # null-safe: a NULL ts ranks first and may be the winner's ts
        .filter(
            F.col("ts").eqNullSafe(F.col("__w.ts"))
            & (F.col("doc_id") == F.col("__w.doc_id"))
        )
        .drop("__w")
        .select(*fp.columns)
    )


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = "doc_id bigint, ts timestamp, text string",
    watermark: str = "1 hour",
    text_col: str = "text",
):
    """availableNow streaming exact dedup (twin of
    ``functions.dedup.exact_dedup``): emit each fingerprint's first
    arrival, drop duplicates within the watermark horizon."""
    return run_available_now(
        spark, source_dir, schema, checkpoint_dir,
        lambda s: fingerprinted(s, text_col)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"]),
        output_dir,
    )


def streaming_decontaminate(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    bench_docs: DataFrame,
    schema: str = "doc_id bigint, ts timestamp, text string",
    tau: float = 0.5,
    n: int = 8,
    text_col: str = "text",
):
    """availableNow streaming decontamination (twin of
    ``functions.webtext.contamination_check``): drop docs whose distinct
    n-gram overlap with ``bench_docs`` reaches ``tau``; pass the rest
    through unchanged."""
    grams = benchmark_grams(bench_docs, text_col=text_col, n=n).localCheckpoint()

    def emit(batch: DataFrame, batch_id: int) -> None:
        leaked = (
            contamination_check(batch, bench_grams=grams, text_col=text_col, n=n)
            .filter(F.col("contamination") >= tau)
            .select("doc_id")
        )
        clean = batch.join(leaked, "doc_id", "left_anti")
        clean.write.mode("append").parquet(output_dir)

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, lambda s: s, emit
    )


def streaming_lm_filter(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    lm: DataFrame,
    keep_buckets: tuple = ("head", "middle"),
    schema: str = "doc_id bigint, ts timestamp, text string",
    text_col: str = "text",
):
    """availableNow streaming LM filter (twin of ``functions.lm.lm_score``,
    the CCNet keep-head/middle perplexity rule): keep docs whose integer
    familiarity bucket (vs the static ``lm_train`` table) is in
    ``keep_buckets`` — the CCNet rule drops the tail (OOV/rare-token
    junk and non-target-language pages)."""
    lm = lm.localCheckpoint()

    def emit(batch: DataFrame, batch_id: int) -> None:
        keep = (
            lm_score(batch, lm, text_col=text_col)
            .filter(F.col("bucket").isin(*keep_buckets))
            .select("doc_id")
        )
        batch.join(keep, "doc_id", "left_semi").write.mode("append").parquet(
            output_dir
        )

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, lambda s: s, emit
    )


def streaming_dsir_filter(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    ratio: DataFrame,
    min_score: int,
    n_buckets: int = DEFAULT_BUCKETS,
    schema: str = "doc_id bigint, ts timestamp, text string",
    text_col: str = "text",
):
    """availableNow streaming DSIR filter (twin of
    ``functions.dsir.dsir_score``): keep docs whose integer importance
    score (vs the static ``dsir_ratio`` table, same ``n_buckets``) is
    >= ``min_score``; drop the rest."""
    ratio = ratio.localCheckpoint()

    def emit(batch: DataFrame, batch_id: int) -> None:
        keep = (
            dsir_score(batch, ratio, n_buckets=n_buckets, text_col=text_col)
            .filter(F.col("score") >= min_score)
            .select("doc_id")
        )
        batch.join(keep, "doc_id", "left_semi").write.mode("append").parquet(
            output_dir
        )

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, lambda s: s, emit
    )


def streaming_profile(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    profile_dir: str,
    schema: str = "doc_id bigint, ts timestamp, text string",
    columns: list | None = None,
):
    """availableNow stream: append each micro-batch's sketch profile to
    ``profile_dir`` (partitioned by batch_id for idempotent replay)."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        prof = profile_table_sketch(batch, columns=columns).withColumn(
            "batch_id", F.lit(batch_id)
        )
        # dynamic partition overwrite per batch_id: a checkpoint replay
        # of the same micro-batch overwrites its own rows (idempotent)
        prof.write.mode("overwrite").partitionBy("batch_id").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(profile_dir)

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, lambda s: s, emit,
        files_per_trigger=1,
    )


def read_merged_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """Union the per-batch profile log into the corpus-level profile
    (counts add, sketches union) — never touches the ingested data."""
    return merge_profiles(spark.read.parquet(profile_dir))
