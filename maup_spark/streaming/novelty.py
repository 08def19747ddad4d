"""Streaming MinHash novelty filter — near-duplicate suppression at
ingest time.

The batch near-dup pipeline (``functions.dedup.minhash_lsh_pairs``)
compares a full corpus against itself; an ingestion stream instead asks
"is this page a near-duplicate of ANYTHING seen in the last horizon?".
Construction:

1. Per-row MinHash signature — the batch path's shingle explode +
   hash-agg is re-expressed as a stateless higher-order-function fold
   (``array_min(transform(shingles, ...))``), byte-identical to the
   aggregated signature (tested), so a streaming row needs no shuffle
   at all to be signed.
2. Explode the signature into its LSH band keys (same 4×2 split as the
   batch operator).
3. ``dropDuplicatesWithinWatermark`` on the band key: only the FIRST
   carrier of each band key within the watermark horizon survives.
   State is O(distinct band keys per horizon), evicted by event time.
4. A doc is NOVEL iff all of its band rows survived — i.e. none of its
   bands was seen before.  A doc sharing ≥1 band with any earlier doc
   (the LSH near-dup candidacy rule) is filtered.  The count runs in
   ``foreachBatch``: a doc's band rows are produced from one input row
   and always land in the same micro-batch, so a plain per-batch
   group-count is exact and adds no stateful-aggregation watermark
   delay.

Within one micro-batch, ``dropDuplicatesWithinWatermark`` keeps an
arbitrary first-encountered row per key (standard Spark semantics), so
cross-doc collisions INSIDE a batch resolve nondeterministically —
exactly like the batch operator's tie on identical timestamps.  The
batch twin therefore defines novelty by strict (ts, doc_id) first
arrival, which matches the stream whenever colliding docs arrive in
different batches (the test drives one file per trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import N_BANDS, N_MINHASH, SHINGLE
from ..functions.grams import gram_array_sql
from .harness import run_available_now


def minhash_sig_cols(text_col: str = "text") -> list:
    """The batch MinHash signature as stateless per-row columns: m_j =
    min over word-k-shingles of the 32-bit md5-substring hash (same
    hash family, same shingles as ``functions.dedup.minhash_signatures``
    — parity is pytest-gated)."""
    toks = f"split({text_col}, ' ')"
    sh = gram_array_sql(toks, SHINGLE)
    return [
        F.expr(
            f"array_min(transform({sh},"
            f" s -> CAST(conv(substr(md5(concat(s, '#{j // 4}')),"
            f" {8 * (j % 4) + 1}, 8), 16, 10) AS BIGINT)))"
        ).alias(f"m{j}")
        for j in range(N_MINHASH)
    ]


def band_keys_expr(text_col: str = "text") -> F.Column:
    """All four LSH band keys as ONE fused expression: shingle array →
    per-shingle array of 8 hashes (two md5 digests, computed once) →
    element-wise-min fold → band key strings.  A per-m_j formulation
    (``minhash_sig_cols``) rebuilds the shingle array and re-hashes
    every shingle for each of the 8 mins — CollapseProject inlines
    shared columns right back, so sharing has to happen INSIDE one
    expression tree (measured: novelty_docs 3.8 s → 0.6 s at sf0.1).
    Empty array for docs too short to shingle."""
    toks = f"split({text_col}, ' ')"
    sh = gram_array_sql(toks, SHINGLE)
    hashes = ", ".join(
        f"CAST(conv(substr(md5(concat(s, '#{j // 4}')), {8 * (j % 4) + 1}, 8),"
        " 16, 10) AS BIGINT)"
        for j in range(N_MINHASH)
    )
    hs = f"transform({sh}, s -> array({hashes}))"
    init = ", ".join(["CAST(NULL AS BIGINT)"] * N_MINHASH)
    ms = (
        f"aggregate({hs}, array({init}),"
        " (acc, x) -> zip_with(acc, x,"
        " (a, b) -> CASE WHEN a IS NULL OR b < a THEN b ELSE a END))"
    )
    # bind the fold result ONCE via a single-element-array lambda (a
    # "let": referencing {ms} twice inside the band lambda would
    # re-run the whole fold per element_at)
    return F.expr(
        f"CASE WHEN size({toks}) >= {SHINGLE} THEN"
        f" element_at(transform(array({ms}),"
        f" m -> transform(sequence(0, {N_BANDS - 1}),"
        " b -> concat(CAST(element_at(m, 2 * b + 1) AS STRING), '_',"
        " CAST(element_at(m, 2 * b + 2) AS STRING)))), 1)"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _band_rows(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ts, band, key): one row per LSH band; docs too short to
    shingle produce NO band rows (they are unconditionally novel)."""
    return docs.select(
        "doc_id", "ts", F.posexplode(band_keys_expr(text_col)).alias("band", "key")
    )


def _short_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.filter(F.size(F.split(F.col(text_col), " ")) < SHINGLE)


def novelty_batch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Batch twin: a doc is novel iff it is the strict first arrival
    (min ts, then min doc_id; a NULL ts ranks first, as ``ORDER BY ts``
    does) of EVERY one of its band keys.  Returns the novel (doc_id, ts)
    rows.

    Signatures come from the batch hash-agg (whole-stage-codegen md5,
    ~3× the throughput of the interpreted per-row HOF at 10^6 docs);
    the stream necessarily uses the stateless HOF expression — the two
    are byte-identical by construction and parity-gated in
    tests/test_streaming.py.

    One aggregation finds every band key's winner: ``min(struct(ts,
    doc_id))`` per (band, key) combines map-side before the exchange (a
    struct min has an immutable buffer, so Spark plans it as a
    sort-based aggregate, but still with the partial min first), so a
    hot band key (corpus-wide boilerplate) is reduced per partition
    instead of funneling its rows into one task.  Every signed doc has
    exactly ``N_BANDS`` distinct (band, key) rows, so a doc is novel iff
    it is the winner of ``N_BANDS`` groups — a count over the winners,
    with no window, no join back to the band rows and no cache."""
    from ..functions.dedup import minhash_signatures

    sigs = minhash_signatures(docs, text_col)
    signed = docs.select("doc_id", "ts").join(sigs, "doc_id")
    keys = F.array(
        *[
            F.concat_ws("_", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
            for b in range(N_BANDS)
        ]
    )
    bands = signed.select(
        F.struct("ts", "doc_id").alias("__a"),
        F.posexplode(keys).alias("band", "key"),
    )
    won = bands.groupBy("band", "key").agg(F.min("__a").alias("__w"))
    ok = (
        won.groupBy("__w")
        .count()
        .filter(F.col("count") == N_BANDS)
        .select("__w.doc_id", "__w.ts")
    )
    short = _short_docs(docs, text_col).select("doc_id", "ts")
    return ok.unionByName(short)


def streaming_novelty(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = "doc_id bigint, ts timestamp, text string",
    watermark: str = "1 hour",
    text_col: str = "text",
):
    """availableNow streaming novelty filter: emits the (doc_id, ts) of
    docs sharing no LSH band with anything seen within the watermark
    horizon.  Band-key state is evicted by event time; the per-doc
    band count runs in ``foreachBatch`` (exact — a doc's bands share
    its micro-batch), writing parquet per batch."""

    def first_band_carriers(stream: DataFrame) -> DataFrame:
        bands = _band_rows(stream, text_col).withWatermark("ts", watermark)
        survivors = bands.dropDuplicatesWithinWatermark(["band", "key"])
        short = _short_docs(stream, text_col).select(
            "doc_id", "ts", F.lit(-1).alias("band")
        )
        return survivors.select("doc_id", "ts", "band").unionByName(short)

    def emit(batch: DataFrame, batch_id: int) -> None:
        novel = (
            batch.filter(F.col("band") >= 0)
            .groupBy("doc_id", "ts")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") == N_BANDS)
            .select("doc_id", "ts")
        )
        # short docs carry the band=-1 marker (one row, no LSH state):
        # nothing to collide on, unconditionally novel
        novel_short = (
            batch.filter(F.col("band") == -1).select("doc_id", "ts").distinct()
        )
        novel.unionByName(novel_short).write.mode("append").parquet(output_dir)

    return run_available_now(
        spark, source_dir, schema, checkpoint_dir, first_band_carriers, emit,
        files_per_trigger=1,
    )
