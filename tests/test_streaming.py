"""Streaming ingest parity: the availableNow streaming pipeline must
produce exactly the batch answer (it reuses the batch operator per
microbatch)."""

import shutil

import pytest


def test_streaming_assign_matches_batch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from maup_spark import datagen as D
    from maup_spark.operators.assign import assign_points
    from maup_spark.streaming.assign_stream import streaming_assign_counts

    src = str(tmp_path / "landing")
    shutil.copytree(sf_dir, src, ignore=shutil.ignore_patterns("*"))
    # stage the documents file into the landing zone
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/part-0.parquet")

    districts = D.districts(spark)
    q = streaming_assign_counts(
        spark,
        src,
        districts,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
        target_bounds=("dxmin", "dymin", "dxmax", "dymax"),
    )
    q.awaitTermination(240)

    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .groupBy("district_id")
        .agg(F.sum("n_points").alias("n_points"))
    )
    want = (
        assign_points(
            D.points(spark, sf_dir),
            districts,
            point_id="entity_id",
            target_bounds=("dxmin", "dymin", "dxmax", "dymax"),
        )
        .groupBy("district_id")
        .agg(F.count("*").alias("n_points"))
    )
    g = {r["district_id"]: r["n_points"] for r in got.collect()}
    w = {r["district_id"]: r["n_points"] for r in want.collect()}
    assert g == w


def test_streaming_windowed_events_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked tumbling windows (append mode): closed windows match
    the batch aggregation exactly."""
    import shutil

    from pyspark.sql import functions as F

    from maup_spark.streaming.assign_stream import streaming_windowed_events

    src = str(tmp_path / "ev")
    shutil.copytree(sf_dir, src, ignore=shutil.ignore_patterns("*"))
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/part-0.parquet")

    q = streaming_windowed_events(
        spark, src,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
    )
    q.awaitTermination(240)

    got = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )
    want = {(r["win_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    # append mode holds back windows newer than the watermark; everything
    # emitted must match batch, and most windows must have been emitted
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) - 10  # only the tail can be held back


def test_lsh_bucket_cap(spark, sf_dir):
    from maup_spark.functions.dedup import minhash_lsh_pairs
    from maup_spark.queries import _corpus

    corpus = _corpus(spark, sf_dir)
    uncapped = minhash_lsh_pairs(corpus).count()
    capped = minhash_lsh_pairs(corpus, max_bucket=50).count()
    assert capped <= uncapped
    assert capped > 0  # duplicate pairs live in small buckets -> survive


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): every
    fingerprint survives exactly once and the surviving fingerprint set
    equals the batch twin's; state is bounded by the watermark horizon,
    not corpus size (which representative survives is arrival-order
    business in both engines, so the gate compares fingerprint sets)."""
    from pyspark.sql import functions as F

    from maup_spark.streaming.twins import dedup_batch, streaming_dedup

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        # every 3rd doc duplicates the previous one's text
        "concat('text-', CAST(CASE WHEN id % 3 = 2 THEN id - 1 ELSE id END AS STRING)) AS text",
    )
    src = str(tmp_path / "ddsrc")
    docs.repartition(4).write.parquet(src)

    q = streaming_dedup(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "ddckpt"),
        output_dir=str(tmp_path / "ddout"),
        watermark="10 minutes",
    )
    q.awaitTermination(240)

    got = spark.read.parquet(str(tmp_path / "ddout"))
    want = dedup_batch(docs)
    got_fp = [r["fingerprint"] for r in got.select("fingerprint").collect()]
    want_fp = {r["fingerprint"] for r in want.collect()}
    assert len(got_fp) == len(set(got_fp))  # exactly once each
    assert set(got_fp) == want_fp
    assert got.count() == 200  # 100 dup fingerprints removed


def test_minhash_hof_matches_agg(spark, sf_dir):
    """The stateless per-row HOF signature (streaming path) is
    byte-identical to the batch explode+hash-agg signature."""
    from maup_spark.functions.dedup import minhash_signatures
    from maup_spark.queries import _corpus
    from maup_spark.streaming.novelty import minhash_sig_cols

    docs = _corpus(spark, sf_dir)
    want = {r["doc_id"]: tuple(r[f"m{j}"] for j in range(8))
            for r in minhash_signatures(docs).collect()}
    hof = docs.select("doc_id", *minhash_sig_cols()).collect()
    got = {r["doc_id"]: tuple(r[f"m{j}"] for j in range(8))
           for r in hof if r["m0"] is not None}
    assert got == want


def test_streaming_novelty_matches_batch(spark, tmp_path):
    """Streaming LSH novelty filter == batch twin when colliding docs
    arrive in different micro-batches (one file per trigger, files in
    ts order).  Even ids >= 10 copy the text of id-10 (seen one file
    earlier -> filtered); id 13 and 33 are one-token docs (no shingle,
    no bands -> unconditionally novel)."""
    from pyspark.sql import functions as F

    from maup_spark.streaming.novelty import novelty_batch, streaming_novelty

    # even ids copy the text of (id % 10) — the file-0 original — so
    # every even doc in files 1-5 collides with a band key seen in an
    # earlier micro-batch; odd ids have unique text
    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        """CASE WHEN id IN (13, 33) THEN 'tiny'
                ELSE array_join(transform(sequence(1, 10),
                    k -> md5(concat(CAST(CASE WHEN id % 2 = 0 THEN id % 10 ELSE id END AS STRING), '-', CAST(k AS STRING)))), ' ')
           END AS text""",
    )
    src = str(tmp_path / "nvsrc")
    import os

    os.makedirs(src)
    for k in range(6):  # file k = ids [10k, 10k+10), written in order
        part = docs.filter((F.col("doc_id") >= 10 * k) & (F.col("doc_id") < 10 * (k + 1)))
        part.coalesce(1).write.mode("append").parquet(src)

    q = streaming_novelty(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "nvckpt"),
        output_dir=str(tmp_path / "nvout"),
        watermark="30 minutes",
    )
    q.awaitTermination(240)

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "nvout")).collect()}
    want = {r["doc_id"] for r in novelty_batch(docs).collect()}
    assert got == want
    # structural expectations: originals novel, later even copies are not
    assert {0, 2, 4, 6, 8}.issubset(got)
    assert not any(i in got for i in range(10, 60) if i % 2 == 0 and i not in (13, 33))
    assert {13, 33}.issubset(got)  # short docs: no bands, always novel
    assert all(i in got for i in range(60) if i % 2 == 1 and i not in (13, 33))


def _novelty_input(spark, sf_dir, shape):
    from pyspark.sql import functions as F

    from maup_spark.queries import _corpus

    if shape == "ts_mod97":  # many ts ties, broken by doc_id
        return _corpus(spark, sf_dir).withColumn("ts", F.col("doc_id") % 97)
    if shape == "null_ts":  # every 5th ts value NULL: it ranks first
        ts = F.col("doc_id") % 97
        return _corpus(spark, sf_dir).withColumn("ts", F.when(ts % 5 != 0, ts))
    # hot_band: thousands of docs share one shingle set, so four band
    # keys each hold 90% of the rows
    boiler = "the same cookie banner text appears on every single page"
    return spark.range(8000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("ts"),
        F.when(F.col("id") % 10 < 9, F.lit(boiler))
        .otherwise(F.concat(F.lit("unique page body "), F.col("id"),
                            F.lit(" with distinct words and padding")))
        .alias("text"),
    )


@pytest.mark.parametrize("shape", ["ts_mod97", "null_ts", "hot_band"])
def test_novelty_batch_matches_first_arrival_reference(spark, sf_dir, shape):
    """novelty_batch == a pure-Python strict first-arrival reference over
    the same band keys: a doc is novel iff it is the minimum (ts,
    doc_id) — NULL ts first — of every one of its (band, key) groups;
    docs too short to shingle are always novel."""
    from maup_spark.streaming.novelty import _band_rows, _short_docs, novelty_batch

    docs = _novelty_input(spark, sf_dir, shape)
    first, bands_of = {}, {}
    for r in _band_rows(docs).collect():
        bk, rank = (r["band"], r["key"]), (r["ts"] is not None, r["ts"] or 0, r["doc_id"])
        first[bk] = min(first.get(bk, rank), rank)
        bands_of.setdefault((r["doc_id"], r["ts"]), []).append(bk)
    want = {d for d, bks in bands_of.items() if all(first[bk][2] == d[0] for bk in bks)}
    want |= {(r["doc_id"], r["ts"]) for r in _short_docs(docs).collect()}

    got = [(r["doc_id"], r["ts"]) for r in novelty_batch(docs).collect()]
    assert sorted(got, key=str) == sorted(want, key=str) and want


def test_novelty_batch_leaves_no_cache(spark, sf_dir, cache_entries):
    from maup_spark.streaming.novelty import novelty_batch

    # from an empty cache: a leak evicted by the next call still shows
    spark.catalog.clearCache()
    before = cache_entries()
    assert novelty_batch(_novelty_input(spark, sf_dir, "ts_mod97")).count() > 0
    assert cache_entries() == before


def test_streaming_profile_merges_to_batch_exact(spark, tmp_path):
    """Per-micro-batch sketch profiles merged at read == the one-shot
    profile of everything ingested (counts exact, distincts within
    sketch tolerance); no rescan of the data."""
    import os

    from pyspark.sql import functions as F

    from maup_spark.streaming.twins import read_merged_profile, streaming_profile

    src = str(tmp_path / "src")
    os.makedirs(src)
    # three "days" of 400 docs with overlapping doc_id ranges
    for d in range(3):
        spark.range(d * 300, d * 300 + 400).select(
            F.col("id").alias("doc_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
            F.concat(F.lit("text "), F.col("id")).alias("text"),
        ).coalesce(1).write.mode("append").parquet(src)

    q = streaming_profile(
        spark, src, str(tmp_path / "ckpt"), str(tmp_path / "prof")
    )
    q.awaitTermination(120)
    merged = {
        r["column"]: r
        for r in read_merged_profile(spark, str(tmp_path / "prof")).collect()
    }
    assert merged["doc_id"]["n_rows"] == 1200          # rows add
    assert merged["doc_id"]["n_nulls"] == 0
    # 0..999 distinct ids across overlapping days: union, not sum
    est = merged["doc_id"]["n_distinct_est"]
    assert abs(est - 1000) / 1000 < 0.05
    est_t = merged["text"]["n_distinct_est"]
    assert abs(est_t - 1000) / 1000 < 0.05
