"""Web-crawl hygiene operators: URL canonicalization/dedup, host
stats, contamination detection, deterministic upsampling.

Closed-form cases hand-checked; determinism probed by re-running at a
different partitioning.  The reference has no web surface — these are
north_star extensions over the pages (url, warc_ts, ...) schema.
"""

import pytest
from pyspark.sql import functions as F

from maup_spark.functions.webtext import (
    benchmark_grams,
    canonicalize_url,
    contamination_check,
    host_stats,
    upsample_by_source,
    url_dedup,
)


def _canon(spark, url):
    df = spark.createDataFrame([(url,)], "url string")
    return canonicalize_url(df).select("canon_url").first()[0]


class TestCanonicalizeUrl:
    def test_tracking_params_stripped_and_sorted(self, spark):
        assert (
            _canon(spark, "https://Ex.com/p?b=2&utm_source=x&a=1&fbclid=zz")
            == "https://ex.com/p?a=1&b=2"
        )

    def test_www_fragment_port_slash(self, spark):
        assert (
            _canon(spark, "HTTPS://WWW.Example.COM:443/Path/#frag")
            == "https://example.com/Path"
        )
        assert _canon(spark, "http://www.a.org:80/") == "http://a.org"

    def test_path_case_preserved(self, spark):
        assert _canon(spark, "https://A.com/CaseSensitive") == "https://a.com/CaseSensitive"

    def test_empty_query_dropped(self, spark):
        assert _canon(spark, "https://a.com/p?utm_campaign=x") == "https://a.com/p"

    def test_variants_collide(self, spark):
        variants = [
            "https://example.com/doc/7",
            "https://www.example.com/doc/7",
            "https://example.com/doc/7/",
            "https://example.com/doc/7?utm_source=feed&ref=rss",
            "https://EXAMPLE.com/doc/7#section",
        ]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        canon = canonicalize_url(df).select("canon_url").distinct().collect()
        assert len(canon) == 1
        assert canon[0][0] == "https://example.com/doc/7"


class TestUrlDedup:
    def test_earliest_crawl_wins(self, spark):
        rows = [
            ("https://a.com/x?utm_source=s", "2024-01-02 00:00:00"),
            ("https://www.a.com/x", "2024-01-01 00:00:00"),
            ("https://a.com/x/", "2024-01-03 00:00:00"),
            ("https://b.com/y", "2024-01-05 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "url string, ts string").select(
            "url", F.col("ts").cast("timestamp").alias("warc_ts")
        )
        out = {r["canon_url"]: r for r in url_dedup(df).collect()}
        assert len(out) == 2
        a = out["https://a.com/x"]
        assert a["url"] == "https://www.a.com/x"
        assert a["n_crawls"] == 3
        assert out["https://b.com/y"]["n_crawls"] == 1

    def test_numeric_twin_parity(self, spark):
        rows = [
            ("https://a.com/x?utm_source=s", "2024-01-02 00:00:00"),
            ("https://www.a.com/x", "2024-01-01 00:00:00"),
            ("https://b.com/y", "2024-01-05 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "url string, ts string").select(
            "url", F.col("ts").cast("timestamp").alias("warc_ts")
        )
        full = url_dedup(df)
        numeric = url_dedup(df, keep_url=False)
        assert sorted(map(tuple, full.drop("url").collect())) == sorted(
            map(tuple, numeric.select("canon_url", "warc_ts", "n_crawls").collect())
        )

    def test_tie_breaks_on_raw_url(self, spark):
        rows = [
            ("https://a.com/x", "2024-01-01 00:00:00"),
            ("https://www.a.com/x", "2024-01-01 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "url string, ts string").select(
            "url", F.col("ts").cast("timestamp").alias("warc_ts")
        )
        assert url_dedup(df).first()["url"] == "https://a.com/x"


class TestHostStats:
    def test_counts_and_topn(self, spark):
        rows = [
            ("https://big.com/1", "aaaa", "en"),
            ("https://www.big.com/2", "bb", "fr"),
            ("https://big.com/3", "c", "en"),
            ("https://small.org/1", "dd", "en"),
        ]
        df = spark.createDataFrame(rows, "url string, text string, lang string")
        out = host_stats(df, top_n=1).collect()
        assert len(out) == 1
        r = out[0]
        assert r["host"] == "big.com"
        assert r["n_pages"] == 3
        assert r["total_chars"] == 7
        assert r["n_langs"] == 2

    def test_topn_order_deterministic_on_ties(self, spark):
        rows = [(f"https://h{i}.com/p", "x", "en") for i in range(4)]
        df = spark.createDataFrame(rows, "url string, text string, lang string")
        out = [r["host"] for r in host_stats(df, top_n=3).collect()]
        assert out == ["h0.com", "h1.com", "h2.com"]


class TestContamination:
    def test_exact_leak_flagged(self, spark):
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        )
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),          # full leak
                (2, "alpha beta gamma epsilon zeta"),   # partial prefix overlap
                (3, "totally unrelated words here"),    # clean
                (4, "ab"),                              # shorter than n -> no grams
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in contamination_check(docs, bench, n=3).collect()}
        assert out[1]["contamination"] == 1.0 and out[1]["n_grams"] == 2
        # doc 2 grams: (alpha beta gamma) hit, (beta gamma epsilon),
        # (gamma epsilon zeta) miss
        assert out[2]["n_matched"] == 1 and out[2]["n_grams"] == 3
        assert out[3]["n_matched"] == 0
        assert 4 not in out  # no grams -> no row

    def test_repeated_gram_counted_once(self, spark):
        bench = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        docs = spark.createDataFrame([(1, "a b c a b c a b c")], "doc_id long, text string")
        r = contamination_check(docs, bench, n=3).first()
        # distinct grams of doc 1: {a b c, b c a, c a b} -> 1 of 3 matched
        assert r["n_grams"] == 3 and r["n_matched"] == 1

    def test_benchmark_grams_distinct(self, spark):
        bench = spark.createDataFrame(
            [(0, "x y z"), (1, "x y z")], "doc_id long, text string"
        )
        assert benchmark_grams(bench, n=3).count() == 1


class TestUpsample:
    def test_integer_weights_exact(self, spark):
        docs = spark.createDataFrame(
            [(i, "s0" if i < 10 else "s1") for i in range(20)],
            "doc_id long, source string",
        )
        out = upsample_by_source(docs, {"s0": 3.0, "s1": 1.0})
        counts = dict(
            out.groupBy("source").count().collect()
        )
        counts = {r: c for r, c in counts.items()}
        assert counts["s0"] == 30 and counts["s1"] == 10

    def test_zero_weight_drops(self, spark):
        docs = spark.createDataFrame([(1, "bad"), (2, "good")], "doc_id long, source string")
        out = upsample_by_source(docs, {"bad": 0.0, "good": 1.0}).collect()
        assert [r["doc_id"] for r in out] == [2]

    def test_fractional_weight_expected_rate(self, spark):
        docs = spark.createDataFrame(
            [(i, "s") for i in range(2000)], "doc_id long, source string"
        )
        n = upsample_by_source(docs, {"s": 1.5}).count()
        # u(id) < 0.5 for ~half the ids: binomial(2000, .5) + 2000
        assert 2850 <= n <= 3150

    def test_deterministic_across_parallelism(self, spark):
        docs = spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
        )
        w = {"s0": 2.25, "s1": 0.5, "s2": 1.0}
        a = sorted(map(tuple, upsample_by_source(docs, w).collect()))
        b = sorted(map(tuple, upsample_by_source(docs.repartition(13), w).collect()))
        assert a == b

    def test_copy_idx_contiguous(self, spark):
        docs = spark.createDataFrame([(1, "s")], "doc_id long, source string")
        idx = sorted(
            r["copy_idx"] for r in upsample_by_source(docs, {"s": 4.0}).collect()
        )
        assert idx == [1, 2, 3, 4]


def test_streaming_crawl_dedup_matches_batch(spark, tmp_path):
    """Streaming crawl dedup (canonicalize + dropDuplicatesWithinWatermark):
    every canonical URL survives exactly once and the surviving canonical
    set equals the batch twin's (url_dedup); which raw-url representative
    survives is arrival-order business in the stream."""
    from maup_spark.streaming.twins import streaming_crawl_dedup

    crawl = spark.range(300).selectExpr(
        "CASE WHEN id % 3 = 0"
        "  THEN concat('https://www.site-', CAST(id % 50 AS STRING),"
        "              '.com/p?utm_source=s', CAST(id AS STRING))"
        "  ELSE concat('https://site-', CAST(id % 50 AS STRING), '.com/p')"
        " END AS url",
        "timestamp_seconds(1704067200 + id * 60) AS warc_ts",
        "CAST(NULL AS BINARY) AS html",
    )
    src = str(tmp_path / "crawlsrc")
    crawl.repartition(4).write.parquet(src)

    q = streaming_crawl_dedup(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "crawlckpt"),
        output_dir=str(tmp_path / "crawlout"),
        watermark="10 minutes",
    )
    q.awaitTermination(240)

    got = spark.read.parquet(str(tmp_path / "crawlout"))
    want = url_dedup(crawl, ts_col="warc_ts")
    got_canon = [r["canon_url"] for r in got.select("canon_url").collect()]
    want_canon = {r["canon_url"] for r in want.collect()}
    assert len(got_canon) == len(set(got_canon))  # exactly once each
    assert set(got_canon) == want_canon
    assert got.count() == 50  # 50 logical pages behind 300 crawl rows


class TestPackShards:
    def test_closed_form(self, spark):
        # docs of 3, 5, 4, 10, 2 tokens; K=8 -> starts 0,3,8,12,22
        texts = ["a b c", "d e f g h", "i j k l", " ".join("m" * 10), "y z"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        from maup_spark.functions.webtext import pack_shards

        out = {r["doc_id"]: r for r in pack_shards(df, 8).collect()}
        assert [(out[i]["start_offset"], out[i]["shard_id"]) for i in range(5)] == [
            (0, 0), (3, 0), (8, 1), (12, 1), (22, 2)
        ]

    def test_two_level_scan_matches_single_block(self, spark):
        from maup_spark.functions.webtext import pack_shards

        df = spark.createDataFrame(
            [(i, " ".join("w" * (1 + i % 7))) for i in range(500)],
            "doc_id long, text string",
        )
        small_blocks = sorted(
            map(tuple, pack_shards(df, 100, block=37).collect())
        )
        one_block = sorted(
            map(tuple, pack_shards(df, 100, block=10**9).collect())
        )
        assert small_blocks == one_block

    def test_deterministic_across_parallelism(self, spark):
        from maup_spark.functions.webtext import pack_shards

        df = spark.createDataFrame(
            [(i, " ".join("w" * (1 + i % 5))) for i in range(300)],
            "doc_id long, text string",
        )
        a = sorted(map(tuple, pack_shards(df, 64, block=50).collect()))
        b = sorted(
            map(tuple, pack_shards(df.repartition(13), 64, block=50).collect())
        )
        assert a == b

    def test_composite_order_cols(self, spark):
        # (doc_id, copy_idx) composite key: the stream order is
        # lexicographic over BOTH columns — no arithmetic packing —
        # and must equal the single-BIGINT encoding it replaces
        from maup_spark.functions.webtext import pack_shards

        rows = [
            (i, c, " ".join("w" * (1 + (i * 3 + c) % 6)))
            for i in range(60)
            for c in range((i % 3) + 1)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, copy_idx long, text string"
        )
        got = sorted(
            map(
                tuple,
                pack_shards(
                    df, 16, block=7, order_cols=["doc_id", "copy_idx"]
                ).collect(),
            )
        )
        legacy = pack_shards(
            df.withColumn(
                "pack_id", F.col("doc_id") * 1000 + F.col("copy_idx")
            ),
            16,
            id_col="pack_id",
            block=7000,
        )
        want = sorted(
            (r["pack_id"] // 1000, r["pack_id"] % 1000, r["n_tokens"],
             r["start_offset"], r["shard_id"])
            for r in legacy.collect()
        )
        assert got == want

    def test_order_cols_must_lead_with_id_col(self, spark):
        import pytest as _pytest

        from maup_spark.functions.webtext import pack_shards

        df = spark.createDataFrame(
            [(1, 0, "a b")], "doc_id long, copy_idx long, text string"
        )
        with _pytest.raises(ValueError):
            pack_shards(df, 8, order_cols=["copy_idx", "doc_id"])

    def test_stream_is_gapless(self, spark):
        from maup_spark.functions.webtext import pack_shards

        df = spark.createDataFrame(
            [(i, " ".join("w" * (1 + i % 3))) for i in range(100)],
            "doc_id long, text string",
        )
        rows = sorted(
            pack_shards(df, 10, block=9).collect(), key=lambda r: r["doc_id"]
        )
        pos = 0
        for r in rows:
            assert r["start_offset"] == pos
            assert r["shard_id"] == pos // 10
            pos += r["n_tokens"]


def test_canonicalize_idempotent_over_url_grammar(spark):
    """canon(canon(u)) == canon(u) over the product of URL components
    (scheme x www x host-case x port x path x params x fragment) —
    the invariant that makes re-canonicalizing stored canon_urls safe
    (e.g. joining fresh crawls against an already-canonical frontier)."""
    import itertools

    urls = []
    for scheme, www, host, port, path, q, frag in itertools.product(
        ["http://", "https://"],
        ["", "www."],
        ["Ex.COM", "sub.ex.org"],
        ["", ":80", ":443", ":8080"],
        ["", "/", "/A/b", "/A/b/"],
        ["", "?b=2&a=1", "?utm_source=x", "?a=1&utm_x=2&ref=r&z=9"],
        ["", "#frag"],
    ):
        urls.append(f"{scheme}{www}{host}{port}{path}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = canonicalize_url(df).select(
        F.col("url"), F.col("canon_url").alias("c1")
    )
    twice = canonicalize_url(
        once.select(F.col("c1").alias("url"), "c1"), out_col="c2"
    )
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert bad == [], f"not idempotent for {bad[:5]}"
    # and no canonical url retains noise markers (":80"/":443" are only
    # noise on their OWN scheme — http://host:443 is a real port)
    noisy = twice.filter(
        F.col("c1").rlike("#|utm_|fbclid|gclid|://www\\.")
        | F.col("c1").rlike("^http://[^/?#]*:80([/?]|$)")
        | F.col("c1").rlike("^https://[^/?#]*:443([/?]|$)")
    ).collect()
    assert noisy == []


def test_streaming_decontaminate_matches_batch(spark, tmp_path, cache_entries):
    """Streaming decontamination (stateless foreachBatch over a static
    benchmark): surviving doc set equals the batch operator's filter at
    the same tau, independent of micro-batch boundaries."""
    from maup_spark.streaming.twins import streaming_decontaminate

    bench = spark.createDataFrame(
        [(10_000, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        # every 7th doc embeds the benchmark text (a leak); others are
        # unique word salads
        "CASE WHEN id % 7 = 0"
        "  THEN 'alpha beta gamma delta epsilon zeta tail-' || CAST(id AS STRING)"
        "  ELSE 'w' || CAST(id AS STRING) || ' x y z q r s t u v'"
        " END AS text",
    )
    src = str(tmp_path / "decsrc")
    docs.repartition(4).write.parquet(src)

    n_cached = cache_entries()
    q = streaming_decontaminate(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "decckpt"),
        output_dir=str(tmp_path / "decout"),
        bench_docs=bench,
        tau=0.3,
        n=3,
    )
    q.awaitTermination(240)
    assert cache_entries() == n_cached  # the twin leaves no cached relation

    got = {r["doc_id"] for r in
           spark.read.parquet(str(tmp_path / "decout")).select("doc_id").collect()}
    from maup_spark.functions.webtext import contamination_check

    leaked = {
        r["doc_id"]
        for r in contamination_check(docs, bench, n=3)
        .filter(F.col("contamination") >= 0.3)
        .collect()
    }
    want = {r["doc_id"] for r in docs.select("doc_id").collect()} - leaked
    assert got == want
    assert len(leaked) > 0  # the forced leaks were caught


class TestPiiScrub:
    def _one(self, spark, text):
        from maup_spark.functions.webtext import pii_scrub

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return pii_scrub(df).first()

    def test_email_detected_and_redacted(self, spark):
        r = self._one(spark, "mail john.doe+x@sub.example.co.uk today")
        assert r.n_email == 1 and r.n_phone == 0 and r.n_ipv4 == 0
        assert r.clean_text == "mail <EMAIL> today"

    def test_phone_and_ip(self, spark):
        r = self._one(spark, "call +1-555-123-4567 or ping 192.168.1.200.")
        assert r.n_phone == 1 and r.n_ipv4 == 1
        assert r.clean_text == "call <PHONE> or ping <IP>."

    def test_version_string_not_ip(self, spark):
        # three dot-separated groups must NOT match the IPv4 pattern
        r = self._one(spark, "release v1.2.3 is out")
        assert r.n_ipv4 == 0
        assert r.clean_text == "release v1.2.3 is out"

    def test_counts_on_original_text(self, spark):
        # two emails, one of each other class, interleaved
        r = self._one(spark, "a@b.io c@d.org 8.8.8.8 +44 207 946 0958")
        assert (r.n_email, r.n_phone, r.n_ipv4) == (2, 1, 1)

    def test_idempotent(self, spark):
        from maup_spark.functions.webtext import pii_scrub

        df = spark.createDataFrame(
            [(1, "x a@b.io 8.8.8.8 +1-555-123-4567 y")],
            "doc_id long, text string",
        )
        once = pii_scrub(df).select(
            F.col("clean_text").alias("text")
        )
        twice = pii_scrub(once).first()
        assert (twice.n_email, twice.n_phone, twice.n_ipv4) == (0, 0, 0)
        assert twice.clean_text == "x <EMAIL> <IP> <PHONE> y"

    def test_pii_stats_totals(self, spark):
        from maup_spark.functions.webtext import pii_stats

        df = spark.createDataFrame(
            [(1, "a@b.io c@d.org"), (2, "8.8.8.8"), (3, "clean")],
            "doc_id long, text string",
        )
        r = pii_stats(df).first()
        assert r.total_email == 2 and r.docs_with_email == 1
        assert r.total_ipv4 == 1 and r.docs_with_ipv4 == 1
        assert r.total_phone == 0 and r.docs_with_phone == 0


class TestKeepBest:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "cluster string, doc_id long, score long"
        )

    def test_highest_score_wins(self, spark):
        from maup_spark.functions.dedup import keep_best

        out = keep_best(
            self._df(spark, [("c", 1, 10), ("c", 2, 30), ("c", 3, 20)]),
            "cluster", "score",
        ).first()
        assert out.doc_id == 2 and out.score == 30 and out.n_members == 3

    def test_tie_breaks_to_lowest_id(self, spark):
        from maup_spark.functions.dedup import keep_best

        out = keep_best(
            self._df(spark, [("c", 9, 30), ("c", 4, 30), ("c", 7, 30)]),
            "cluster", "score",
        ).first()
        assert out.doc_id == 4

    def test_min_members_filters_singletons(self, spark):
        from maup_spark.functions.dedup import keep_best

        rows = [("a", 1, 5), ("b", 2, 5), ("b", 3, 6)]
        out = keep_best(self._df(spark, rows), "cluster", "score",
                        min_members=2)
        got = {r.cluster: (r.doc_id, r.n_members) for r in out.collect()}
        assert got == {"b": (3, 2)}

    def test_deterministic_across_parallelism(self, spark):
        from maup_spark.functions.dedup import keep_best

        rows = [(f"c{i % 5}", i, (i * 37) % 11) for i in range(200)]
        a = keep_best(self._df(spark, rows).repartition(1),
                      "cluster", "score").collect()
        b = keep_best(self._df(spark, rows).repartition(16),
                      "cluster", "score").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_string_id_generic_path_matches_numeric_semantics(self, spark):
        # string doc ids (urls) can't be negated; the generic two-agg
        # path must still pick highest score, ties to lowest id
        from maup_spark.functions.dedup import keep_best

        df = spark.createDataFrame(
            [("c", "u9", 30), ("c", "u4", 30), ("c", "u7", 20),
             ("d", "z1", 5)],
            "cluster string, doc_id string, score long",
        )
        got = {r.cluster: (r.doc_id, r.score, r.n_members)
               for r in keep_best(df, "cluster", "score").collect()}
        assert got == {"c": ("u4", 30, 3), "d": ("z1", 5, 1)}
        only_dups = keep_best(df, "cluster", "score", min_members=2)
        assert [r.cluster for r in only_dups.collect()] == ["c"]


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """The PII scrub is stateless, so the batch operator composes
    directly onto the stream: file-sink output must be byte-equal to
    the batch scrub of the same rows."""
    from maup_spark.functions.webtext import pii_scrub
    from maup_spark.streaming.twins import streaming_pii_scrub

    docs = spark.range(120).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0"
        "  THEN 'mail u' || CAST(id AS STRING) || '@ex.com or 10.0.0.'"
        "       || CAST(id % 256 AS STRING)"
        "  ELSE 'clean row ' || CAST(id AS STRING)"
        " END AS text",
    )
    src = str(tmp_path / "piisrc")
    docs.repartition(5).write.parquet(src)

    q = streaming_pii_scrub(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "piickpt"),
        output_dir=str(tmp_path / "piiout"),
    )
    q.awaitTermination(240)

    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "piiout")).collect())
    )
    want = sorted(
        map(
            tuple,
            pii_scrub(docs)
            .select(
                "doc_id",
                F.col("clean_text").alias("text"),
                "n_email", "n_phone", "n_ipv4",
            )
            .collect(),
        )
    )
    assert got == want
    assert any(r[2] > 0 for r in got)  # the injected emails were caught


class TestTopNgrams:
    def test_closed_form(self, spark):
        from maup_spark.functions.webtext import top_ngrams

        docs = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "a b c"), (3, "x y z")],
            "doc_id long, text string",
        )
        got = {
            r.gram: (r.n_occurrences, r.n_docs)
            for r in top_ngrams(docs, n=3, top_k=10).collect()
        }
        # "a b c": 2 occurrences in doc1 + 1 in doc2 -> (3, 2)
        assert got["a b c"] == (3, 2)
        assert got["x y z"] == (1, 1)

    def test_topk_tiebreak_deterministic(self, spark):
        from maup_spark.functions.webtext import top_ngrams

        docs = spark.createDataFrame(
            [(1, "z y x"), (2, "a b c")], "doc_id long, text string"
        )
        got = [r.gram for r in top_ngrams(docs, n=3, top_k=1).collect()]
        assert got == ["a b c"]  # count tie -> lexicographic first

    def test_plan_no_window(self, spark):
        from maup_spark.functions.webtext import top_ngrams

        docs = spark.createDataFrame(
            [(i, f"w{i} x y z") for i in range(20)], "doc_id long, text string"
        )
        plan = (
            top_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


class TestSourceStats:
    def test_closed_form(self, spark):
        from maup_spark.functions.webtext import source_stats

        docs = spark.createDataFrame(
            [(1, "ab cd", "s1"), (2, "x", "s1"), (3, "hello world", "s2")],
            "doc_id long, text string, source string",
        )
        got = {r.source: r for r in source_stats(docs).collect()}
        assert got["s1"].n_docs == 2
        assert got["s1"].total_chars == 5 + 1
        assert got["s1"].total_tokens == 2 + 1
        assert got["s1"].mean_chars_e6 == round(1e6 * 6 / 2)
        assert got["s2"].mean_tokens_e6 == 2_000_000


class TestHostBlocklist:
    def test_drops_blocked_hosts_only(self, spark):
        from maup_spark.functions.webtext import host_blocklist_filter

        pages = spark.createDataFrame(
            [(1, "https://bad.com/a"), (2, "https://www.bad.com/b"),
             (3, "https://GOOD.com/c"), (4, "http://bad.com:80/d")],
            "doc_id long, url string",
        )
        bl = spark.createDataFrame([("bad.com",)], "host string")
        kept = {r.doc_id for r in host_blocklist_filter(pages, bl).collect()}
        # www. stripped and host lowercased before the match; the port
        # is NOT part of host_of's capture (stops at ':')
        assert kept == {3}

    def test_empty_blocklist_passthrough(self, spark):
        from maup_spark.functions.webtext import host_blocklist_filter

        pages = spark.createDataFrame(
            [(1, "https://a.com/x")], "doc_id long, url string"
        )
        bl = spark.createDataFrame([], "host string")
        assert host_blocklist_filter(pages, bl).count() == 1

    def test_plan_broadcast_anti(self, spark):
        from maup_spark.functions.webtext import host_blocklist_filter

        pages = spark.createDataFrame(
            [(i, f"https://h{i}.com/x") for i in range(10)],
            "doc_id long, url string",
        )
        bl = spark.createDataFrame([("h1.com",)], "host string")
        plan = (
            host_blocklist_filter(pages, bl)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan


class TestLengthHistogram:
    def test_closed_form(self, spark):
        from maup_spark.functions.text import length_histogram

        docs = spark.createDataFrame(
            [(1, ""), (2, "a"), (3, "abc"), (4, "x" * 100)],
            "doc_id long, text string",
        )
        got = {r.bucket: (r.lo_chars, r.n_docs) for r in length_histogram(docs).collect()}
        # len 0 -> floor(log2 1)=0; len 1 -> floor(log2 2)=1;
        # len 3 -> floor(log2 4)=2; len 100 -> floor(log2 101)=6
        assert got[0] == (0, 1)
        assert got[1] == (1, 1)
        assert got[2] == (3, 1)
        assert got[6] == (63, 1)
