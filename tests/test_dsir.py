"""DSIR importance resampling (functions/dsir.py): bounded hashed
counts, exact parity with a local Python replica of the integer score
math, target-lift ordering, deterministic selection, and plan shape."""

import hashlib
import math

from pyspark.sql import functions as F

from maup_spark.functions.dsir import (
    dsir_ratio,
    dsir_score,
    dsir_select,
    hashed_gram_counts,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_grams12(text):
    toks = text.split(" ")
    grams = list(toks)
    if len(toks) >= 2:
        grams += [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
    return grams


def _py_bucket(gram, n_buckets):
    return int(hashlib.md5(gram.encode()).hexdigest()[:12], 16) % n_buckets


def _py_fam(cnt):
    return int(math.floor(math.log2(cnt + 1)))


class TestHashedGramCounts:
    def test_bounded_and_total(self, spark):
        docs = _docs(spark, [(i, f"tok{i} tok{i % 3} common") for i in range(50)])
        out = hashed_gram_counts(docs, n_buckets=16).collect()
        assert len(out) <= 16
        # every doc has 3 unigrams + 2 bigrams = 5 grams
        assert sum(r.cnt for r in out) == 50 * 5
        assert all(0 <= r.bucket < 16 for r in out)

    def test_matches_python_replica(self, spark):
        rows = [(1, "a b c"), (2, "a a"), (3, "xyz")]
        out = {
            r.bucket: r.cnt
            for r in hashed_gram_counts(_docs(spark, rows), n_buckets=64).collect()
        }
        want = {}
        for _, text in rows:
            for g in _py_grams12(text):
                b = _py_bucket(g, 64)
                want[b] = want.get(b, 0) + 1
        assert out == want


class TestDsirScore:
    def test_exact_python_parity(self, spark):
        """End-to-end score equals the closed-form local replica."""
        target_rows = [(100, "the quick fox"), (101, "the lazy dog")]
        raw_rows = [
            (1, "the quick fox jumps"),
            (2, "zzz qqq www"),
            (3, "the the the"),
        ]
        B = 128
        target, raw = _docs(spark, target_rows), _docs(spark, raw_rows)
        ratio = dsir_ratio(
            hashed_gram_counts(target, n_buckets=B),
            hashed_gram_counts(raw, n_buckets=B),
        )
        got = {
            r.doc_id: (r.n_grams, r.score)
            for r in dsir_score(raw, ratio, n_buckets=B).collect()
        }

        cp, cq = {}, {}
        for _, text in target_rows:
            for g in _py_grams12(text):
                b = _py_bucket(g, B)
                cp[b] = cp.get(b, 0) + 1
        for _, text in raw_rows:
            for g in _py_grams12(text):
                b = _py_bucket(g, B)
                cq[b] = cq.get(b, 0) + 1
        want = {}
        for did, text in raw_rows:
            grams = _py_grams12(text)
            s = sum(
                _py_fam(cp.get(_py_bucket(g, B), 0))
                - _py_fam(cq.get(_py_bucket(g, B), 0))
                for g in grams
            )
            want[did] = (len(grams), s)
        assert got == want

    def test_target_lift(self, spark):
        """A raw doc sharing the target's grams outscores a disjoint one."""
        target = _docs(spark, [(9, "alpha beta gamma delta")])
        raw = _docs(
            spark,
            [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
        )
        ratio = dsir_ratio(
            hashed_gram_counts(target, n_buckets=256),
            hashed_gram_counts(raw, n_buckets=256),
        )
        got = {r.doc_id: r.score for r in dsir_score(raw, ratio, n_buckets=256).collect()}
        assert got[1] > got[2]

    def test_every_doc_scores(self, spark):
        """Empty / single-token docs still emit a row (unigram grammar)."""
        raw = _docs(spark, [(1, ""), (2, "solo")])
        ratio = dsir_ratio(
            hashed_gram_counts(_docs(spark, [(9, "x")]), n_buckets=32),
            hashed_gram_counts(raw, n_buckets=32),
        )
        out = dsir_score(raw, ratio, n_buckets=32).collect()
        assert {r.doc_id for r in out} == {1, 2}


class TestDsirSelect:
    def test_deterministic_tiebreak(self, spark):
        scored = spark.createDataFrame(
            [(3, 5, 10), (1, 5, 10), (2, 5, 10), (4, 5, 99)],
            "doc_id long, n_grams long, score long",
        )
        got = [r.doc_id for r in dsir_select(scored, 3).collect()]
        assert got == [4, 1, 2]


class TestPlanShape:
    def test_broadcast_ratio_no_window(self, spark):
        docs = _docs(spark, [(i, f"w{i} w{i % 5}") for i in range(20)])
        target = docs.filter(F.col("doc_id") % 4 == 0)
        ratio = dsir_ratio(
            hashed_gram_counts(target, n_buckets=64),
            hashed_gram_counts(docs, n_buckets=64),
        )
        plan = (
            dsir_select(dsir_score(docs, ratio, n_buckets=64), 5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


def test_streaming_dsir_filter_matches_batch(spark, tmp_path, cache_entries):
    """Streaming DSIR (stateless foreachBatch over a static ratio
    table): surviving doc set equals the batch score-and-threshold,
    independent of micro-batch boundaries."""
    from maup_spark.streaming.twins import streaming_dsir_filter

    target = spark.createDataFrame(
        [(10_000, "alpha beta gamma delta"), (10_001, "alpha beta quick fox")],
        "doc_id long, text string",
    )
    docs = spark.range(120).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        "CASE WHEN id % 5 = 0"
        "  THEN 'alpha beta gamma tail-' || CAST(id AS STRING)"
        "  ELSE 'junk' || CAST(id AS STRING) || ' noise words here'"
        " END AS text",
    )
    B = 512
    ratio = dsir_ratio(
        hashed_gram_counts(target, n_buckets=B),
        hashed_gram_counts(docs.select("doc_id", "text"), n_buckets=B),
    )
    src = str(tmp_path / "dsirsrc")
    docs.repartition(4).write.parquet(src)

    n_cached = cache_entries()
    q = streaming_dsir_filter(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "dsirckpt"),
        output_dir=str(tmp_path / "dsirout"),
        ratio=ratio,
        min_score=-25,
        n_buckets=B,
    )
    q.awaitTermination(240)
    assert cache_entries() == n_cached  # the twin leaves no cached relation

    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "dsirout"))
        .select("doc_id")
        .collect()
    }
    want = {
        r["doc_id"]
        for r in dsir_score(docs.select("doc_id", "text"), ratio, n_buckets=B)
        .filter(F.col("score") >= -25)
        .collect()
    }
    assert got == want
    assert 0 < len(want) < 120  # the threshold genuinely splits the stream


def test_xxhash_production_path(spark):
    """hash_fn="xxhash64" (the Spark-only production hash) keeps the
    schema, bounded buckets, and target-lift ordering of the md5
    oracle config."""
    target = _docs(spark, [(9, "alpha beta gamma delta")])
    raw = _docs(
        spark, [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")]
    )
    counts = hashed_gram_counts(raw, n_buckets=64, hash_fn="xxhash64")
    rows = counts.collect()
    assert len(rows) <= 64 and all(0 <= r.bucket < 64 for r in rows)
    ratio = dsir_ratio(
        hashed_gram_counts(target, n_buckets=256, hash_fn="xxhash64"),
        hashed_gram_counts(raw, n_buckets=256, hash_fn="xxhash64"),
    )
    scored = dsir_score(raw, ratio, n_buckets=256, hash_fn="xxhash64")
    assert [f.name for f in scored.schema.fields] == ["doc_id", "n_grams", "score"]
    got = {r.doc_id: r.score for r in scored.collect()}
    assert got[1] > got[2]


def test_merge_gram_counts_additive(spark):
    """Counting slices then merging equals counting the union — the
    incremental-refresh contract."""
    from maup_spark.functions.dsir import merge_gram_counts

    a = _docs(spark, [(1, "x y z"), (2, "x x")])
    b = _docs(spark, [(3, "y q"), (4, "z")])
    both = a.unionByName(b)
    B = 64
    merged = {
        r.bucket: r.cnt
        for r in merge_gram_counts(
            hashed_gram_counts(a, n_buckets=B),
            hashed_gram_counts(b, n_buckets=B),
        ).collect()
    }
    want = {
        r.bucket: r.cnt
        for r in hashed_gram_counts(both, n_buckets=B).collect()
    }
    assert merged == want


def test_streaming_lm_filter_matches_batch(spark, tmp_path, cache_entries):
    """Streaming LM filter (stateless foreachBatch over a static
    vocab): surviving doc set equals the batch keep-head/middle rule,
    independent of micro-batch boundaries."""
    from maup_spark.functions.lm import lm_score, lm_train
    from maup_spark.streaming.twins import streaming_lm_filter

    docs = spark.range(100).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(1704067200 + id * 60) AS ts",
        # every 4th doc is common-token-heavy (head); others are
        # unique-token salads (tail under a vocab trained on the corpus)
        "CASE WHEN id % 4 = 0"
        "  THEN 'the quick fox and the lazy dog and the end'"
        "  ELSE 'rare' || CAST(id AS STRING) || ' tok' || CAST(id AS STRING)"
        " END AS text",
    )
    lm = lm_train(docs.select("doc_id", "text"), max_vocab=16)
    src = str(tmp_path / "lmsrc")
    docs.repartition(4).write.parquet(src)

    n_cached = cache_entries()
    q = streaming_lm_filter(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "lmckpt"),
        output_dir=str(tmp_path / "lmout"),
        lm=lm,
        keep_buckets=("head", "middle"),
    )
    q.awaitTermination(240)
    assert cache_entries() == n_cached  # the twin leaves no cached relation

    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "lmout"))
        .select("doc_id")
        .collect()
    }
    want = {
        r["doc_id"]
        for r in lm_score(docs.select("doc_id", "text"), lm)
        .filter(F.col("bucket").isin("head", "middle"))
        .collect()
    }
    assert got == want
    assert 0 < len(want) < 100


class TestSourceDivergence:
    def test_identical_sources_zero_and_outlier_positive(self, spark):
        """Two sources drawn from the same text have L1 ~ 0 (exactly 0
        when their distributions coincide); a disjoint-vocabulary
        source diverges toward the 2*T*T_s maximum."""
        from maup_spark.functions.dsir import source_divergence

        docs = spark.createDataFrame(
            [(1, "a b c d", "s1"), (2, "a b c d", "s2"),
             (3, "zz qq ww vv", "s3")],
            "doc_id long, text string, source string",
        )
        out = {r.source: r for r in source_divergence(docs, n_buckets=512).collect()}
        assert out["s1"].l1_scaled == out["s2"].l1_scaled
        assert out["s3"].l1_scaled > out["s1"].l1_scaled
        # all values inside the [0, 2*T*T_s] envelope
        T = sum(r.n_grams for r in out.values())
        for r in out.values():
            assert 0 <= int(r.l1_scaled) <= 2 * T * r.n_grams

    def test_exact_python_parity(self, spark):
        from maup_spark.functions.dsir import source_divergence

        rows = [(1, "x y", "a"), (2, "x z z", "a"), (3, "y y q", "b")]
        B = 64
        out = {
            r.source: int(r.l1_scaled)
            for r in source_divergence(
                _docs_src(spark, rows), n_buckets=B
            ).collect()
        }
        # local replica
        from collections import Counter

        cnt = {}
        for _, text, src in rows:
            for gram in _py_grams12(text):
                b = _py_bucket(gram, B)
                cnt.setdefault(src, Counter())[b] += 1
        corpus = Counter()
        for c in cnt.values():
            corpus.update(c)
        T = sum(corpus.values())
        want = {}
        for src, c in cnt.items():
            T_s = sum(c.values())
            want[src] = sum(
                abs(c.get(b, 0) * T - cb * T_s) for b, cb in corpus.items()
            )
        assert out == want


def _docs_src(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")
