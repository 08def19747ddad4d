"""aggregate_by_assignment / disaggregate_by_weight / progress.

The assign+sum path is oracle-gated by the driver (`aggregate_rects`);
these cover the pieces the oracle can't see.
"""

import pytest
from pyspark.sql import functions as F

from maup_spark import disaggregate_by_weight, progress
from maup_spark.operators.aggregate import aggregate_by_assignment
from maup_spark import datagen as D


def test_aggregate_conserves_assigned_mass(spark, sf_dir):
    src = D.source_rects(spark, sf_dir)
    out = aggregate_by_assignment(
        src,
        D.districts(spark),
        ["n_chars"],
        source_id="entity_id",
        target_id="district_id",
        source_bounds=("x0", "y0", "x1", "y1"),
        target_bounds=("dxmin", "dymin", "dxmax", "dymax"),
    )
    total_out = out.agg(F.sum("n_chars_sum")).first()[0]
    # conservation over ASSIGNABLE sources: a rect wholly inside a
    # knocked-out district overlaps no live district and is NULL-
    # assigned (reference semantics); everything else lands exactly once
    d = D.districts(spark)
    reachable = (
        src.join(
            F.broadcast(d),
            (F.least("x1", "dxmax") > F.greatest("x0", "dxmin"))
            & (F.least("y1", "dymax") > F.greatest("y0", "dymin")),
        )
        .select("entity_id")
        .distinct()
    )
    total_in = (
        src.join(reachable, "entity_id").agg(F.sum("n_chars")).first()[0]
    )
    assert total_out == total_in


def test_disaggregate_inverts_shares(spark):
    targets = spark.createDataFrame(
        [(1, 100.0), (2, 60.0)], "target_id long, pop double"
    )
    assignment = spark.createDataFrame(
        [(10, 1, 3.0), (11, 1, 1.0), (12, 2, 2.0)],
        "source_id long, target_id long, w double",
    )
    rows = {
        r["source_id"]: r["pop_part"]
        for r in disaggregate_by_weight(
            targets, assignment, ["pop"], weight_col="w"
        ).collect()
    }
    assert rows == {10: 75.0, 11: 25.0, 12: 60.0}
    # conservation: parts sum back to the target totals
    assert sum(rows.values()) == 160.0


def test_progress_scopes_job_group(spark):
    with progress(spark, "unit-test-group"):
        spark.range(10).count()
    # after the context the group is cleared; a second job runs fine
    assert spark.range(5).count() == 5


def test_line_dedup_restores_original(spark, sf_dir):
    """Header/footer boilerplate wrapped around every doc is stripped
    exactly, byte-identically restoring the original text."""
    from maup_spark.functions.text import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    wrapped = docs.selectExpr(
        "doc_id",
        "concat('HDR\\n', text, '\\nFTR ', CAST(doc_id % 3 AS STRING)) AS text",
    )
    out = line_dedup(wrapped, max_doc_freq=2)
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == orig


def test_repetition_score_known_values(spark):
    from maup_spark.functions.text import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),       # 5 toks, 2 distinct; top bigram 'a b' 2/4
            (2, "x y z"),           # no repetition; each bigram once -> 1/2
            (3, "solo"),            # 1 token: no bigrams, 0 fracs
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    assert rows[1]["dup_token_frac_e6"] == 600000   # 1 - 2/5
    assert rows[1]["top_bigram_frac_e6"] == 500000  # 2/4
    assert rows[2]["dup_token_frac_e6"] == 0
    assert rows[2]["top_bigram_frac_e6"] == 500000  # 1/2
    assert rows[3]["dup_token_frac_e6"] == 0
    assert rows[3]["top_bigram_frac_e6"] == 0


def test_stratified_sample_consistent_hashing(spark, sf_dir):
    """Deterministic mixture sampling: (1) rates land near targets,
    (2) the sample of a HALF corpus is exactly the full-corpus sample
    restricted to that half — growing the corpus never unsamples a
    row (consistent hashing), (3) parallelism-independent."""
    from pyspark.sql import functions as F

    from maup_spark.functions.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = {"en": 0.5, "de": 1.0}
    full = {r["doc_id"] for r in stratified_sample(docs, fr).collect()}
    half_docs = docs.filter(F.col("doc_id") % 2 == 0)
    half = {r["doc_id"] for r in stratified_sample(half_docs, fr).collect()}
    assert half == {d for d in full if d % 2 == 0}

    n_de = docs.filter(F.col("lang") == "de").count()
    kept_de = stratified_sample(docs, fr).filter(F.col("lang") == "de").count()
    assert kept_de == n_de  # fraction 1.0 keeps every row
    n_en = docs.filter(F.col("lang") == "en").count()
    kept_en = stratified_sample(docs, fr).filter(F.col("lang") == "en").count()
    assert abs(kept_en / n_en - 0.5) < 0.25  # small-sample tolerance

    repart = {r["doc_id"] for r in stratified_sample(docs.repartition(7), fr).collect()}
    assert repart == full


def test_bpe_token_count_known_values(spark):
    from maup_spark.functions.text import bpe_token_count

    docs = spark.createDataFrame(
        [(1, "Hello, world! I've 42 cats."), (2, ""), (3, "one two")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bpe_token_count(docs).collect()}
    # "Hello|,| world|!| I|'|ve| 42| cats|." -> 10 pretokens, 5 ws tokens
    assert rows[1]["n_bpe_tokens"] == 10 and rows[1]["n_ws_tokens"] == 5
    assert rows[2]["n_bpe_tokens"] == 0 and rows[2]["n_ws_tokens"] == 1
    assert rows[3]["n_bpe_tokens"] == 2 and rows[3]["n_ws_tokens"] == 2


def test_profile_table_nulls_and_approx(spark):
    from maup_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k long, v string",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_str"] == "1" and rows["k"]["max_str"] == "3"
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["n_distinct"] == 2
    assert rows["v"]["min_str"] == "a" and rows["v"]["max_str"] == "b"
    # sketch mode stays close on tiny input
    approx = {r["column"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert abs(approx["k"]["n_distinct"] - 3) <= 1


def test_strategy_parity_hot_groups(spark):
    """On a HOT group (one key holding most rows), normalize and
    disaggregate_by_weight must equal shares computed in Python
    (w / Σw and pop · w / Σw); dedup_batch must pick the hot group's
    minimum (ts, doc_id), with a NULL ts ranking first."""
    from maup_spark.operators.normalize import normalize
    from maup_spark.streaming.twins import dedup_batch

    rows = [(1, i, float(i % 7) + 1.0) for i in range(400)]  # hot target 1
    rows += [(t, 1000 + t, 2.5) for t in range(2, 12)]
    asg = spark.createDataFrame(rows, "target_id bigint, source_id bigint, w double")
    wsum = {}
    for t, _, w in rows:
        wsum[t] = wsum.get(t, 0.0) + w

    got = {
        r["source_id"]: r["n"]
        for r in normalize(asg, level="target_id", weight_col="w", out_col="n").collect()
    }
    assert got == pytest.approx({s: w / wsum[t] for t, s, w in rows}, rel=1e-12)

    tg = spark.createDataFrame(
        [(t, 100.0 * t) for t in range(1, 12)], "target_id bigint, pop double"
    )
    got = {
        (r["source_id"], r["target_id"]): r["pop_part"]
        for r in disaggregate_by_weight(tg, asg, ["pop"], "w").collect()
    }
    want = {(s, t): 100.0 * t * w / wsum[t] for t, s, w in rows}
    assert len(got) == 410
    assert got == pytest.approx(want, rel=1e-12)

    docs = spark.createDataFrame(
        [(i, float(i % 5), "same text" if i < 300 else f"uniq {i}")
         for i in range(330)],
        "doc_id bigint, ts double, text string",
    ).selectExpr("doc_id", "CAST(ts AS TIMESTAMP) AS ts", "text")
    got = dedup_batch(docs).collect()
    assert len(got) == 31  # 1 winner for the hot text + 30 uniques
    # the hot text's winner is the minimum (ts, doc_id) = (0, 0)
    assert [r["doc_id"] for r in got if r["text"] == "same text"] == [0]
    # a NULL ts ranks first and its group keeps that winner
    docs = spark.createDataFrame(
        [(1, None, "same text"), (2, 5.0, "same text"), (3, 1.0, "other")],
        "doc_id bigint, ts double, text string",
    ).selectExpr("doc_id", "CAST(ts AS TIMESTAMP) AS ts", "text")
    assert sorted(r["doc_id"] for r in dedup_batch(docs).collect()) == [1, 3]
