#!/usr/bin/env python
"""Dump formatted physical plans for the headline queries + the plan
properties each one is supposed to have (broadcast where expected,
no Python in JVM-only paths, pushed filters, no distinct over pair
streams).  Writes PLANS.md.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    # query -> (must_contain, must_not_contain) substrings of the
    # formatted plan ("codegen id" marks whole-stage-codegen spans)
    "assign_points": (
        ["BroadcastHashJoin"],
        ["ArrowEvalPython", "FlatMapGroupsInPandas"],  # rect path: zero Python
    ),
    # the single Exchange in point_cells is the INTENTIONAL repartition
    # spreading the one-file documents scan before the 64x entity fan-out
    "point_cells": ([], ["Python"]),
    "intersections_rects": (
        ["BroadcastHashJoin"],
        ["FlatMapGroupsInPandas"],
    ),
    "prorate_nchars": (["HashAggregate", "BroadcastHashJoin"], []),
    "normalize_lineitem": ([], ["BroadcastNestedLoopJoin"]),
    # the band joins (signatures are checkpointed so they compute once;
    # their aggregation plan is audited separately below)
    "minhash_lsh": ([], ["CartesianProduct", "SortAggregate"]),
    # numeric minhash keeps the signature aggregation in HashAggregate
    # (min over strings would fall back to per-partition SortAggregate)
    "minhash_signatures": (
        ["HashAggregate"],
        ["CartesianProduct", "SortAggregate"],
    ),
    "text_stats": (["codegen id"], ["Python"]),
    # band equi-joins + canonical-band emit: no all-pairs, no distinct
    # exchange, Hamming filter in codegen
    "simhash_pairs": ([], ["CartesianProduct", "Python", "SortAggregate"]),
    # first arrival per band key is one min(struct(ts, doc_id))
    # aggregation, then a count of keys won per winner: zero Python and
    # no Window (bands -> aggregate -> aggregate)
    "novelty_docs": ([], ["Python", "Window", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # README-idiom aggregate: broadcast cell join + (round 4) codegen'd
    # rect covers+area refine + ONE partial-aggregating shuffle —
    # zero Python STAGES (the bare "Python" token would false-positive
    # on applySchemaToPythonRDD, the 556-row local districts fixture
    # materializing via createDataFrame)
    # round 7: the two-window + join-back assign tail became ONE
    # groupBy(source) aggregation whose argmax is min(struct(-area,
    # tid)).  A struct min has an immutable buffer, so Spark plans the
    # pair aggregation as SortAggregate — but with partial_min BEFORE
    # the exchange (verified in plans/r07/aggregate_rects_after.txt),
    # so map-side combining holds and the plan must contain NO Window
    # and no second sources join (the properties the rewrite bought:
    # 6 Window nodes -> 0, 2.68 s -> 1.85 s at sf1.0)
    "aggregate_rects": (
        ["BroadcastHashJoin", "SortAggregate"],
        ["Window", "CartesianProduct", "ArrowEvalPython",
         "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"],
    ),
    # Gopher repetition signals: pure per-row projection (sorted-run
    # HOF fold; HOF lambdas are interpreted, so no codegen span) — NO
    # aggregation, no Python; the only exchange is the input-spread
    # repartition
    "repetition_score": (
        [],
        ["Python", "CartesianProduct", "HashAggregate", "SortAggregate"],
    ),
    # CCNet line dedup: explode -> doc-freq agg -> anti-join -> ordered
    # reassembly, all JVM
    "line_dedup": ([], ["Python", "CartesianProduct"]),
    # BPE-ish pretokenizer count: pure JVM projection (regexp_extract_all
    # is CodegenFallback, so no whole-stage span — still zero Python)
    "bpe_token_count": (
        [],
        ["Python", "CartesianProduct", "HashAggregate"],
    ),
    # mixture sampling: a pure deterministic filter — no agg, no join
    "mixture_sample": (
        [],
        ["Python", "CartesianProduct", "HashAggregate", "SortAggregate",
         "Join"],
    ),
    # exact (oracle) variant IS an intentional all-pairs nested loop;
    # what must stay out is Python — cosine + components are pure JVM
    "embedding_dedup": ([], ["Python"]),
    "ann_lsh": ([], ["CartesianProduct"]),
    "events_windowed": (["HashAggregate"], ["Python"]),
    # 100%-codegen quality gate
    "quality_score": ([], ["Python"]),
    # the quantizer join is an INTENTIONAL broadcast nested loop
    # (corpus x small centroid table); a non-broadcast cartesian would
    # be a bug
    "ivf_topk": (["BroadcastNestedLoopJoin"], ["CartesianProduct", "Python"]),
    # the big-both-sides overlay: candidate pairing must run as a real
    # shuffle join (the 100 TB polygon×polygon plan), never a broadcast
    "intersections_triangles_shuffle": (
        [],
        ["BroadcastHashJoin", "BroadcastExchange", "CartesianProduct"],
    ),
    # same plan shape with the production kernel tiering (convex fast
    # clip enabled on the shuffle path) — still a real shuffle join
    "intersections_triangles_shuffle_fast": (
        [],
        ["BroadcastHashJoin", "BroadcastExchange", "CartesianProduct"],
    ),
    # close_gaps rides the tiled hole stitcher now: the MAIN plan must
    # not contain a single-task union stage (Exchange SinglePartition
    # was the round-2 scale pinch in holes_of_union's final fan-in).
    # "main:" scopes the check to the plan body — Spark's runtime
    # bloom-filter subqueries are scalar aggregates and legitimately
    # single-partition.
    "close_gaps_pacman": ([], ["main:SinglePartition"]),
    # exact-substring dedup: gram explode (Generate) -> groupBy(gkey)
    # occurrence count (map-side partial combine, NOT a gkey window —
    # a hot boilerplate gram would funnel into one window task) ->
    # join-back (AQE skew-join eligible) -> per-doc sweep Window
    # (bounded by doc length) + hash-agg; all JVM
    "substring_dedup": (
        ["Generate", "Window", "HashAggregate"],
        ["Python", "CartesianProduct", "SortAggregate"],
    ),
    # BPE training's one corpus-scale job: word-freq hash-agg + orderBy
    # + limit -> TakeOrderedAndProject (distributed per-partition top-K),
    # never a single-partition global sort/window rank
    "bpe_vocab": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["Python", "main:SinglePartition", "Window", "SortAggregate"],
    ),
    # one-aggregation health gate: no joins, no Python anywhere
    "corpus_doctor": (
        ["HashAggregate"],
        ["Python", "Join", "CartesianProduct", "SortAggregate"],
    ),
    # the production (capped) LSH config rides the single-join strategy:
    # exploded (band, key) self-join; no per-band join fan-out, no
    # distinct exchange, no Python
    "minhash_lsh_capped": (
        ["Generate"],
        ["Python", "CartesianProduct", "SortAggregate"],
    ),
    # crawl dedup (round 5): ONE partial-combining aggregation.  The
    # struct min plans as SortAggregate (string payloads aren't
    # hash-buffer eligible) but partial_min combines MAP-SIDE, so a
    # recrawl-hot URL collapses per input partition before the
    # exchange — the banned anti-pattern is the per-key Window, which
    # must stay out
    "url_dedup_pages": (
        ["partial_min"],
        ["Window", "Python", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # the numeric twin (keep_url=False): pure HashAggregate
    "url_dedup_numeric": (
        ["HashAggregate"],
        ["Window", "Python", "SortAggregate", "CartesianProduct"],
    ),
    # host analytics: hash-agg + distributed top-K (TakeOrderedAndProject
    # — the driver sees top_n rows, never a global sort)
    "host_stats_pages": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["Window", "Python", "CartesianProduct", "SortAggregate"],
    ),
    # contamination: benchmark gram set BROADCAST against the corpus
    # gram explode; per-doc count agg is hash + map-side combinable.
    # The one BroadcastNestedLoopJoin is the INTENTIONAL 1-row leak
    # injection of the driver fixture (not operator shape), so only
    # CartesianProduct is banned
    "contamination_docs": (
        ["BroadcastHashJoin", "HashAggregate", "Generate"],
        ["Python", "CartesianProduct", "SortAggregate", "Window"],
    ),
    # token-stream sharding: TWO-LEVEL prefix scan — a per-block window
    # (row count bounded by `block` BY CONSTRUCTION, no data-dependent
    # hot key) + a window over the tiny block-subtotal table (n/block
    # rows; ITS SinglePartition exchange is intentional and bounded) +
    # broadcast join of the block offsets.  Never a global row window,
    # no Python, no cartesian
    "pack_shards_docs": (
        ["Window", "BroadcastHashJoin"],
        ["Python", "CartesianProduct"],
    ),
    # deterministic upsampling: projection + explode(sequence) only —
    # no shuffle, no agg, no join of any kind
    "upsample_sources": (
        ["Generate"],
        ["Python", "HashAggregate", "SortAggregate", "Window",
         "CartesianProduct", "main:Exchange hashpartitioning"],
    ),
    # PII scrub (round 5): pure codegen projection — regexp counts +
    # chained replaces; no agg, no join, no window, no Python
    "pii_scrub_docs": (
        [],
        ["Python", "HashAggregate", "SortAggregate", "Window",
         "CartesianProduct", "Join"],
    ),
    # keep-best representative selection: ONE max(struct) aggregation.
    # Struct max plans as SortAggregate (struct isn't hash-buffer
    # eligible) but partial_max combines MAP-SIDE — a corpus-wide hot
    # cluster collapses per input partition before the exchange; the
    # banned shape is the per-key Window
    "keep_best_docs": (
        ["partial_max"],
        ["Python", "Window", "CartesianProduct", "Join"],
    ),
    # corpus-frequency LM (round 5): train = word hash-agg + distributed
    # top-K (TakeOrderedAndProject, never a global-sort/window rank);
    # score = BROADCAST vocab join + one per-doc hash-agg
    "lm_familiarity": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["Python", "Window", "CartesianProduct", "SortAggregate",
         "SortMergeJoin"],
    ),
    # A-Res weighted sampling: a projection + distributed top-K — no
    # agg, no join, no window, no RNG exchange of any kind
    "weighted_sample_docs": (
        ["TakeOrderedAndProject"],
        ["Python", "Window", "CartesianProduct", "HashAggregate",
         "SortAggregate", "Join"],
    ),
    # near-dup capstone (LSH pairs -> connected components ->
    # keep_best): band equi-joins + label-propagation hash joins only
    "minhash_cluster_keep_best": (
        [],
        ["Python", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # DSIR importance resampling (round 5): two bounded hashed-gram
    # hash-aggs, BROADCAST ratio join on the scoring path, per-doc
    # hash-agg, distributed top-K — never a window or a global sort.
    # (The bounded <=n_buckets-row ratio build may plan a tiny SMJ; the
    # unbounded scoring path must broadcast.)
    "dsir_select_docs": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["Python", "Window", "CartesianProduct", "SortAggregate"],
    ),
    # html->text extraction: one regexp_replace projection chain —
    # no exchange of any kind, no join, no agg, no Python
    "extract_text_pages": (
        [],
        ["Python", "Window", "Exchange", "Join", "Aggregate",
         "CartesianProduct"],
    ),
    # the pipeline ingest twin (was a mapInPandas prefix-stripper;
    # now the same JVM chain — the repartition for downstream fan-out
    # is its only exchange)
    "pages_extract": (
        [],
        ["Python", "Window", "Join", "Aggregate", "CartesianProduct"],
    ),
    # range spatial join: one broadcast equi-join on the dilated cover
    # + codegen clamp/sqrt refine — no Python, no window, no shuffle
    # join (bare "Python" would false-positive on the district layer's
    # applySchemaToPythonRDD scan label, hence the specific markers)
    "within_distance_points": (
        ["BroadcastHashJoin", "Generate"],
        ["ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
         "Window", "CartesianProduct", "SortMergeJoin"],
    ),
    # link harvest + host degrees: Generate fan-out, two hash-aggs,
    # host-level join, TakeOrderedAndProject — no window, no Python
    "link_graph_hosts": (
        ["Generate", "HashAggregate", "TakeOrderedAndProject"],
        ["Python", "Window", "CartesianProduct", "SortAggregate"],
    ),
    # dedup-key text normalization: a pure projection — no exchange of
    # any kind, no join, no agg, no Python
    "normalize_text_docs": (
        [],
        ["Python", "Window", "Exchange", "Join", "Aggregate",
         "CartesianProduct"],
    ),
    # document chunking: projection + explode (Generate) — no exchange,
    # no join, no agg, no Python
    "chunk_docs": (
        ["Generate"],
        ["Python", "Window", "Exchange", "Join", "Aggregate",
         "CartesianProduct"],
    ),
    # bigram LM with backoff: two bounded-vocab trains (hash-agg +
    # TakeOrderedAndProject) + two BROADCAST joins + one per-doc agg —
    # never a window, never a shuffle join
    "lm_bigram": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        ["Python", "Window", "CartesianProduct", "SortAggregate",
         "SortMergeJoin"],
    ),
    # boilerplate-discovery report: two map-side-combinable gram aggs
    # + distributed top-K — never a window rank
    "top_ngrams": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["Python", "Window", "CartesianProduct", "SortAggregate"],
    ),
    # per-source governance report: ONE hash-agg, nothing else
    "source_stats": (
        ["HashAggregate"],
        ["Python", "Window", "Join", "CartesianProduct", "SortAggregate"],
    ),
    # badlist stage: broadcast LEFT-ANTI host join + one hash-agg —
    # the blocklist never shuffles the corpus.  The bare "Python" token
    # would false-positive on applySchemaToPythonRDD (the 2-row local
    # blocklist fixture materializing via createDataFrame), so only
    # real Python STAGES are banned — the aggregate_rects idiom
    "blocklist_pages": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["Window", "CartesianProduct", "SortMergeJoin", "SortAggregate",
         "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
         "BatchEvalPython"],
    ),
    # bounded-bucket length histogram: ONE hash-agg over ~40 keys
    "length_histogram": (
        ["HashAggregate"],
        ["Python", "Window", "Join", "CartesianProduct", "SortAggregate"],
    ),
    # per-source L1 drift: bounded (source, bucket) hash-agg +
    # BROADCAST corpus-bucket join + per-source agg — no window, no
    # shuffle join, the one nested-loop is the intentional broadcast
    # of the 1-row total
    "source_divergence": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["Python", "Window", "CartesianProduct", "SortMergeJoin"],
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from maup_spark.queries import QUERIES
    from maup_spark.session import get_spark

    spark = get_spark("explain-audit", master="local[4]")
    out = [
        "# PLANS — `.explain(\"formatted\")` audit of the headline queries",
        "",
        f"Generated by scripts/explain_audit.py over {sf_dir}.  Each query",
        "lists the plan properties asserted (and re-checked on every run of",
        "this script); the full formatted plan follows for inspection.",
        "",
    ]
    def build_minhash_signatures(spark, sf_dir):
        from maup_spark.functions.dedup import minhash_signatures
        from maup_spark.queries import _corpus

        return minhash_signatures(_corpus(spark, sf_dir))

    def build_minhash_lsh_capped(spark, sf_dir):
        from maup_spark.functions.dedup import minhash_lsh_pairs
        from maup_spark.queries import _corpus

        return minhash_lsh_pairs(_corpus(spark, sf_dir), max_bucket=1000)

    def build_bpe_vocab(spark, sf_dir):
        from maup_spark.functions.bpe import word_freq_topn
        from maup_spark.queries import _corpus

        return word_freq_topn(_corpus(spark, sf_dir), max_vocab=10_000)

    def build_url_dedup_numeric(spark, sf_dir):
        from maup_spark.functions.webtext import url_dedup
        from maup_spark.queries import _crawl_pages

        return url_dedup(
            _crawl_pages(spark, sf_dir), ts_col="crawl_ts", keep_url=False
        )

    builders = {
        "minhash_signatures": build_minhash_signatures,
        "minhash_lsh_capped": build_minhash_lsh_capped,
        "bpe_vocab": build_bpe_vocab,
        "url_dedup_numeric": build_url_dedup_numeric,
    }

    failures = []
    for name, (must, must_not) in CHECKS.items():
        df = builders.get(name, QUERIES.get(name))(spark, sf_dir)
        df.count()  # materialize so AQE finalizes (codegen ids appear)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        checks = []
        for s in must:
            ok = s in plan
            checks.append(f"  - contains `{s}`: {'OK' if ok else '**MISSING**'}")
            if not ok:
                failures.append((name, f"missing {s}"))
        main_plan = re.split(r"\nSubquery:\d+ Hosting", plan)[0]
        for s in must_not:
            scope = plan
            if s.startswith("main:"):
                s, scope = s[len("main:"):], main_plan
            ok = s not in scope
            checks.append(f"  - free of `{s}`: {'OK' if ok else '**VIOLATED**'}")
            if not ok:
                failures.append((name, f"contains {s}"))
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_python = len(re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas", plan))
        out.append(f"## {name}")
        out.append("")
        out.append(f"Exchanges: {n_exchange} · Python stages: {n_python}")
        out.append("")
        out.extend(checks)
        out.append("")
        out.append("<details><summary>formatted plan</summary>")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("</details>")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    if failures:
        print("PLAN CHECK FAILURES:", failures)
        sys.exit(1)
    print(f"all plan checks passed for {len(CHECKS)} queries; PLANS.md written")


if __name__ == "__main__":
    main()
