"""The benchmark's workloads: which ops each runs, on what input size.

Sizes are chosen so that one run (set-up, one cold pass, the warm
passes and the output checks) takes about a minute on a 4-core machine,
which keeps all runs of both workloads within the benchmark's total
time limit.  ``tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

# checkpointed stages of training_data_pipeline under the full policy
PIPELINE_STAGES = (
    "docs", "pii_scrub", "clean", "exact_dedup", "near_dedup",
    "substr_dedup", "decontaminate", "dsir_select", "assign",
    "district_rollup", "profile", "mixture", "chunk", "pack",
)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    n_docs: int
    n_orders: int = 0
    n_vecs: int = 0
    # run training_data_pipeline (full run + resume) in the traced run
    pipeline: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "spatial",
            ops=(
                "assign_points", "aggregate_rects", "normalize_lineitem",
                "intersections_triangles_shuffle",
            ),
            n_docs=1000,
            n_orders=10_000,
        ),
        Workload(
            "text",
            ops=("dsir_select_docs", "lm_bigram", "cosine_topk", "novelty_docs"),
            n_docs=2000,
            n_vecs=2000,
            pipeline=True,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """The same workload at a size that runs in seconds."""
    return replace(
        w,
        n_docs=min(w.n_docs, 200),
        n_orders=min(w.n_orders, 2000),
        n_vecs=min(w.n_vecs, 200),
    )
