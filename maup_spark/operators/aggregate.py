"""The reference's README idiom as one operator, plus `progress`.

maup's documented usage aggregates source variables up to targets via
an assignment series:

    assignment = maup.assign(blocks, precincts)
    precincts[variables] = blocks[variables].groupby(assignment).sum()

(/root/reference/README.md and maup/assign.py).  ``aggregate_by_
assignment`` is that idiom as a single operator: assign each source to
a target, then sum the named columns per target — one broadcast (or
salted) join + ONE partial-aggregating shuffle, the same physical
shape as ``prorate``.

``disaggregate_by_weight`` is the inverse README idiom (prorate with
weights = target share): splitting target columns down to sources
proportionally to a source weight column within each target.

``progress`` mirrors ``maup.progress()``
(/root/reference/maup/progress_bar.py): the reference toggles a tqdm
bar; here long jobs are already visible in the Spark UI, so the
context manager scopes a job-group description (shown in the UI per
job) — same user intent, engine-appropriate mechanism.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_by_assignment(
    sources: DataFrame,
    targets: DataFrame,
    columns: Sequence[str],
    source_id: str = "source_id",
    target_id: str = "target_id",
    source_bounds: tuple | None = None,
    target_bounds: tuple | None = None,
    broadcast_targets: bool = True,
    layers_are_rects: bool = False,
    grid=None,
) -> DataFrame:
    """Sum ``columns`` of sources per assigned target (reference idiom
    ``sources[columns].groupby(assign(sources, targets)).sum()``).

    Sources assigned to no target (NULL assignment) are dropped, same
    as pandas groupby on a NaN key.  Returns one row per target that
    received at least one source: (target_id, <col>_sum ...).

    The data columns ride THROUGH the assignment
    (``carry_source_cols`` + ``only_assigned``) instead of a second
    full-size sources⋈assignment shuffle join — one fewer exchange of
    the source table, identical sums (the join keyed rows 1:1 by
    source id).
    """
    from .assign import assign
    from .spatial import DEFAULT_GRID

    assignment = assign(
        sources,
        targets,
        source_id=source_id,
        target_id=target_id,
        grid=grid if grid is not None else DEFAULT_GRID,
        source_bounds=source_bounds,
        target_bounds=target_bounds,
        broadcast_targets=broadcast_targets,
        layers_are_rects=layers_are_rects,
        carry_source_cols=tuple(columns),
        only_assigned=True,
    )
    return (
        assignment.filter(F.col(target_id).isNotNull())
        .groupBy(target_id)
        .agg(*[F.sum(c).alias(f"{c}_sum") for c in columns])
    )


def disaggregate_by_weight(
    targets: DataFrame,
    assignment: DataFrame,
    columns: Sequence[str],
    weight_col: str,
    source_id: str = "source_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Split target ``columns`` down to assigned sources proportionally
    to ``weight_col`` within each target (the README's prorate-by-
    population idiom, weights precomputed).  Normalization + one join —
    no geometry work; use ``prorate`` when the weight IS the
    intersection area.

    The per-target weight sum is a groupBy(target) aggregation joined
    back, not a window: at web scale one target district can hold
    millions of assigned docs, and a window would serialize that whole
    group into one task while the hash agg combines it map-side (AQE
    skew-splits the join-back; it can never split a window partition)."""
    sums = assignment.groupBy(target_id).agg(F.sum(weight_col).alias("__wsum"))
    shares = assignment.join(sums, target_id).withColumn(
        "__share", F.col(weight_col) / F.col("__wsum")
    )
    out = shares.join(targets.select(target_id, *columns), target_id)
    return out.select(
        source_id,
        target_id,
        *[(F.col(c) * F.col("__share")).alias(f"{c}_part") for c in columns],
    )


@contextmanager
def progress(spark=None, description: str = "maup_spark"):
    """``with maup_spark.progress(spark):`` — scope a Spark job-group
    description for the enclosed jobs (visible in the Spark UI), the
    engine-appropriate analog of the reference's tqdm toggle."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    sc = spark.sparkContext if spark is not None else None
    if sc is not None:
        sc.setJobGroup(description, description, interruptOnCancel=False)
    try:
        yield
    finally:
        if sc is not None:
            sc.setJobGroup("", "", interruptOnCancel=False)
