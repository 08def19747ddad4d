"""``normalize`` — weight / sum-of-weights within a key.

Reference: /root/reference/maup/normalize.py:4-11 (NaN→0 via fillna).
Spark plan: a single window sum partitioned by the level key — one
shuffle, none at all if the relationship is already hash-partitioned on
that key from the intersections join that produced it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize(
    weights: DataFrame,
    level: str = "source_id",
    weight_col: str = "weight",
    out_col: str | None = None,
) -> DataFrame:
    """Divide each weight by the sum of weights sharing ``level``.

    Exact reference parity (pandas groupby-sum + div + ``fillna(0)``):
    NaN weights are skipped by the group sum and yield 0; nonzero/0
    yields ±inf (pandas fillna(0) only replaces NaN, NOT inf); 0/0
    yields 0.

    One window sum — one shuffle, none if the input is already
    hash-partitioned on the level key; group sizes are bounded by
    geometric fan-in in the intersections use.
    """
    out_col = out_col or weight_col
    wcol = F.col(weight_col)
    w = Window.partitionBy(level)
    # pandas groupby().sum() skips NaN, Spark's propagates it — mask first
    denom = F.sum(F.when(~F.isnan(wcol), wcol)).over(w)
    ratio = (
        F.when(
            denom == 0,  # NULL denom (all-NaN group) falls to otherwise
            F.when(wcol > 0, F.lit(float("inf")))
            .when(wcol < 0, F.lit(float("-inf")))
            .otherwise(F.lit(0.0)),  # 0/0 and NaN/0 -> NaN -> fillna(0)
        ).otherwise(F.coalesce(F.nanvl(wcol / denom, F.lit(0.0)), F.lit(0.0)))
    )
    return weights.withColumn(out_col, ratio)
