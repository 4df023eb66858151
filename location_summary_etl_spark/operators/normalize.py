"""Min-max normalization to a 0-100 "score".

The reference computes ``((v - min) / (max - min)) * 100`` with min and
max collected to the driver via ``.agg(min,max).first`` and re-embedded
as literals (/root/reference/src/main/scala/App.scala:175-201).  That
shape recomputes the upstream lineage twice (it is never cached) and
NPEs on empty input.

:func:`minmax_score_window` keeps the bounds in-plan instead: min/max
via an empty-partition window, so the upstream plan runs exactly once,
no driver round-trip, safe on empty input.  Its callers score
aggregate-sized relations (per-group summaries: |groups| rows).
Measurements against a broadcast-bounds form: OPTIMIZATION_r14.md
("Dual-form selectors retired").

Edge case (FIXTURES.md): ``max == min`` divides by zero -> score NULL,
never a crash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _score_expr(v, mn, mx):
    # NULL when max == min (reference would emit NaN/Infinity;
    # /root/reference/src/main/scala/App.scala:180-185).
    return F.when(mx != mn, (v - mn) / (mx - mn) * F.lit(100.0))


def minmax_score_window(df: DataFrame, col: str, out_col: str,
                        **also: Column) -> DataFrame:
    """Single-lineage min-max score: global min/max via an
    empty-partition window.  ``df`` must be aggregate-sized (all rows
    land in one partition for the window pass) -- enforced in-plan by
    :func:`~location_summary_etl_spark.operators.windows.guarded_unpartitioned`
    (raise_error past 100k rows), sharing the same WindowExec pass.
    ``also`` adds further named columns in the same projection (one
    plan analysis instead of one per ``withColumn``), typically other
    guarded aggregates over the same empty window.

    SCALE CONTRACT: the input is ``coalesce(1)``-ed, a narrow
    dependency, so this statically serializes the stage that PRODUCES
    ``df`` into one task.  Callers must hand it a relation that sits
    above an exchange (a groupBy aggregate, or anything else whose
    producing stage is aggregate-sized); passed a bare scan or a
    map-only lineage, the whole scan would run in a single task at any
    input size.  tests/test_plans.py asserts an Exchange between every
    Coalesce and the scans below it for each caller."""
    from location_summary_etl_spark.operators.windows import (
        guarded_unpartitioned,
    )

    # r13: the aggregate-sized contract, made STATIC.  coalesce(1)'s
    # output partitioning is SinglePartition, so the empty-spec
    # window's exchange disappears from the plan (flagship: 9 -> 8
    # Exchanges, parity-identical).  Fusing the final step into the
    # window's one task serializes only aggregate-sized work -- the
    # same single task the deleted exchange fed, one stage earlier.
    # The 100k-row guard still enforces the claim at run time.
    w = Window.partitionBy()
    df = df.coalesce(1)
    score = guarded_unpartitioned(
        _score_expr(F.col(col), F.min(col).over(w), F.max(col).over(w)),
        "minmax_score_window input",
    )
    return df.withColumns({out_col: score, **also})
