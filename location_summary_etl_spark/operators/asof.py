"""As-of join -- Spark lacks a native one (DuckDB/kdb have it).

Implemented as the union-tag trick, which is the scalable formulation:
tag probe and base rows, union them, and run one window per key ordered
by time with ``last(value, ignorenulls=True)``.  Cost: a single shuffle
on the key (same as any join on that key) + a per-key sort -- no
per-row lookups, no range explosion, no driver loops.  This is the
composition-of-existing-operators path; a ``merge_asof`` pandas variant
would only be needed for exotic tolerance semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from location_summary_etl_spark.session import ensure_parallelism


def asof_join_backward(probe: DataFrame, base: DataFrame,
                       keys: list[str], probe_ts: str, base_ts: str,
                       base_val: str, out_col: str,
                       strict: bool = False) -> DataFrame:
    """For each probe row attach ``base_val`` from the base row with the
    greatest ``base_ts`` <= ``probe_ts`` (< when ``strict``) per key.

    Returns the probe columns + ``out_col`` (NULL when no base row
    precedes the probe).
    """
    val_type = base.schema[base_val].dataType
    p = probe.select(
        *probe.columns,
        F.col(probe_ts).alias("__t"),
        F.lit(None).cast(val_type).alias("__v"),
        F.lit(1).alias("__p"),
    )
    b = base.select(
        *keys,
        F.col(base_ts).alias("__t"),
        F.col(base_val).alias("__v"),
        F.lit(0).alias("__p"),
    )
    for c in probe.columns:
        if c not in keys:
            b = b.withColumn(c, F.lit(None).cast(probe.schema[c].dataType))
    u = p.unionByName(b.select(*p.columns))
    # r12: Union erases child partitioning, so the window below always
    # pays one exchange on the key -- but that exchange carries little
    # at small inputs and AQE parallelism-first coalescing then shrinks
    # it below core width, running the per-key sort+window nearly
    # serial.  The explicit hash repartition is the same exchange in
    # the same position, tagged REPARTITION_BY_NUM (coalescing-exempt);
    # subset-key hash partitioning satisfies the window's clustered
    # distribution, so no second exchange appears.  File-gated: no-op
    # whenever the union's source scans are already core-wide
    # (OPTIMIZATION_r12.md change #5: 0.291 -> 0.278 s at sf0.1).
    # keys[0] is a per-entity id (user_id here): not unique, but the
    # window below partitions by the same key, so the widening exchange
    # carries exactly the skew the window itself would -- no new skew
    # is introduced (session.ensure_parallelism ``by`` caveat).  An
    # empty keys list degrades to the keyless round-robin widening
    # (the window is then global and single-partition regardless).
    u = ensure_parallelism(u, by=keys[0]) if keys else ensure_parallelism(u)
    # Base rows sort before probe rows at equal timestamps (__p asc), so
    # the inclusive (<=) match sees same-instant base rows inside the
    # running frame; strict mode flips the tag order so equal-ts base
    # rows land after the probe and fall outside it.
    order: list[Column] = [
        F.col("__t"),
        F.col("__p").asc() if not strict else F.col("__p").desc(),
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn(out_col, F.last("__v", ignorenulls=True).over(w))
    return u.filter(F.col("__p") == 1).select(*probe.columns, out_col)
