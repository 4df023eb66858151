"""Behavioral / pipeline-health corpus: funnel analysis, cohort
retention, trailing time-range windows, and a data-quality audit.

These are the event-analytics shapes a training-data pipeline runs
next to its ETL (the reference has no event tooling at all -- SURVEY
§2.D); each is oracle-paired with DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    fixed_units,
    round_portable,
)
from location_summary_etl_spark.operators.windows import epoch_seconds
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.session import ensure_parallelism
from location_summary_etl_spark.sources.registry import load_table


# ------------------------------------------------------------------
# Funnel: view -> click -> purchase, ORDER-constrained (a click only
# counts after the user's first view; a purchase only after that
# click).  ONE pass: a single groupBy(user_id) collects first-view
# time plus the user's click/purchase timestamp arrays, and the
# stage-resolution ("earliest click at or after first view, earliest
# purchase at or after that click") is pure array arithmetic on the
# aggregate row -- map-side relative to the one exchange.  vs the
# 3-aggregate + 2-join chain this is one shuffle of the events table
# and one scalar aggregate, total.  Skew note: the arrays are per-user
# event lists, bounded by a user's own activity; a whale user beyond
# memory is the case for the aggregate-chain formulation (same
# semantics, more exchanges), not this one.
#
# MEASURED FLOOR (r7, sf10 tier = 10M events / ~6M funnel-typed rows,
# local[32], min-of-4 noop-sink interleaved, results verified equal):
# this one-pass form 0.49-0.62 s; window-cascade form (one shuffle +
# sort by user_id, three Window passes reusing the partitioning)
# 0.78 s -- the user_id sort costs more than the list aggregate; the
# 3-aggregate + 2-join chain (DuckDB's own shape, every agg map-side
# combinable) 1.19 s -- three scans and two user-keyed joins lose to
# one scan and one exchange.  DuckDB 0.198 s on the same tier, so the
# ~2.5-3x residue is ObjectHashAggregate list-building throughput with
# the best of the three plan shapes already chosen; Spark time is
# sublinear across tiers (0.23 -> 0.34 -> ~0.55 s over 100x; ratio
# falls 6.30 -> 4.93 -> ~3).
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts")))
            .alias("t_view"),
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
            .alias("clicks"),
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
            .alias("purchases"),
        )
        .filter(F.col("t_view").isNotNull())
        .withColumn(
            "t_click",
            F.array_min(F.filter("clicks", lambda t: t >= F.col("t_view"))),
        )
        .withColumn(
            "t_purchase",
            F.array_min(F.filter("purchases", lambda t: t >= F.col("t_click"))),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


register("events_funnel", events_funnel, """
WITH v AS (
    SELECT user_id, MIN(ts) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN v USING (user_id)
    WHERE e.event_type = 'click' AND e.ts >= v.t_view
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN c USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
    GROUP BY e.user_id
)
SELECT COUNT(*) AS n_view,
       COUNT(c.t_click) AS n_view_click,
       COUNT(p.t_purchase) AS n_view_click_purchase
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""")


# ------------------------------------------------------------------
# Cohort retention: customers grouped by first-order month, distinct
# actives per (cohort, month offset).  The month index is the portable
# year*12+month integer (months_between() has engine-specific
# fractional semantics).  Both aggregations shuffle on o_custkey.
def customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("m"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


register("customer_cohort_retention", customer_cohort_retention, """
WITH o AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
    FROM orders
),
first AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey)
SELECT first.m0 AS cohort_month,
       o.m - first.m0 AS month_offset,
       COUNT(DISTINCT o.o_custkey) AS n_customers
FROM o JOIN first USING (o_custkey)
GROUP BY 1, 2
""")


# ------------------------------------------------------------------
# Trailing time-RANGE window: per event, the count/sum of the SAME
# user's events in the trailing 10 minutes.  Spark's rangeBetween
# needs a numeric order key, so both engines order by fractional epoch
# seconds (microsecond timestamps are exact in a double).  One window
# spec -> one exchange + one sort for both aggregates.
def events_rolling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_seconds("ts"))
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        # trailing frame over exact cents (fixed-point policy,
        # scalars.py): identical integers at every frame position in
        # both engines, whatever their frame evaluation strategy
        round_portable(
            F.sum(fixed_units("value", 2)).over(w) / F.lit(100.0), 3
        ).alias("sum_trailing"),
    )


register("events_rolling_10min", events_rolling_10min, """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_trailing,
       round(CAST(SUM(CAST(round((value) * 100, 0) AS BIGINT))
                  OVER w / 100.0 AS DOUBLE), 3) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
""")


# ------------------------------------------------------------------
# Data-quality audit: the invariant checks a pipeline runs before
# promoting a snapshot -- key uniqueness, referential integrity
# (orders -> customer), null counts.  Three independent single-row
# aggregates cross-joined (each side is one row, so the joins are
# broadcast nested loops of 1x1 -- free).  The anti join is the
# distributed formulation of NOT EXISTS.
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("n_null_totalprice"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias("n_null_orderdate"),
    )
    dups = (
        o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup_orderkeys"))
    )
    orphans = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_orders"))
    )
    return base.crossJoin(dups).crossJoin(orphans)


register("data_quality_audit", data_quality_audit, """
SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
       (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL) AS n_null_totalprice,
       (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS n_null_orderdate,
       (SELECT COUNT(*) FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
        )) AS n_dup_orderkeys,
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       ) AS n_orphan_orders
""")


# ------------------------------------------------------------------
# Gaps-and-islands: collapse each user's consecutive runs of the same
# event_type into (run_start, run_end, run_len) rows.  The oracle keeps
# the classic row_number() difference form; Spark uses the lag form
# (new_run = type != lag(type), grp = running count of run starts) --
# both windows share ONE order (user_id / ts, event_id), so the single
# exchange is followed by a single sort, where the rn-difference form's
# second window (partitioned by user_id, event_type) forced a second
# full sort of the data (r12 A/B: 0.343 -> 0.315 s at sf0.1).  grp
# values differ between the two forms but grp is dropped; runs are
# maximal same-type streaks under the same total order either way, so
# the (user, type, len, start, end) multiset is identical.
def events_state_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: widen the scan by the window key -- AQE parallelism-first
    # coalescing shrinks the ~2 MB window exchange to a couple of
    # partitions, serializing the sort+window; the explicit repartition
    # is the same exchange, REPARTITION_BY_NUM (coalescing-exempt).
    # Interleaved A/B (OPTIMIZATION_r12.md change #5): 0.368 -> 0.222 s
    # on top of the lag-form rewrite.  File-gated no-op at scale.
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"), by="user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # eqNullSafe, not ==: with a nullable event_type, `lag(type) ==
    # type` is NULL for consecutive NULLs, so each NULL row would start
    # its own run, where the oracle's rn-difference form groups
    # consecutive NULLs into one run.  Null-safe equality makes the lag
    # form equivalent for nullable inputs too (identical on the
    # null-free fixtures; first-row lag NULL vs non-null type is false
    # either way, so run starts are unchanged).
    new_run = F.when(
        F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 0
    ).otherwise(1)
    runs = ev.select(
        "user_id", "event_type", "ts",
        F.sum(new_run)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    return (
        runs.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
        )
        .drop("grp")
    )


register("events_state_runs", events_state_runs, """
WITH r AS (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS grp
    FROM events
)
SELECT user_id, event_type,
       COUNT(*) AS run_len,
       MIN(ts) AS run_start,
       MAX(ts) AS run_end
FROM r
GROUP BY user_id, event_type, grp
""")


# ------------------------------------------------------------------
# Forward fill (ignore-nulls carry-forward): annotate every event with
# the user's most recent purchase value as of that event.  The
# pipeline shape behind feature snapshots and sensor backfill;
# last(col, ignorenulls=True) over a running frame is Spark's
# LOCF.  One exchange + sort.
def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id", "user_id", "ts",
        round_portable(F.last(pv, ignorenulls=True).over(w), 3)
        .alias("last_purchase_value"),
    )


register("events_forward_fill", events_forward_fill, """
SELECT event_id, user_id, ts,
       round(CAST(last_value(
           CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS
       ) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 3)
       AS last_purchase_value
FROM events
""")


# ------------------------------------------------------------------
# Multiset set-ops: EXCEPT ALL / INTERSECT ALL keep duplicate
# cardinality (bag semantics), unlike the distinct-ifying EXCEPT /
# INTERSECT already in the corpus.  Both arms tagged and unioned so
# the pair verifies as one result.
def orderdate_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderdate")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderdate")
    return (
        a.exceptAll(b).withColumn("op", F.lit("except_all"))
        .unionAll(a.intersectAll(b).withColumn("op", F.lit("intersect_all")))
    )


register("orderdate_multiset_ops", orderdate_multiset_ops, """
SELECT o_orderdate, 'except_all' AS op FROM (
    SELECT o_orderdate FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderdate FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT o_orderdate, 'intersect_all' AS op FROM (
    SELECT o_orderdate FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_orderdate FROM orders WHERE o_orderstatus = 'F'
)
""")
