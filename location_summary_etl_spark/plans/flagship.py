"""Flagship pipeline: the reference ETL end-to-end, Spark-first.

Mirrors the dataflow of /root/reference/src/main/scala/App.scala:166-263
(latest-snapshot facts -> per-group averages -> dim joins -> min-max
0-100 score -> round -> rename/project -> audit date) over the testdata
star schema:

    reference                     this pipeline
    ---------                     -------------
    dim_location (state='DE')     nation x region dims (broadcast)
    latest-snapshot fact filter   latest order per customer (argmax)
    per-location AVG facts        per-nation avg acctbal / order total
    min-max crime/expense score   min-max price score (in-plan)
    summary_zip_code append       summary dataframe (writer in sources)

Scale notes: the wide shuffles are the customer-key argmax (one hash
exchange of the orders scan, sorted for the window) and the nation-key
aggregates (partial-aggregated map-side).  All dimension joins are
broadcast.  The min-max bounds and the audit snapshot date ride one
window pass over the nation-grain aggregate, not driver collects, so
the whole job is a single lineage with no eager actions
(vs. the reference's 2 blocking ``.first`` calls at App.scala:179,195).
The argmax takes the window form at every input size; the join form
and the fused shapes it was measured against are recorded in
OPTIMIZATION_r14.md ("Dual-form selectors retired").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    fixed_units,
    round_portable,
)
from location_summary_etl_spark.operators.normalize import minmax_score_window
from location_summary_etl_spark.operators.snapshot import (
    latest_snapshot_window,
)
from location_summary_etl_spark.operators.windows import (
    guarded_unpartitioned,
)
from location_summary_etl_spark.sources.registry import load_table

FINAL_COLS = [
    "n_name", "r_name", "avg_acctbal", "avg_order_total", "order_count",
    "price_score", "snapshot_date",
]
_ROUNDED = {"avg_acctbal", "avg_order_total", "price_score"}


def flagship_nation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: avg customer balance, avg/count of each customer's
    latest order, min-max normalized 0-100 price score, audit date."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    # A3: greatest-n-per-group -- latest order(s) per customer, ties
    # kept per the reference's 3-way-join semantics (App.scala:41-48).
    # One hash exchange on o_custkey at any scale; no broadcast side
    # whose size grows with |customer|.
    latest = latest_snapshot_window(orders, ["o_custkey"], "o_orderdate")

    # B4/B5: join to customer, aggregate to nation grain.  The same
    # aggregate also carries max(o_orderdate): the ``latest`` rows hold
    # every customer's max order date, so the global max -- the audit
    # snapshot date (B13) -- is recoverable downstream from the
    # nation-grain maxes with a window, instead of a third orders scan
    # + grand-total agg + broadcast lineage (3 fewer jobs, one fewer
    # fact-table pass at any scale).
    per_nation = (
        latest.join(customer, latest["o_custkey"] == customer["c_custkey"], "inner")
        .groupBy("c_nationkey")
        .agg(
            # exact cents (fixed-point policy, functions/scalars.py):
            # the unrounded average feeds the min-max score, so score
            # inputs are identical doubles in both engines too
            # F.count(col) skips nulls -- preserves AVG's null
            # semantics (order_count below keeps COUNT(*))
            (F.sum(fixed_units("o_totalprice", 2))
             / (F.lit(100.0) * F.count("o_totalprice")))
            .alias("avg_order_total"),
            F.count("*").alias("order_count"),
            F.max(F.col("o_orderdate").cast("date")).alias("_max_odate"),
        )
    )
    bal = customer.groupBy("c_nationkey").agg(
        (F.sum(fixed_units("c_acctbal", 2))
         / (F.lit(100.0) * F.count("c_acctbal"))).alias("avg_acctbal")
    )

    # B8 + B13: min-max score and the audit date over the nation-grain
    # aggregate.  Window form: per_nation is aggregate-sized (|nations|
    # rows), and the single empty-partition window pass serves BOTH the
    # score bounds and the global-max snapshot date -- the
    # broadcast-bounds form would re-evaluate the orders->customer
    # lineage under the bounds agg.
    # guarded_unpartitioned enforces the aggregate-sized claim in-plan
    # (same empty window spec as the score bounds -> CollapseWindow
    # folds score, snapshot date, and both guards into ONE WindowExec).
    # _max_odate rides along to the final projection, which drops it.
    scored = minmax_score_window(
        per_nation, "avg_order_total", "price_score",
        snapshot_date=guarded_unpartitioned(
            F.max("_max_odate").over(Window.partitionBy()),
            "flagship per-nation aggregate"),
    )

    return (
        scored.join(bal, "c_nationkey", "inner")
        .join(F.broadcast(nation), scored["c_nationkey"] == nation["n_nationkey"], "inner")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner")
        # B14 final projection, with B12 in the same step: round the
        # display columns (score computed on unrounded input).
        # round_portable, not F.round: matches DuckDB's double rounding.
        .select(*(round_portable(c, 2).alias(c) if c in _ROUNDED else c
                  for c in FINAL_COLS))
    )


FLAGSHIP_ORACLE_SQL = """
WITH latest AS (
    SELECT o.*
    FROM orders o
    JOIN (SELECT o_custkey, MAX(o_orderdate) AS md
          FROM orders GROUP BY o_custkey) m
      ON o.o_custkey = m.o_custkey AND o.o_orderdate = m.md
),
per_nation AS (
    SELECT c.c_nationkey,
           SUM(CAST(round(l.o_totalprice * 100, 0) AS BIGINT))
               / (100.0 * COUNT(o_totalprice)) AS avg_order_total,
           COUNT(*) AS order_count,
           CAST(MAX(l.o_orderdate) AS DATE) AS max_odate
    FROM latest l
    JOIN customer c ON l.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
),
bal AS (
    SELECT c_nationkey,
           SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
               / (100.0 * COUNT(c_acctbal)) AS avg_acctbal
    FROM customer GROUP BY c_nationkey
),
b AS (SELECT MIN(avg_order_total) AS mn, MAX(avg_order_total) AS mx,
             MAX(max_odate) AS snapshot_date
      FROM per_nation)
SELECT n.n_name,
       r.r_name,
       ROUND(bal.avg_acctbal, 2) AS avg_acctbal,
       ROUND(pn.avg_order_total, 2) AS avg_order_total,
       pn.order_count,
       ROUND(CASE WHEN b.mx <> b.mn
                  THEN (pn.avg_order_total - b.mn) / (b.mx - b.mn) * 100
             END, 2) AS price_score,
       b.snapshot_date
FROM per_nation pn
JOIN bal ON pn.c_nationkey = bal.c_nationkey
JOIN nation n ON pn.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
CROSS JOIN b
"""
