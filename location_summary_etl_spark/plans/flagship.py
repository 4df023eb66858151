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

Scale notes: the only wide shuffles are the two groupBys (customer-key
argmax, nation-key aggregates); both are partial-aggregated map-side.
All dimension joins are broadcast.  The min-max bounds and the audit
snapshot date are 1-row broadcast joins, not driver collects, so the
whole job is a single lineage with no eager actions
(vs. the reference's 2 blocking ``.first`` calls at App.scala:179,195).

Measured dead ends (r5, sf0.1 local[32], min-of-6 noop-sink runs,
side-by-side in one session -- kept so the next tuner doesn't retry
them).  The r4 verdict suggested fusing the two customer scans
(per_nation inner-join + the separate ``bal`` aggregate):

* **Customer-scan fusion** (pre-aggregate latest per customer, LEFT
  join into customer 1:1, single nation-grain groupBy computing both
  aggregates): 0.52-0.64 s vs 0.43-0.57 s for this plan (+15-20%).
  The 15k-row dimension re-scan the fusion deletes costs ~nothing at
  bench scale, while the extra blocking pre-aggregate sits on the hot
  path.
* **Fused single-scan argmax** (groupBy (custkey, orderdate) pre-agg
  -> max(struct(date, stats)) -- one orders scan, no join-back):
  0.79-0.82 s vs 0.60-0.63 s (+30%).  The argmax JOIN form never
  shuffles orders at all (the per-key maxes broadcast and the
  join-back streams the scan), so "scan orders once but shuffle the
  whole (custkey, date) pre-aggregate" loses to "scan orders twice,
  shuffle nothing wide".

Both fusions would win only where customer is too big to rescan
cheaply AND the per-cust maxes too big to broadcast -- at that point
flip ``use_window=True`` (single orders scan+shuffle) rather than
resurrecting these shapes.

Confirmed at the 100x tier (bench_tiers/sf10, 1.5M customers / 15M
orders, min-of-3 interleaved in one session): join form 2.13-2.36 s,
fused single-scan 1.96-2.00 s (the fusion DOES cross over once the
per-cust max broadcast reaches ~20 MB), window form 1.71 s -- the
``use_window`` flip beats the fused shape exactly as predicted.  As of
r7 the flip is AUTOMATIC: ``use_window=None`` estimates the max side's
broadcast size from the customer table's source bytes and flips to the
window form when it exceeds a quarter of the session broadcast cap
(constants and measurements in :func:`flagship_nation_summary`).  The
r7 re-measurement moved the crossover EARLIER than r5's: the window
form already wins at sf1 (0.46 vs 0.63 s) and ties at sf0.1, so the
gate flips between those tiers; at bench scale it keeps the join form.

MEASURED FLOOR for the window form's sf10 residue (r8,
probe-bracketed quiet window [0.92..1.29 s],
min-of-4 interleaved noop-sink runs, cumulative stages):

    orders (custkey, date, totalprice) bare scan   0.104 s
    + hash exchange on o_custkey                   0.861 s
    + sortWithinPartitions                         0.924 s
    + window max + filter (the argmax)             1.061 s
    full query (joins, aggs, score, dims)          1.834 s

The single fact EXCHANGE is 0.76 s -- alone 2.3x DuckDB's entire
query (0.333 s): the residue is shuffle materialization (ser/de +
spill files for 15M x 24 B rows) plus the downstream customer-side
exchange pair, not a removable plan stage.  The sort the window adds
costs 0.06 s (ints, radix-friendly) -- so the "sort-free" rewrite the
r7 verdict suggested was measured and LOSES: a reused-exchange
hash-agg argmax (maxes and probe sharing ONE shuffled child via
ReusedExchange, AQE SMJ->SHJ, zero sorts) takes 1.931 s for the
argmax alone and 2.533 s end-to-end -- building a 1.5M-entry hash
relation per partition costs 14x the sort it removes.  Both exchanges
shrink per-task with executor count while DuckDB's in-process hash
agg is single-node by construction; this is the same
distributed-shuffle-tax floor as ``top_orders_per_nation``
(plans/corpus_reference.py), now decomposed to the same standard.
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
    latest_snapshot_join,
    latest_snapshot_window,
)
from location_summary_etl_spark.operators.windows import (
    guarded_unpartitioned,
)
from location_summary_etl_spark.operators.gates import gate, source_fits
from location_summary_etl_spark.sources.registry import load_table

FINAL_COLS = [
    "n_name", "r_name", "avg_acctbal", "avg_order_total", "order_count",
    "price_score", "snapshot_date",
]

# Auto-gate cost constants (measured r7; see the comment in
# flagship_nation_summary): compressed-parquet -> in-memory
# HashedRelation expansion for the (custkey, date) max side, and the
# cap fraction above which a broadcast is no longer a clear win.
_MAXSIDE_EXPANSION = 4
_BROADCAST_MARGIN = 4


def flagship_nation_summary(spark: SparkSession, sf_dir: str,
                            use_window: bool | None = None) -> DataFrame:
    """Per nation: avg customer balance, avg/count of each customer's
    latest order, min-max normalized 0-100 price score, audit date."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    # A3: greatest-n-per-group -- latest order(s) per customer.  Two
    # forms, auto-selected by input stats (use_window=None); an explicit
    # bool pins the form (tests, A/B).  The join form wins only while
    # the per-customer MAX side is a CHEAP broadcast (the pre-aggregate
    # combines map-side and the join-back streams the orders scan -- no
    # wide shuffle at all).  As the side grows, broadcast build+ship
    # cost plus the second orders scan overtake the window form's
    # single shuffle+sort.  Measured (r7, min-of-6/8 interleaved
    # noop-sink runs, one session per tier): sf0.1 join 0.39 s vs
    # window 0.33 s (tie within host noise), sf1 0.63 vs 0.46 (window
    # -27%), sf10 4.22 vs 2.88 (window -32%) -- the crossover lands
    # between sf0.1 and sf1, i.e. while the max side still FITS the
    # 32 MB session cap (~10 MB estimated at sf1): a near-cap broadcast
    # is already a losing plan, and at 1000 executors it is cap x
    # executors of aggregate network traffic besides.  Gate, driver-side
    # stats only (no job): estimated max-side broadcast bytes =
    # customer source bytes x4 (measured ~17 B/row compressed parquet
    # -> ~64 B/row (custkey, date) HashedRelation; the side has
    # <= |customer| rows) must stay under a QUARTER of the session
    # broadcast cap.  Unknown stats (non-file source) flip
    # conservatively to the window form: one declarative shuffle, never
    # a forced-broadcast OOM.  Both forms keep ties, per the
    # reference's 3-way-join semantics (App.scala:41-48).
    use_window = gate(
        use_window,
        lambda: not source_fits(customer, expansion=_MAXSIDE_EXPANSION,
                                fraction=_BROADCAST_MARGIN))
    argmax = latest_snapshot_window if use_window else latest_snapshot_join
    latest = argmax(orders, ["o_custkey"], "o_orderdate")

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
    scored = minmax_score_window(
        per_nation, "avg_order_total", "price_score"
    ).withColumn(
        "snapshot_date",
        guarded_unpartitioned(
            F.max("_max_odate").over(Window.partitionBy()),
            "flagship per-nation aggregate"),
    ).drop("_max_odate")

    out = (
        scored.join(bal, "c_nationkey", "inner")
        .join(F.broadcast(nation), scored["c_nationkey"] == nation["n_nationkey"], "inner")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner")
        # B12: round display columns (score computed on unrounded input).
        # round_portable, not F.round: matches DuckDB's double rounding.
        .withColumn("avg_acctbal", round_portable("avg_acctbal", 2))
        .withColumn("avg_order_total", round_portable("avg_order_total", 2))
        .withColumn("price_score", round_portable("price_score", 2))
        .select(*FINAL_COLS)  # B14 final projection
    )
    return out


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
