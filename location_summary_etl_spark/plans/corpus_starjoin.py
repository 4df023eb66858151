"""Composite star-join analytics: multi-fact join pipelines in the
classic TPC-H shapes (Q3 / Q5 / Q10 adapted to this star schema), plus
statistical aggregates and struct-argmax greatest-per-group.

The reference's widest plan is a chain of two-table equi-joins over
pre-aggregated per-location frames (/root/reference/src/main/scala/
App.scala:217-232).  These queries exercise what that shape becomes at
warehouse scale: several large facts joined *before* aggregation, where
join order and build-side choice dominate the runtime.

Scale notes (100 TB):

- **Dimension-first pruning.**  ``region_local_supplier_volume``
  applies the region -> nation broadcast chain to ``customer`` *before*
  the customer |><| orders shuffle, so the expensive fact-fact joins see
  only ~1/5 of customers.  Catalyst cannot infer this reorder (the
  filter rides a join, not a predicate), so expressing it is part of
  the query design.
- **Fact-fact joins shuffle on their key; everything else broadcasts.**
  orders |><| lineitem is the one unavoidable co-partitioning
  (bucketed layouts remove it -- sources/writers.py); nation / region /
  supplier ride broadcast hash joins with zero shuffle.
- **Top-k never sorts globally.**  ``orderBy().limit(k)`` compiles to
  TakeOrderedAndProject: per-partition heaps of k rows, merged on the
  driver -- O(n) work, no full-sort exchange.  Ties at the boundary are
  broken by unique keys so the result SET is deterministic (the oracle
  hash is order-insensitive but the LIMIT cut must agree).
- **Struct-argmax.**  ``max(struct(orderingcols..., payload))`` is a
  plain partial+final aggregate -- greatest-per-group with no window
  and no per-group state beyond one struct (SortAggregate locally,
  since struct buffers aren't hash-aggregable, but the shuffle still
  carries only one struct per group per partition -- the window form
  shuffles every row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    fixed_units,
    round_portable,
)
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.sources.registry import load_table


def _revenue() -> F.Column:
    # built lazily: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _revenue_units() -> F.Column:
    # exact scale-4 integer units of the discounted price (price is
    # 2-decimal, discount 2-decimal -> the product is a scale-4
    # decimal): revenue sums become exact integer sums, deterministic
    # under any partitioning, and the ORDER BY revenue ... LIMIT cuts
    # are tie-stable (fixed-point policy, functions/scalars.py).
    # Widened to DECIMAL(38,0) pre-sum: a long accumulator at scale 4
    # binds near 9.2e14 measure units, below the 100 TB envelope, and
    # ANSI Spark raises where DuckDB widens (scalars.py range
    # analysis; widening measured-free on Q1 at sf1).
    return fixed_units(_revenue(), 4).cast("decimal(38,0)")


# ------------------------------------------------------ Q3: shipping priority
Q3_CUTOFF = "1998-01-01"
Q3_SEGMENT = "BUILDING"


def order_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 open orders by outstanding revenue (TPC-H Q3 shape):
    BUILDING-segment customers, orders placed before the cutoff with
    lineitems still shipping after it.  Revenue groups exactly on the
    join key, so lineitem pre-aggregates per orderkey BELOW the
    fact-fact join (eager aggregation): the orderkey shuffle carries
    one row per open order instead of ~4 lineitems, and the join
    probes the collapsed side.  o_orderdate is functionally dependent
    on the key through the join, so the result is identical to the
    aggregate-above-join form.  Precondition (stronger than the FD on
    o_orderdate alone): ``o_orderkey`` is UNIQUE in orders.  The
    pre-rewrite post-join groupBy would merge rows from duplicate
    join matches; with the groupBy now below the join, a duplicated
    orderkey would fan the pre-aggregated revenue out into duplicate
    un-merged result rows.  TPC-H data guarantees the PK, and the
    oracle SQL's GROUP BY assumes the same uniqueness -- interleaved A/B
    (r7): eager 0.73 s vs 0.88 s at sf1,
    5.70 s vs 6.84 s at sf10, result sets byte-identical at sf0.1.
    customer |><| orders still rides ``broadcast_if_small`` (see
    region_local_supplier_volume): at bench scale the pre-aggregated
    lineitem side then joins without any further shuffle, at
    warehouse scale the gate never fires and both sides shuffle on
    orderkey -- the lineitem side now ~4x smaller than pre-rewrite.
    Trade-off: the pre-aggregate also covers open orders the segment
    filter later drops (~segment-fraction x date-window of them), so
    a far more selective customer predicate would favor the
    aggregate-above-join form again; at Q3's selectivity (1/5
    segment x ~half date window) the shuffled-bytes reduction
    dominates at every measured tier, and the extra work is map-side
    partial aggregation that never hits the network.  A TakeOrdered
    heap keeps 10 -- no global sort.

    MEASURED FLOOR for the post-rewrite sf10 residue (r8,
    min across two probe-bracketed runs,
    cumulative stages): filtered lineitem scan 0.31 s; + the orderkey
    aggregate (partial agg + EXCHANGE + final) 1.64 s; customer x
    orders build side alone 0.31 s; full query 2.82 s.  The orderkey
    exchange dominates -- ~4 lineitems/order spread over 32 source
    partitions means partial aggregation barely combines, so the
    exchange carries nearly the raw filtered row count.  Three
    alternatives measured against it, all in-code:

    * BUCKETED LAYOUT (r8): lineitem rewritten
      with write_bucketed(l_orderkey, 32); the plan drops the orderkey
      exchange entirely (asserted: 2 exchanges vs 3, results
      byte-identical) yet times NEUTRAL at local[32] sf10 (2.44 vs
      2.27 s min-of-4, quiet window) -- a loopback shuffle costs about
      what the fixed-32-bucket scan loses in AQE-sized parallelism.
      This is still the documented 100 TB answer: on a real cluster
      the exchange the bucket spec deletes is a NETWORK pass over the
      fact table, not a memcpy.
    * SEMI-FILTER BELOW THE AGGREGATE (r8):
      broadcast-semi-join lineitem against the open-order keys before
      aggregating (Spark's runtime bloom filter does not inject here
      -- the aggregate blocks InjectRuntimeFilter).  sf1 0.92 vs
      0.79 s (LOSES: fixed build+probe overhead), sf10 2.15 vs 2.65 s
      (wins -19%) -- but the win requires force-broadcasting ~1.5M
      keys (~50 MB as a hashed relation), past the 32 MB session cap
      at exactly the tier it helps, and the key set scales with the
      corpus.  REJECTED as scale-unsafe, the same call the r5
      region_local_supplier_volume hint got; the scale-safe variant
      (a broadcast Bloom filter) is what InjectRuntimeFilter will do
      when the planner learns to push it through aggregates.
    * AGGREGATE ABOVE THE JOIN (r7): loses
      16-17% at sf1/sf10 -- see above.

    Residue verdict: one fact exchange whose per-task cost shrinks
    with executor count; DuckDB's 0.40 s is the same dataflow without
    shuffle materialization.

    r12: the lineitem scan is widened with ``ensure_parallelism(by=
    "l_orderkey")``.  At bench scale the single-row-group file scans
    as ONE partition, so the per-orderkey partial aggregate (a ~150k
    group hash table over 600k rows) ran serially inside the scan
    stage; hash-partitioning by the aggregation key moves it wide and
    the exchange the aggregate needed is REPLACED, not added -- same
    exchange count, the shuffle just carries filtered raw rows
    (~2x the bytes of the collapsed rows, trivial at this size)
    instead of serializing the group build.  Interleaved A/B
    (OPTIMIZATION_r12.md change #4): 0.671 -> 0.440 s (-34%).  Queries
    where the same widening would ADD an exchange (Q1, Q5, Q17, the
    map-only derives) measured 19-258% WORSE and keep their shapes.
    At production scale the file-metadata gate makes this a no-op."""
    from location_summary_etl_spark.session import (
        broadcast_if_small,
        ensure_parallelism,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem"), by="l_orderkey")
    cutoff = F.lit(Q3_CUTOFF).cast("timestamp_ntz")
    cust_ord = (
        customer.filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
        .join(
            orders.filter(F.col("o_orderdate") < cutoff)
            .select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
    )
    lin_rev = (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .groupBy("l_orderkey")
        .agg(F.sum(_revenue_units()).alias("_rev"))
    )
    return (
        lin_rev.join(
            broadcast_if_small(cust_ord),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "l_orderkey", "o_orderdate",
            round_portable(F.col("_rev") / F.lit(10000.0), 2)
            .alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate,
       round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
  AND l_shipdate  > TIMESTAMP '{Q3_CUTOFF}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ------------------------------------------- Q5: local supplier volume
Q5_REGION = "EUROPE"
Q5_FROM, Q5_TO = "1996-01-01", "1998-01-01"


def region_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation where customer and supplier share the nation
    (TPC-H Q5 shape), one region, two-year window.

    The nation |><| region dimension chain is COMPILED, not joined:
    both dims are schema-bounded (25 and 5 rows by the data model, at
    any scale factor), so ``compile_tiny_dim`` reads them driver-side
    with pyarrow (~ms, no Spark job) and the region's nation set
    becomes an IN-filter on ``customer`` plus a CASE map for the
    output name -- two broadcast-exchange stages deleted (measured
    0.71 -> 0.49 s at sf0.1).  If someone repoints the dims at an
    unbounded table the compiler returns None and the plan falls back
    to the broadcast-join chain; the customer-nation = supplier-nation
    constraint stays a (suppkey, nationkey) broadcast join either way.

    The date-filtered orders |><| pruned-customer side goes through
    ``broadcast_if_small``: when its source files total a few MB (bench
    scale) the hint deletes the orderkey shuffle of BOTH fact sides
    (measured 0.85s -> 0.61s at sf0.1); at warehouse scale the same
    check sees TB-sized sources, never fires, and the fact-fact join
    stays a declarative shuffle join for AQE to lay out.

    r7 addendum: at the 100x tier the declarative fact-fact join now
    lands as an AQE-converted shuffled hash join (session-wide
    maxShuffledHashJoinLocalMapThreshold, session.py) -- interleaved
    toggle measured 1.63 -> 1.25 s (-23%, both fact-side sorts
    deleted).  A plan-time ``shuffle_hash`` hint measured the same win
    but was rejected: the hint forces the hash build regardless of
    runtime partition sizes, where the AQE conversion is gated on
    them."""
    from location_summary_etl_spark.session import broadcast_if_small
    from location_summary_etl_spark.sources.registry import compile_tiny_dim

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")

    nat = compile_tiny_dim(sf_dir, "nation",
                           ("n_nationkey", "n_name", "n_regionkey"))
    reg = compile_tiny_dim(sf_dir, "region", ("r_regionkey", "r_name"))
    if nat is not None and reg is not None:
        rkeys = {rk for rk, rn in reg if rn == Q5_REGION}
        nkeys = [nk for nk, _nn, nrk in nat if nrk in rkeys]
        name_case = "CASE c_nationkey " + " ".join(
            f"WHEN {nk} THEN '{nn}'" for nk, nn, nrk in nat
            if nrk in rkeys) + " END"
        pruned_customers = (
            customer.filter(F.col("c_nationkey").isin(nkeys))
            .select("c_custkey", "c_nationkey",
                    F.expr(name_case).alias("n_name"))
        )
    else:  # dims outgrew the literal cap: broadcast-join chain
        nation = load_table(spark, sf_dir, "nation")
        region = load_table(spark, sf_dir, "region")
        region_nations = nation.join(
            F.broadcast(region.filter(F.col("r_name") == Q5_REGION)),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select("n_nationkey", "n_name")
        pruned_customers = customer.select("c_custkey", "c_nationkey").join(
            F.broadcast(region_nations),
            customer["c_nationkey"] == region_nations["n_nationkey"],
        )

    ord_cust = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(Q5_FROM).cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(Q5_TO).cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
        .join(broadcast_if_small(pruned_customers),
              F.col("o_custkey") == F.col("c_custkey"))
    )

    # Region-pruned supplier side (1/5 of suppliers): in the compiled
    # path the nation-key set is literal; the fallback path semi-joins
    # the broadcast dim chain.  Either way ~2 small columns survive.
    supp = supplier.select("s_suppkey", "s_nationkey")
    if nat is not None and reg is not None:
        supp = supp.filter(F.col("s_nationkey").isin(nkeys))
    else:
        supp = supp.join(
            F.broadcast(region_nations.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")

    line = lineitem.select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp_hinted = broadcast_if_small(supp)
    if supp_hinted is not supp:
        # Supplier side broadcasts: apply its 1/5 nation selectivity to
        # lineitem BEFORE the orderkey shuffle (map-side, deletes ~80 %
        # of the widest exchange -- measured 4.6 -> 1.7 s at the 100x
        # tier where the fact-fact join has outgrown its broadcast).
        # The customer-nation = supplier-nation constraint becomes a
        # post-join filter; inner-join + filter is the same relation.
        joined = (
            line.join(supp_hinted, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(broadcast_if_small(ord_cust),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        )
    else:
        # Supplier side too big to broadcast (true warehouse scale):
        # keep the orderkey join first -- it reduces lineitem to the
        # date-window/region slice (~6 %) before any suppkey shuffle,
        # whereas supplier-first would shuffle the FULL fact on
        # suppkey.  Note this branch no longer force-broadcasts the
        # unfiltered supplier table (an OOM at real scale) -- the
        # declarative join is AQE's to lay out.
        joined = (
            line.join(broadcast_if_small(ord_cust),
                      F.col("o_orderkey") == F.col("l_orderkey"))
            .join(supp,
                  (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
        )
    return (
        joined.groupBy("n_name")
        .agg(round_portable(
            F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name,
       round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_FROM}'
  AND o_orderdate <  TIMESTAMP '{Q5_TO}'
GROUP BY n_name
"""


# --------------------------------------------- Q10: returned-item losers
Q10_FROM, Q10_TO = "1997-10-01", "1998-01-01"


def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue on RETURNED items for one order
    quarter (TPC-H Q10 shape).  lineitem is pre-filtered to
    l_returnflag='R' at the scan (pushed filter), orders to the
    quarter; the join runs on the reduced sets.  nation broadcasts;
    the per-customer aggregate then TakeOrdered(20) by revenue with
    the unique custkey breaking boundary ties."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(Q10_FROM).cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(Q10_TO).cast("timestamp_ntz"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round_portable(
            F.sum(_revenue_units()) / F.lit(10000.0), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{Q10_FROM}'
  AND o_orderdate <  TIMESTAMP '{Q10_TO}'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# -------------------------------------- statistical aggregates per segment
def segment_order_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates per market segment: sample stddev of
    order totals, customer-balance/order-total correlation and sample
    covariance, urgent-order share via conditional count.  All are
    single-pass partial+final aggregates (Welford-style merge states),
    so the shuffle carries one state row per (partition, segment) at
    any scale -- the same profile as a plain sum."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        customer.select("c_custkey", "c_mktsegment", "c_acctbal"),
        orders["o_custkey"] == customer["c_custkey"],
    )
    n_urgent = F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        round_portable(F.stddev_samp("o_totalprice"), 4).alias("stddev_price"),
        round_portable(F.corr("c_acctbal", "o_totalprice"), 6).alias("corr_bal_price"),
        round_portable(F.covar_samp("c_acctbal", "o_totalprice"), 2).alias("covar_bal_price"),
        round_portable(n_urgent / F.count("*"), 6).alias("urgent_share"),
    )


SEGMENT_STATS_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       round(CAST(stddev_samp(o_totalprice) AS DOUBLE), 4) AS stddev_price,
       round(CAST(corr(c_acctbal, o_totalprice) AS DOUBLE), 6) AS corr_bal_price,
       round(CAST(covar_samp(c_acctbal, o_totalprice) AS DOUBLE), 2) AS covar_bal_price,
       round(CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                  AS DOUBLE) / COUNT(*), 6) AS urgent_share
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ----------------------------------- struct-argmax greatest-per-group
def nation_top_balance_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richest customer per nation via struct-argmax:
    ``max(struct(c_acctbal, c_custkey, c_name))`` picks the row with
    the greatest balance (custkey breaks ties deterministically) in ONE
    partial+final aggregate.  Struct buffers compile to SortAggregate
    (local per-partition sorts, no exchange for the partial), but the
    decisive scale property holds: map-side combine means the shuffle
    carries one 3-field struct per nation per map partition -- the
    window formulation shuffles EVERY row to sort it.  Third
    formulation of the reference's greatest-n-per-group
    (operators/snapshot.py has the join and window forms;
    /root/reference/src/main/scala/App.scala:41-48 is the join
    form)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    best = (
        customer.groupBy("c_nationkey")
        .agg(F.max(F.struct("c_acctbal", "c_custkey", "c_name")).alias("top"))
        .select(
            "c_nationkey",
            F.col("top.c_custkey").alias("c_custkey"),
            F.col("top.c_name").alias("c_name"),
            F.col("top.c_acctbal").alias("c_acctbal"),
        )
    )
    return best.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        best["c_nationkey"] == nation["n_nationkey"],
    ).select("n_name", "c_custkey", "c_name", "c_acctbal")


NATION_TOP_BALANCE_SQL = """
SELECT n_name, c_custkey, c_name, c_acctbal
FROM (
    SELECT c_nationkey, c_custkey, c_name, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
    FROM customer
) t
JOIN nation ON c_nationkey = n_nationkey
WHERE rn = 1
"""


register("order_shipping_priority", order_shipping_priority, Q3_SQL)
register("region_local_supplier_volume", region_local_supplier_volume, Q5_SQL)
register("returned_item_top_customers", returned_item_top_customers, Q10_SQL)
register("segment_order_statistics", segment_order_statistics, SEGMENT_STATS_SQL)
register("nation_top_balance_customer", nation_top_balance_customer, NATION_TOP_BALANCE_SQL)


# ------------------------------------------ Q19: disjunctive predicates
Q19_ARMS = [  # (brand, size_lo, size_hi, qty_lo, qty_hi)
    ("Brand#4", 1, 10, 1.0, 20.0),
    ("Brand#2", 5, 15, 10.0, 30.0),
    ("Brand#19", 10, 25, 20.0, 40.0),
]


def part_promo_disjunction_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems matching ANY of three brand/size/quantity
    arm predicates (TPC-H Q19 shape: OR-of-ANDs across both join
    sides).  The equi-key (partkey) carries the broadcast hash join;
    the disjunction stays a post-join filter -- but Catalyst's CNF
    conversion extracts the per-side implied predicates (brand IN (...)
    on part, quantity range on lineitem) and pushes them into the
    scans, so the join probes a fraction of each table."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    arm = None
    for brand, slo, shi, qlo, qhi in Q19_ARMS:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        arm = cond if arm is None else (arm | cond)
    return (
        lineitem.join(F.broadcast(part),
                      F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm)
        .agg(
            round_portable(
                F.sum(_revenue_units()) / F.lit(10000.0), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


_Q19_SQL_ARMS = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
    f"AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in Q19_ARMS
)

register("part_promo_disjunction_revenue", part_promo_disjunction_revenue, f"""
SELECT round(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS DOUBLE), 2)
           AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_Q19_SQL_ARMS}
""")
