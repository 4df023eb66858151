"""Events corpus: JSON extraction, event-time windows, sessionization,
and the as-of join, each oracle-paired."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    avg_fixed_point,
    fixed_units,
    round_portable,
    sum_fixed_point,
)
from location_summary_etl_spark.operators.asof import asof_join_backward
from location_summary_etl_spark.operators.windows import (
    epoch_seconds,
    sessionize,
    sliding_buckets,
    tumbling_bucket,
)
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.session import ensure_parallelism
from location_summary_etl_spark.sources.registry import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ------------------------------------------------------------------
# JSON extraction (extension per SURVEY §2.D: string/json functions are
# absent from the reference).
def events_json_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # fixed-point policy (functions/scalars.py): value is a
            # 2-decimal measure, k an integer -- exact unit sums make
            # the averages deterministic and oracle parity structural
            avg_fixed_point("value", 2, 4).alias("avg_value"),
            avg_fixed_point("k", 0, 4).alias("avg_k"),
        )
    )


register("events_json_kpis", events_json_kpis, """
SELECT event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(round((value) * 100, 0) AS BIGINT))
                  / (100.0 * COUNT(value)) AS DOUBLE), 4) AS avg_value,
       round(CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                  / (1.0 * COUNT(json_extract_string(props, '$.k')))
             AS DOUBLE), 4) AS avg_k
FROM events
GROUP BY event_type
""")


# Schema'd JSON parsing: from_json with an explicit struct schema
# parses the document ONCE into a typed column (get_json_object
# re-parses the string per extracted path -- the wrong shape when a
# pipeline pulls several fields).  Distribution of the parsed field.
def events_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    parsed = ev.withColumn(
        "p", F.from_json("props", "k INT")
    )
    return (
        # floor-div, not cast(x/10 as int): DuckDB's INT cast rounds
        # where Spark's truncates, so both sides use explicit floor.
        parsed.withColumn("k_decile", F.floor(F.col("p.k") / 10).cast("int"))
        .groupBy("k_decile")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.col("p.k")).alias("min_k"),
            F.max(F.col("p.k")).alias("max_k"),
        )
    )


register("events_json_schema_parse", events_json_schema_parse, """
SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10.0) AS INT) AS k_decile,
       COUNT(*) AS n_events,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY 1
""")


# ------------------------------------------------------------------
# Tumbling 10-minute windows (portable epoch bucketing).
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED FLOOR (r7, sf10 tier = 10M events / 211 MB, local[32],
    min-of-4+ noop-sink interleaved).  The plan is already the optimal
    distributed shape -- scan (3 pruned cols, 32 splits) -> map-side
    partial hash agg (21,388 (window, type) groups) -> 21k-row exchange
    -> final -- so the sf10 ratio (~5x vs DuckDB) is per-row JVM
    hash-agg throughput, not a plan defect.  Decomposition: bare 3-col
    scan 0.176 s; + groupBy(event_type)-only count 0.235 s; full query
    0.42-0.52 s.  The bucket arithmetic is NOT the residue: an
    all-integer bucket (cast to epoch-seconds long, subtract pmod)
    measured 0.421 s vs 0.418 s for this double floor-div form --
    identical, so the portable floor(epoch/600) stays.  Spark time is
    strongly sublinear across tiers (0.17 -> 0.20 -> 0.41 s over 100x
    data; ratio falls 6.30 -> 5.85 -> 5.29) -- the flat-time floor
    signature: on a real cluster the scan+partial-agg parallelizes
    per-split with a constant 21k-row shuffle, while the single-node
    gap is DuckDB's vectorized aggregate vs the JVM's row-at-a-time
    codegen'd update loop."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("window_start", tumbling_bucket("ts", 600))
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum (fixed-point policy): a float sum of the
            # 2-decimal measure is partition-order-dependent and its
            # %.9g hash straddles once group sums reach 9 significant
            # digits at larger tiers
            sum_fixed_point("value", 2, 4).alias("sum_value"),
        )
    )


register("events_tumbling_10min", events_tumbling_10min, """
SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(round((value) * 100, 0) AS BIGINT))
                  / 100.0 AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY 1, 2
""")


# ------------------------------------------------------------------
# Sliding 10-minute windows, 5-minute slide: each event lands in 2
# windows (explode of the covering-window array).
def events_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The average is computed over EXACT integer cents, not a float
    sum.  ``value`` is a fixed-scale measure (2 decimals), and a
    double SUM of it is partition-order-dependent -- at sf1 the r11
    soak caught 59/8641 groups where Spark's and DuckDB's float sums
    straddled an avg .00005 rounding boundary (true averages land on
    exact half-ties because 2-decimal values averaged over counts
    like 240 do).  Summing ``round(value*100)::long`` is exact and
    order-independent at ANY scale -- the same plan shape (one
    partial+final hash agg), one extra codegen'd multiply per row --
    so the engine's own answer is deterministic across partitionings,
    which the float sum is not.  The division and final rounding run
    on identical integers in both engines, so parity is structural."""
    ev = _events(spark, sf_dir)
    cents = fixed_units("value", 2)
    return (
        ev.withColumn("window_start", F.explode(sliding_buckets("ts", 600, 300)))
        .groupBy("window_start")
        .agg(
            F.count("*").alias("n_events"),
            # F.count(col) in the divisor skips nulls -- AVG semantics
            round_portable(
                F.sum(cents) / (F.lit(100.0) * F.count("value")), 4
            ).alias("avg_value"),
        )
    )


register("events_sliding_10min_5min", events_sliding_10min_5min, """
SELECT CAST((floor(epoch(ts) / 300) - j) * 300 AS BIGINT) AS window_start,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                  / (100.0 * COUNT(value)) AS DOUBLE), 4) AS avg_value
FROM events, (SELECT unnest([0, 1]) AS j)
GROUP BY 1
""")


# ------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap, per-user session stats.
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: widen the events scan by the window key.  The session window
    # exchange carries ~2 MB here, so AQE parallelism-first coalescing
    # shrinks it to a couple of partitions and the sort+window run
    # nearly serial; the explicit hash repartition is the SAME exchange
    # in the SAME position but REPARTITION_BY_NUM (coalescing-exempt),
    # and the final groupBy(user_id) still reuses it.  Interleaved A/B
    # (OPTIMIZATION_r12.md change #5): 0.262 -> 0.230 s.  File-gated
    # no-op at any tier where the scan is already wide.
    ev = ensure_parallelism(_events(spark, sf_dir), by="user_id")
    ev = sessionize(ev, "user_id", "ts", 1800)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("session_id") + 1).alias("n_sessions"),
    )


register("events_sessionization", events_sessionization, """
WITH g AS (
    SELECT user_id, ts,
           CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions
FROM g
GROUP BY user_id
""")


# ------------------------------------------------------------------
# As-of join: each purchase event picks up the timestamp of the user's
# most recent prior-or-equal click. Oracle uses DuckDB's native ASOF.
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    out = asof_join_backward(
        purchases, clicks, ["user_id"], "ts", "ts", "click_ts", "last_click_ts"
    )
    gap = epoch_seconds("ts") - epoch_seconds("last_click_ts")
    return out.select(
        "event_id", "user_id", "ts", "last_click_ts",
        round_portable(gap, 3).alias("gap_seconds"),
    )


register("events_asof_purchase_click", events_asof_purchase_click, """
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS last_click_ts,
       round(CAST(epoch(p.ts) - epoch(c.ts) AS DOUBLE), 3) AS gap_seconds
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")


# ------------------------------------------------------------------
# Variant-typed JSON (Spark 4): parse_json builds the binary variant
# encoding ONCE; every downstream access is a typed navigation of that
# encoding instead of a string re-parse.  At 100 TB this is the JSON
# representation you want on the wire and in shuffle -- parse at the
# ingest edge, navigate everywhere else.  Semantics (and the oracle)
# match the string-path formulations above, which is the point: same
# answers, scan-once encoding.
def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            # k is integral: the long sum is already exact, so the
            # average derives from it (fixed-point policy)
            avg_fixed_point("k", 0, 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


register("events_json_variant", events_json_variant, """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       round(CAST(SUM(CAST(json_extract(props, '$.k') AS INT))
                  / (1.0 * COUNT(json_extract(props, '$.k'))) AS DOUBLE), 4)
           AS avg_k,
       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
""")


# ------------------------------------------------------------------
# Mergeable distinct-count sketches (Apache DataSketches HLL, built
# into Spark 4).  The scale property under test is MERGEABILITY: the
# per-type sketches are aggregated once, then the global row REUSES
# those sketch states via hll_union_agg instead of rescanning events --
# exactly how a 100 TB rollup tree (partition -> table -> corpus)
# avoids recounting.  Sketch binaries are engine-specific, so this is
# a designated rows-only entry (no DuckDB hash oracle); the pytest
# unit asserts the estimates land within HLL error of exact counts.
HLL_RTOL = 0.05  # 3-sigma band for Spark's default lgConfigK=12 (~1.6% rsd)


def events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL rollup tree with an ACCURACY-CONTRACT oracle (the
    orders_approx_stats pattern): per-type DataSketches HLL sketches
    union-merge into the global row WITHOUT re-scanning events -- the
    rollup-tree behavior under test -- while exact companions + an
    in-plan relative-error check make the row hash-gateable.  The
    oracle emits the exacts + TRUE, so a sketch estimate outside the
    3-sigma band fails the driver gate.  At 100 TB the exact
    companions are the first thing to drop; the sketch lineage is the
    product."""
    ev = _events(spark, sf_dir)
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    def shape(df):
        ok = (
            F.abs(F.hll_sketch_estimate("sk")
                  / F.col("n_users_exact") - 1.0) <= HLL_RTOL
        )
        return df.select(
            "event_type", "n_events",
            F.col("n_users_exact").cast("bigint").alias("n_users_exact"),
            ok.alias("hll_ok"),
        )
    per_type = shape(sk)
    # The global row merges the PER-TYPE sketches (hll_union_agg) --
    # events are not re-read for the estimate; only the exact
    # companion needs its own distinct pass (gate-only cost).
    tot_exact = ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
    total = shape(
        sk.agg(
            F.hll_union_agg("sk").alias("sk"),
            F.sum("n_events").alias("n_events"),
        ).join(F.broadcast(tot_exact))
        .withColumn("event_type", F.lit("__all__"))
    )
    return per_type.unionByName(total)


register("events_sketch_rollup", events_sketch_rollup, """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS hll_ok
FROM events GROUP BY 1
UNION ALL
SELECT '__all__', COUNT(*), COUNT(DISTINCT user_id), TRUE
FROM events
""")


# ------------------------------------------------ null-safe equality join
def events_bucket_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views vs purchases per k-decile, where decile 0 is mapped to
    NULL ("unknown bucket") and the two aggregates are joined with
    NULL-SAFE equality (<=>): the unknown buckets line up as one row
    instead of disappearing, the semantics normal equality cannot
    express (NULL = NULL is NULL -> inner join drops both sides).
    DuckDB's spelling is IS NOT DISTINCT FROM.  Plan-wise <=> is a
    first-class hash-join key (null-safe equi-join), NOT a nested
    loop -- both sides shuffle/broadcast on the same key space with
    NULL hashed like any value."""
    ev = _events(spark, sf_dir)
    bucket = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 10, F.lit(0))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(bucket.alias("v_bucket"))
        .groupBy("v_bucket").agg(F.count("*").alias("n_views"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(bucket.alias("p_bucket"))
        .groupBy("p_bucket").agg(F.count("*").alias("n_purchases"))
    )
    return (
        views.join(purchases, views["v_bucket"].eqNullSafe(purchases["p_bucket"]))
        .select(F.col("v_bucket").alias("k_bucket"), "n_views", "n_purchases")
    )


register("events_bucket_nullsafe_join", events_bucket_nullsafe_join, """
WITH b AS (
    SELECT event_type,
           nullif(CAST(json_extract_string(props, '$.k') AS INT) % 10, 0)
               AS bucket
    FROM events
),
v AS (SELECT bucket, COUNT(*) AS n_views FROM b
      WHERE event_type = 'view' GROUP BY bucket),
p AS (SELECT bucket, COUNT(*) AS n_purchases FROM b
      WHERE event_type = 'purchase' GROUP BY bucket)
SELECT v.bucket AS k_bucket, n_views, n_purchases
FROM v JOIN p ON v.bucket IS NOT DISTINCT FROM p.bucket
""")


# ------------------------------------------------------------------
# Hypertable-style rollup cascade: minute -> hour -> day, each coarser
# grain RE-AGGREGATED FROM THE FINER ROLLUP, never from raw events --
# the continuous-aggregate / rollup-tree pattern time-series stores
# run, expressed as one Spark lineage.  count/sum are mergeable
# partial states, so rollup-of-rollup equals rollup-of-raw; the oracle
# computes every grain FROM RAW, making that mergeability the exact
# claim the hash gate checks.  avg is DERIVED (sum/count) at the edge
# -- averaging averages would be wrong, which is why avg never appears
# in the cascade itself.
# Scale: raw events are read and shuffled ONCE (to minute grain, the
# only wide exchange over event volume); hour and day shuffle
# aggregate-sized relations.  At 100 TB the minute rollup is the
# materialization point; coarser grains cost minutes-rows, not events.
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    ev = _events(spark, sf_dir)
    # Each rollup level is CONSUMED TWICE (its own output branch + the
    # next grain's input).  Union branches do not share lineage in
    # Spark -- without materialization the events scan and the minute
    # aggregate execute once PER BRANCH (verified on the executed
    # plan: 3 FileScans; exchange reuse does not fire across these
    # union arms).  Persisting the two aggregate-sized levels is the
    # hypertable materialization itself: raw events are read and
    # shuffled exactly once, coarser grains read minutes-rows from
    # cache.
    minute = (
        ev.withColumn("bucket", tumbling_bucket("ts", 60))
        .groupBy("bucket")
        # exact cents through the whole cascade (fixed-point
        # policy): every coarser grain merges LONGS, so the rollup
        # tree is exact at any depth -- float partial-sum merge is
        # the thing that drifts in a real materialization hierarchy
        .agg(F.count("*").alias("n_events"),
             F.sum(fixed_units("value", 2)).alias("sum_value"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hour = (
        minute.withColumn("bucket",
                          (F.floor(F.col("bucket") / 3600) * 3600))
        .groupBy("bucket")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    day = (
        hour.withColumn("bucket",
                        (F.floor(F.col("bucket") / 86400) * 86400))
        .groupBy("bucket")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"))
    )
    out = None
    for grain, df in (("minute", minute), ("hour", hour), ("day", day)):
        shaped = df.select(
            F.lit(grain).alias("grain"),
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_events",
            round_portable(F.col("sum_value") / F.lit(100.0), 4)
            .alias("sum_value"),
            # avg derives from the same exact cents the sum does
            round_portable(
                round_portable(F.col("sum_value") / F.lit(100.0), 4)
                / F.col("n_events"), 4)
            .alias("avg_value"),
        )
        out = shaped if out is None else out.unionAll(shaped)
    return out


register("events_rollup_cascade", events_rollup_cascade, """
WITH g AS (
    SELECT 'minute' AS grain, 60 AS w UNION ALL
    SELECT 'hour', 3600 UNION ALL
    SELECT 'day', 86400
)
SELECT g.grain,
       CAST(floor(epoch(ts) / g.w) * g.w AS BIGINT) AS bucket,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(round((value) * 100, 0) AS BIGINT))
                  / 100.0 AS DOUBLE), 4) AS sum_value,
       round(round(CAST(SUM(CAST(round((value) * 100, 0) AS BIGINT))
                        / 100.0 AS DOUBLE), 4) / COUNT(*), 4) AS avg_value
FROM events CROSS JOIN g
GROUP BY 1, 2
""")
