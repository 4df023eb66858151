"""Physical-plan regression tests: the scale properties SURVEY.md §4
promises (predicate pushdown, column pruning, broadcast dimension
joins, partial aggregation, whole-stage codegen, no cartesian
products) asserted on the actual Catalyst output, so a plan
regression fails CI rather than surfacing as a 100x slowdown at
cluster scale.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract


def plan_of(spark, name: str, sf_dir: str, mode: str = "formatted") -> str:
    df = contract.queries()[name](spark, sf_dir)
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_dim_filters_are_pushed_to_parquet(spark, sf_dir):
    plan = plan_of(spark, "segment_customers_in_region", sf_dir)
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, "customer filter not pushed"
    assert "EqualTo(r_name,ASIA)" in plan, "region filter not pushed"


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(spark, "segment_customers_in_region", sf_dir, mode="simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_column_pruning_reaches_the_scan(spark, sf_dir):
    # lineitem has 10 columns; the derived-columns query needs 7.
    plan = plan_of(spark, "lineitem_derived_columns", sf_dir)
    scan_schemas = [
        line for line in plan.splitlines() if line.startswith("ReadSchema")
    ]
    assert scan_schemas, "no parquet scan found"
    for line in scan_schemas:
        assert "l_comment" not in line and "l_shipmode" not in line, (
            "unused lineitem columns read at the scan: " + line
        )


def test_aggregate_is_partial_then_final(spark, sf_dir):
    # Two HashAggregate nodes around the exchange = map-side combine:
    # the shuffle carries one row per (partition, group), not per row.
    plan = plan_of(spark, "pricing_summary", sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_range_join_is_broadcast_not_shuffled_cartesian(spark, sf_dir):
    plan = plan_of(spark, "orders_price_banded", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_relational_corpus_has_no_cartesian_products(spark, sf_dir):
    # Every oracle-paired relational query must be free of shuffled
    # cartesian products; pair generators (dedup/similarity) are
    # equi-joins on band/bucket/block keys so they are covered too.
    for name in contract.queries():
        if name.startswith("multimodal"):
            continue  # mapInPandas plans, no joins
        if name.startswith("streaming_"):
            # constructing these DataFrames RUNS a full stream; the
            # returned plan is a memory-table scan with no joins --
            # nothing for this assertion to see, at seconds of cost.
            continue
        plan = plan_of(spark, name, sf_dir, mode="simple")
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"


def test_flagship_stays_in_whole_stage_codegen(spark, sf_dir):
    # codegen mode reports the compiled subtrees even before AQE
    # finalizes the adaptive plan (simple mode hides them until then).
    plan = plan_of(spark, "flagship_nation_summary", sf_dir, mode="codegen")
    assert "WholeStageCodegen" in plan
    simple = plan_of(spark, "flagship_nation_summary", sf_dir, mode="simple")
    assert "BatchEvalPython" not in simple, "row-at-a-time Python UDF in plan"


def test_no_python_udfs_in_relational_corpus(spark, sf_dir):
    # Everything except the designated Python paths must stay JVM-side.
    arrow_ok = {"ann_topk_bruteforce_pandas", "multimodal_decode_features",
                "multimodal_resize_inventory", "multimodal_frame_stats",
                # grouped-map formulation kept alongside the HOF default
                "user_value_ewma_pandas",
                # the UDTF entry exists to cover the table-function API
                "doc_chunks_udtf",
                # deliberate Python-API coverage entries (round 2):
                # grouped-agg pandas UDF and Arrow scalar UDF
                "segment_weighted_price", "orders_arrow_udf_bands"}
    for name in contract.queries():
        if name in arrow_ok:
            continue
        if name.startswith("streaming_"):
            continue  # constructing these runs a stream; the returned
            # plan is a memory scan (their Python usage --
            # applyInPandasWithState -- is deliberate and streaming-side)
        plan = plan_of(spark, name, sf_dir, mode="simple")
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF"


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash_pairs",
                                  "dedup_ngram_jaccard"])
def test_dedup_self_joins_are_equi_joins(spark, sf_dir, name):
    plan = plan_of(spark, name, sf_dir, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_sink_readback_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition key of our partitioned sink output must
    become a PartitionFilter (directory pruning), not a data filter --
    at 100 TB this is the difference between listing one day's files
    and scanning the lake."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.writers import write_summary

    path = str(tmp_path / "part_summary")
    df = spark.createDataFrame(
        [("2024-01-01", i) for i in range(5)]
        + [("2024-01-02", i) for i in range(5)],
        ["snap", "v"],
    )
    write_summary(df, path, partition_by=["snap"])
    back = spark.read.parquet(path).filter(F.col("snap") == "2024-01-02")
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    m = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert m and "snap" in m[0], f"partition filter not pruned: {plan}"
    assert back.count() == 5


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """Spark's runtime bloom-filter rule (on by default in our session)
    must inject a might_contain semi-filter on the FACT side of a
    shuffle join whose dim side carries a selective filter.  At bench
    scale the 10 GiB application-side threshold suppresses it, so this
    test lowers the thresholds to reproduce the 100 TB shape: lineitem
    is then pre-filtered to urgent orders' keys BEFORE the join
    exchange, cutting the shuffled bytes by the filter's selectivity."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.registry import load_table

    overrides = {
        # force the shuffle join a 100 TB fact table would get
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        bloom = [l for l in plan.splitlines()
                 if "might_contain" in l and "l_orderkey" in l]
        assert bloom, f"no runtime bloom filter on the fact scan: {plan}"
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_delta_prunes_source_partitions(spark, tmp_path):
    """incremental_update's high-water filter must reach the SOURCE
    scan as a PartitionFilter when the source is date-partitioned --
    the property that makes an incremental run list one day's files
    instead of scanning the lake."""
    from location_summary_etl_spark.sources.writers import (
        incremental_update,
        write_summary,
    )

    src_path = str(tmp_path / "src")
    sink_path = str(tmp_path / "sink")
    days = [("2024-01-0%d" % d, i) for d in (1, 2, 3) for i in range(4)]
    write_summary(spark.createDataFrame(days, ["snap", "v"]),
                  src_path, partition_by=["snap"])
    src = spark.read.parquet(src_path)
    # Seed the sink with day 1 only, then run incrementally.
    write_summary(src.filter("snap = '2024-01-01'"), sink_path,
                  partition_by=["snap"])
    delta = incremental_update(spark, src, sink_path, "snap")
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        delta._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in plan.splitlines()
          if "PartitionFilters" in l and "snap" in l and src_path in plan]
    assert pf, f"high-water filter did not prune source partitions: {plan}"
    assert {str(r["snap"]) for r in delta.select("snap").distinct().collect()} \
        == {"2024-01-02", "2024-01-03"}


def test_state_runs_is_single_exchange_single_sort(spark, sf_dir):
    """events_state_runs (lag form since r12) computes run boundaries
    with lag + running sum over ONE window order (user_id / ts,
    event_id), and the grouped aggregation reuses the same hash
    partitioning on user_id (subset-keyed HashPartitioning satisfies
    the wider clustered distribution).  More than one Exchange means
    Catalyst stopped reusing the partitioning and the query
    re-shuffles the events table at 100 TB; more than one Sort means
    the query regressed to the rn-difference form's second full sort
    (r12 A/B: 0.343 -> 0.315 s at sf0.1)."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = contract.queries()["events_state_runs"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        n_exchange = sum(1 for line in lines if "Exchange" in line)
        n_sort = sum(1 for line in lines if line.lstrip("+- :*(0123456789) ")
                     .startswith("Sort "))
        assert n_exchange == 1, f"expected 1 shuffle, got {n_exchange}:\n{plan}"
        assert n_sort == 1, f"expected 1 sort, got {n_sort}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_correlated_scalar_subquery_decorrelates(spark, sf_dir):
    """The Q17-shape per-part AVG must be rewritten to ONE aggregate
    grouped on the correlation key (l_partkey) joined back to the
    outer block -- the positive decorrelated shape -- never executed
    per outer row: a nested-loop node over lineitem here is the plan
    that dies at 100 TB."""
    import re

    df = contract.queries()["part_small_quantity_revenue"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # The subquery must appear as a grouped aggregate on the
    # correlation key, not a grand-total (uncorrelated) aggregate.
    assert re.search(r"Aggregate \[l_partkey#\d+L?\]", opt), (
        "no aggregate grouped on l_partkey — subquery not correlated "
        f"or not decorrelated:\n{opt}")
    # ...joined back to the outer part/lineitem block on the same key.
    assert re.search(
        r"Join Inner, .*l_partkey#\d+L? = p_partkey#\d+L?", opt
    ), f"decorrelated aggregate not joined back on the part key:\n{opt}"
    plan = plan_of(spark, "part_small_quantity_revenue", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_not_exists_becomes_anti_join(spark, sf_dir):
    plan = plan_of(spark, "inactive_high_balance_segments", sf_dir,
                   mode="simple")
    assert "LeftAnti" in plan, "NOT EXISTS did not rewrite to an anti join"
    # The date predicate must prune the orders side AT THE SCAN: it has
    # to appear inside the orders FileScan's PushedFilters, not merely
    # somewhere in the plan text.
    formatted = plan_of(spark, "inactive_high_balance_segments", sf_dir)
    pushed = [ln for ln in formatted.splitlines()
              if "PushedFilters" in ln and "o_orderdate" in ln]
    assert any("GreaterThanOrEqual(o_orderdate" in ln for ln in pushed), (
        "cutoff-date predicate not pushed into the orders scan:\n"
        + formatted)


def test_not_in_is_null_aware_anti_join(spark, sf_dir):
    """NOT IN must plan the null-aware anti join, not a per-row
    subquery re-execution."""
    plan = plan_of(spark, "part_brand_supplier_counts", sf_dir, mode="simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_disjunction_pushes_per_side_predicates(spark, sf_dir):
    """Q19's OR-of-ANDs: CNF extraction must push the implied brand
    disjunction into the part scan."""
    plan = plan_of(spark, "part_promo_disjunction_revenue", sf_dir)
    assert "EqualTo(p_brand,Brand#4)" in plan, (
        "no brand predicate reached the part scan")
    # and the quantity disjunction must reach the lineitem scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, (
        "no quantity predicate reached the lineitem scan")


def test_lateral_limit_decorrelates_to_window_group_limit(spark, sf_dir):
    """The LATERAL ... ORDER BY ... LIMIT 2 subquery must decorrelate
    into a partitioned WindowGroupLimit + row_number join -- one window
    pass, never a per-outer-row re-execution (nested loop)."""
    plan = plan_of(spark, "nation_top2_orders_lateral", sf_dir, mode="simple")
    assert "WindowGroupLimit" in plan, (
        "lateral LIMIT did not decorrelate to WindowGroupLimit:\n" + plan)
    assert "row_number" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_rewrite_scans_lineitem_once(spark, sf_dir):
    """The EXISTS/NOT-EXISTS double existential is collapsed into one
    per-order aggregate -- the whole point is that the fact table is
    read once (the correlated-subquery form would scan it three
    times, which is what the DuckDB oracle does)."""
    plan = plan_of(spark, "waiting_supplier_orders", sf_dir)
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan


def test_tpch2_shapes_have_no_nested_loops(spark, sf_dir):
    for name in ["nation_market_share", "product_profit_by_nation_year",
                 "promo_revenue_share"]:
        plan = plan_of(spark, name, sf_dir, mode="simple")
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q14_date_filter_pushed_to_lineitem_scan(spark, sf_dir):
    plan = plan_of(spark, "promo_revenue_share", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in plan, "ship-date filter not pushed"


def test_scd2_merge_outer_join_is_eliminated_per_branch(spark, sf_dir):
    """The operator declares ONE full-outer join; the closed/carried/
    opened projections filter on each side's null-ness, and Catalyst's
    outer-join elimination specializes the join per union branch
    (Inner for closed, LeftOuter for carried, RightOuter for opened)
    -- strictly cheaper than executing the FullOuter three times.
    Pin that rewrite, and that nothing degenerates to a nested loop."""
    plan = plan_of(spark, "customer_scd2_merge", sf_dir, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" not in plan, "outer-join elimination regressed"
    assert "RightOuter" in plan and "Inner" in plan


def test_sql_parameters_fold_and_push_to_scan(spark, sf_dir):
    # named parameters bind as literals in the parser, so they must
    # reach the parquet scan as pushed filters like any literal
    plan = plan_of(spark, "orders_param_sql", sf_dir)
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    assert "GreaterThanOrEqual(o_totalprice,50000.0)" in plan


def test_pipe_syntax_plans_like_classic_sql(spark, sf_dir):
    # the |> form is parser sugar: same aggregate shape, date filter
    # pushed, no join artifacts
    plan = plan_of(spark, "orders_pipe_rollup", sf_dir)
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: when a partitioned fact joins a dimension whose filter is
    only known at run time, the fact scan must carry a dynamicpruning
    subquery in its PartitionFilters -- at 100 TB this prunes the
    fact's directories by the dim filter's surviving keys instead of
    scanning every partition and filtering post-join.  (Static pruning
    is covered by test_partitioned_sink_readback_prunes_partitions;
    this is the runtime variant Spark inserts for star joins.)"""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.writers import write_summary

    fact = spark.range(0, 1000).select(
        (F.col("id") % 4).cast("int").alias("part_key"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "dpp_fact")
    write_summary(fact, path, partition_by=["part_key"])
    dim = spark.createDataFrame(
        [(k, "keep" if k == 2 else "drop") for k in range(4)],
        ["d_key", "d_tag"],
    )
    back = spark.read.parquet(path)
    j = back.join(
        F.broadcast(dim.filter(F.col("d_tag") == "keep")),
        back["part_key"] == dim["d_key"],
    )
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0], (
        f"no dynamic partition pruning on the fact scan: {pf or plan}"
    )
    assert j.count() == 250


def test_contamination_eval_side_is_constant_bounded(spark):
    """The contamination check's two broadcasts are licensed by the
    eval set being a FIXED benchmark: doc_id < EVAL_MAX_DOC_ID caps it
    at EVAL_MAX_DOC_ID/EVAL_MOD documents no matter how large the
    corpus grows (a residue class alone is 1/EVAL_MOD of the corpus --
    a broadcast that scales linearly and OOMs executors at 100x).
    Verified on a corpus 40x the cap: eval membership stops growing,
    and both exchanges in the plan are broadcasts, not shuffles of
    eval-derived relations."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.plans.corpus_trainprep import (
        EVAL_MAX_DOC_ID,
        EVAL_MOD,
        corpus_contamination_check,
    )

    n_docs = EVAL_MAX_DOC_ID * 40
    docs = spark.range(0, n_docs, 7919).select(  # sparse ids far past the cap
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta eta theta d"),
                 F.col("id").cast("string")).alias("text"),
    )
    import location_summary_etl_spark.sources.registry as registry

    orig = registry.load_table
    try:
        registry.load_table = lambda sp, sf, name: docs
        import location_summary_etl_spark.plans.corpus_trainprep as tp
        tp_load = tp.load_table
        tp.load_table = registry.load_table
        try:
            out = corpus_contamination_check(spark, "ignored")
            eval_ids = [r["doc_id"] for r in out.select("doc_id").collect()]
        finally:
            tp.load_table = tp_load
    finally:
        registry.load_table = orig
    assert eval_ids, "eval set unexpectedly empty"
    assert max(eval_ids) < EVAL_MAX_DOC_ID
    assert len(eval_ids) <= EVAL_MAX_DOC_ID // EVAL_MOD + 1
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_headline_dedup_entries_run_capped_by_default(spark):
    """The 100 TB-safe skew caps are the DEFAULT configuration: the
    operator signature defaults must be the module cap constants (None
    is the explicit opt-out), the default plan must carry the cap
    machinery (filter-mode size cap on the bucket aggregate), and the
    census strategy must plan the never-materialize anti-join."""
    import inspect

    from location_summary_etl_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        DEFAULT_MAX_DF,
        minhash_near_dups,
        ngram_jaccard_pairs,
    )

    assert inspect.signature(minhash_near_dups).parameters[
        "max_bucket"].default == DEFAULT_MAX_BUCKET
    assert inspect.signature(ngram_jaccard_pairs).parameters[
        "max_df"].default == DEFAULT_MAX_DF

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma u{i}a u{i}b u{i}c") for i in range(8)],
        ["doc_id", "text"],
    )

    def plan_of_df(df):
        return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    for df in (minhash_near_dups(docs), ngram_jaccard_pairs(docs)):
        plan = plan_of_df(df)
        assert f"size(xs" in plan and "LeftAnti" not in plan, (
            f"default (filter-mode) cap plan wrong:\n{plan}")
    for df in (minhash_near_dups(docs, max_bucket=3, cap_mode="census"),
               ngram_jaccard_pairs(docs, max_df=3, cap_mode="census")):
        assert "LeftAnti" in plan_of_df(df), "census anti-join missing"


def test_dedup_cap_modes_agree_when_caps_bite(spark):
    """filter and census strategies are result-identical even when the
    cap fires: half the corpus shares boilerplate (over-cap), pairs
    additionally share rare grams; sizes must reflect the surviving
    universe in both modes."""
    from location_summary_etl_spark.operators.dedup import (
        minhash_near_dups,
        ngram_jaccard_pairs,
    )

    rows = [(i, f"x y z w q u{i // 2}a u{i // 2}b u{i // 2}c u{i // 2}d")
            for i in range(24)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for fn, kw in ((ngram_jaccard_pairs, {"max_df": 4, "threshold": 0.1}),
                   (minhash_near_dups, {"max_bucket": 4, "threshold": 0.3})):
        a = sorted(map(tuple, fn(docs, cap_mode="filter", **kw).collect()))
        b = sorted(map(tuple, fn(docs, cap_mode="census", **kw).collect()))
        assert a == b and a, f"{fn.__name__}: filter={a[:3]}... census={b[:3]}..."


def test_q5_compiled_dims_match_broadcast_fallback(spark, sf_dir):
    """The compiled-literal dimension path and the broadcast-join
    fallback (what runs when a 'dim' outgrows the literal cap) must
    produce identical results, and the compiled plan must carry no
    extra broadcast for nation/region."""
    import location_summary_etl_spark.sources.registry as registry
    from location_summary_etl_spark.plans.corpus_starjoin import (
        region_local_supplier_volume,
    )

    compiled = sorted(map(tuple,
                          region_local_supplier_volume(spark, sf_dir).collect()))
    orig = registry.compile_tiny_dim
    try:
        registry.compile_tiny_dim = lambda *a, **k: None
        fallback = sorted(map(tuple,
                              region_local_supplier_volume(spark, sf_dir).collect()))
    finally:
        registry.compile_tiny_dim = orig
    assert compiled == fallback and compiled

    plan = plan_of(spark, "region_local_supplier_volume", sf_dir,
                   mode="formatted")
    assert "nation.parquet" not in plan and "region.parquet" not in plan, (
        "compiled path still scans the dimension tables")


def test_q3_revenue_aggregates_below_the_join(spark, sf_dir):
    """order_shipping_priority pre-aggregates lineitem revenue per
    orderkey BELOW the fact-fact join (eager aggregation): the
    orderkey exchange then carries one row per open order instead of
    ~4 lineitems.  In the optimized logical plan the Join must be the
    Aggregate's parent -- printed first -- not the other way around.
    Interleaved A/B (r7): 0.73 s vs 0.88 s at
    sf1, 5.70 s vs 6.84 s at sf10, identical result sets."""
    extended = plan_of(spark, "order_shipping_priority", sf_dir,
                       mode="extended")
    optimized = extended.split("== Optimized Logical Plan ==")[1]
    optimized = optimized.split("== Physical Plan ==")[0]
    join_at = optimized.index("Join")
    agg_at = optimized.index("Aggregate [l_orderkey")
    assert agg_at > join_at, (
        "revenue aggregate sits above the join; eager form regressed:\n"
        + optimized)


def test_q3_eager_form_matches_above_join_spec_on_edge_data(spark, tmp_path):
    """The eager rewrite's semantic claim -- o_orderdate is functionally
    dependent on the join key, so aggregating revenue below the join is
    equivalent to aggregating above it -- pinned on constructed edges
    the TPC-H-ish testdata doesn't guarantee: revenue ties broken by
    orderkey, >10 qualifying orders (limit path), an order whose
    lineitems all ship before the cutoff, a matching order in the wrong
    segment, and a lineitem orderkey with no parent order."""
    from location_summary_etl_spark.plans.corpus_starjoin import (
        Q3_CUTOFF, Q3_SEGMENT, order_shipping_priority)

    cutoff = Q3_CUTOFF
    before, after = "1990-01-01 00:00:00", "2099-01-01 00:00:00"
    customers = [(k, Q3_SEGMENT if k % 3 else "WRONGSEG") for k in range(1, 20)]
    orders, lineitems = [], []
    for o in range(1, 31):
        ck = (o % 19) + 1
        od = before if o % 4 else after          # o%4==0: placed too late
        orders.append((o, ck, od))
        ship = before if o % 5 == 0 else after   # o%5==0: all shipped already
        # two lineitems per order; revenue ties across pairs (o, o+1)
        price = float(100 * ((o + 1) // 2))
        lineitems.append((o, price, 0.0, ship))
        lineitems.append((o, price, 0.5, ship))
    lineitems.append((999, 5000.0, 0.0, after))  # orphan orderkey
    spark.createDataFrame(
        customers, "c_custkey long, c_mktsegment string"
    ).selectExpr(
        "c_custkey", "'c' c_name", "cast(0 as int) c_nationkey",
        "cast(0.0 as double) c_acctbal", "c_mktsegment",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate string"
    ).selectExpr(
        "o_orderkey", "o_custkey", "'O' o_orderstatus",
        "cast(0.0 as double) o_totalprice",
        "cast(o_orderdate as timestamp_ntz) o_orderdate",
        "'1-URGENT' o_orderpriority",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lineitems,
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_shipdate string"
    ).selectExpr(
        "l_orderkey", "cast(1 as long) l_partkey",
        "cast(1 as long) l_suppkey", "cast(1 as int) l_linenumber",
        "cast(1.0 as double) l_quantity", "l_extendedprice", "l_discount",
        "cast(0.0 as double) l_tax", "'N' l_returnflag", "'O' l_linestatus",
        "cast(l_shipdate as timestamp_ntz) l_shipdate",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = order_shipping_priority(spark, str(tmp_path)).collect()

    # above-join spec, computed independently in Python
    seg = {k for k, s in customers if s == Q3_SEGMENT}
    open_orders = {o: od for o, ck, od in orders if ck in seg and od < cutoff}
    rev = {}
    for o, price, disc, ship in lineitems:
        if o in open_orders and ship > cutoff:
            rev[o] = rev.get(o, 0.0) + price * (1 - disc)
    expect = sorted(
        ((round(v, 2), o, open_orders[o]) for o, v in rev.items()),
        key=lambda t: (-t[0], t[1]))[:10]
    assert [
        (r["revenue"], r["l_orderkey"],
         r["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"))
        for r in got
    ] == expect
    assert len(got) == 10 and len(rev) > 10, "limit path not exercised"


def test_nation_balance_score_is_single_lineage_window(spark, sf_dir):
    """nation_balance_score scores its nation-grain aggregate with the
    window form: one customer scan, a windowspecdefinition, no
    broadcast of a bounds relation."""
    from location_summary_etl_spark.plans.corpus_reference import (
        nation_balance_score,
    )

    df = nation_balance_score(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(" in opt
    phys = df._jdf.queryExecution().executedPlan().toString()
    # single lineage: exactly one customer scan feeds the whole plan
    assert phys.count("customer.parquet") == 1, phys


def _scans_without_exchange_below(node) -> list[str]:
    """Names of the parquet scans reachable from ``node`` (a JVM
    SparkPlan) without crossing an exchange."""
    name = node.nodeName()
    if name.endswith("Exchange"):
        return []
    if name.startswith("Scan parquet"):
        return [name]
    kids = node.children()
    return [s for i in range(kids.size())
            for s in _scans_without_exchange_below(kids.apply(i))]


def _coalesce_nodes(node) -> list:
    kids = node.children()
    found = [node] if node.nodeName() == "Coalesce" else []
    for i in range(kids.size()):
        found += _coalesce_nodes(kids.apply(i))
    return found


@pytest.mark.parametrize("cap", [None, "1KB"])
@pytest.mark.parametrize("entry", ["flagship_nation_summary",
                                   "nation_balance_score"])
def test_minmax_window_coalesce_sits_above_an_exchange(spark, sf_dir,
                                                       entry, cap):
    """minmax_score_window's coalesce(1) serializes the stage that
    produces its input, so for every caller each Coalesce must have an
    Exchange between it and every parquet scan below it: the scans
    keep their width at any input size.  Checked at the default
    broadcast cap and again at 1 KB, where no side auto-broadcasts."""
    cap_conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(cap_conf)
    try:
        if cap is not None:
            spark.conf.set(cap_conf, cap)
        df = contract.queries()[entry](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        coalesces = _coalesce_nodes(plan)
        assert coalesces, f"{entry}: no Coalesce in plan\n{plan}"
        for c in coalesces:
            fused = _scans_without_exchange_below(c)
            assert not fused, f"{entry}: Coalesce fuses scans {fused}\n{plan}"
    finally:
        spark.conf.set(cap_conf, old)


def test_recursive_chain_cap_sized_to_input(spark, sf_dir):
    # The r11 sf1 soak found the default 1M cteRecursionRowLimit too
    # small for the chain walk (each order appears exactly once, so
    # legal output is O(|orders|)).  The plan function must raise the
    # session cap to the acyclic bound 2x|orders|+16 when the current
    # cap is smaller, and never narrow an unlimited (-1) cap.
    from location_summary_etl_spark.plans.corpus_recursive import (
        customer_order_chain_lengths,
    )
    from location_summary_etl_spark.sources.registry import load_table

    key = "spark.sql.cteRecursionRowLimit"
    n_orders = load_table(spark, sf_dir, "orders").count()
    bound = 2 * n_orders + 16
    old = spark.conf.get(key, "1000000")
    try:
        # cap below the bound -> raised exactly to the bound, and the
        # walk completes (total chain rows == |orders| > the tiny cap)
        spark.conf.set(key, "10")
        df = customer_order_chain_lengths(spark, sf_dir)
        assert int(spark.conf.get(key)) == bound
        hist = {r["chain_len"]: r["n_chains"] for r in df.collect()}
        assert sum(k * v for k, v in hist.items()) == n_orders

        # unlimited is never narrowed
        spark.conf.set(key, "-1")
        customer_order_chain_lengths(spark, sf_dir)
        assert spark.conf.get(key) == "-1"

        # an already-large cap is left alone
        big = str(bound * 100)
        spark.conf.set(key, big)
        customer_order_chain_lengths(spark, sf_dir)
        assert spark.conf.get(key) == big
    finally:
        spark.conf.set(key, old)


# ------------------------------------------------------------------
# r13: data-proportional widening (tiny-task fixed-cost fix).  The
# assertions run at sf0.1 (at the sf0.001 smoke tier the bytes/64KB
# ratio is 1 and the gate correctly widens nothing at all -- asserted
# too).
SF_BENCH = "/root/testdata/sf0.1"


def _expected_bounded_width(spark, path: str, target: int) -> int:
    import os

    return min(spark.sparkContext.defaultParallelism,
               -(-os.path.getsize(path) // target))


def test_minhash_widening_is_data_proportional(spark):
    """The signature pipeline's widening exchange is sized by source
    bytes (SIGNATURE_TASK_TARGET_BYTES), not pinned to core width:
    32 tasks of ~18 KB measured 7.5x the executorRunTime of 8 tasks of
    ~74 KB on identical work (OPTIMIZATION_r13.md change #1) and inverted
    the driver's c8/c32 scaling.  Bytes-derived width keeps the plan
    matched across core counts."""
    from location_summary_etl_spark.operators.dedup import (
        SIGNATURE_TASK_TARGET_BYTES,
    )

    want = _expected_bounded_width(
        spark, f"{SF_BENCH}/documents.parquet", SIGNATURE_TASK_TARGET_BYTES)
    plan = plan_of(spark, "dedup_minhash_lsh", SF_BENCH)
    assert "hashpartitioning(doc_id#" in plan
    reps = [l for l in plan.splitlines()
            if "REPARTITION_BY_NUM" in l and "hashpartitioning(doc_id" in l]
    assert reps, "widening repartition missing from the minhash plan"
    assert all(f", {want})" in l for l in reps), (
        f"expected width {want}, got: {reps}")


def test_ngram_pair_stage_exchange_is_pinned(spark):
    """The gram-bucket exchange is REPARTITION_BY_NUM (coalescing-
    exempt) at data-proportional width: AQE's byte-sized coalescing ran
    the quadratic pair expansion on 4 of 32 cores
    (OPTIMIZATION_r13.md change #2, 0.863 -> 0.621 s).  The pin
    replaces the aggregate's ENSURE_REQUIREMENTS exchange, so the
    exchange count must not grow."""
    from location_summary_etl_spark.operators.dedup import (
        NGRAM_BUCKET_TASK_TARGET_BYTES,
    )

    assert NGRAM_BUCKET_TASK_TARGET_BYTES is not None
    want = _expected_bounded_width(
        spark, f"{SF_BENCH}/documents.parquet", NGRAM_BUCKET_TASK_TARGET_BYTES)
    plan = plan_of(spark, "dedup_ngram_jaccard", SF_BENCH)
    gram_exchanges = [
        l for l in plan.splitlines()
        if "hashpartitioning(g#" in l]
    assert gram_exchanges, "gram-bucket exchange missing"
    for l in gram_exchanges:
        assert "REPARTITION_BY_NUM" in l, f"gram exchange not pinned: {l}"
        assert f", {want})" in l, f"expected width {want}: {l}"


def test_widening_gate_stays_off_at_smoke_tier(spark, sf_dir):
    """At sf0.001 the bytes/target ratio is 1: the bound must disable
    the widening entirely (repartitioning a sub-64KB relation to ONE
    partition would add an exchange for nothing)."""
    plan = plan_of(spark, "dedup_minhash_lsh", sf_dir)
    assert "REPARTITION_BY_NUM" not in plan


def test_contamination_eval_side_plans_single_partition(spark):
    """The eval split is bounded at EVAL_MAX_DOC_ID/EVAL_MOD documents
    by construction, so its postings coalesce(1) statically -- which
    deletes the eval distinct's exchange AND the final per-doc
    groupBy's exchange (6 -> 4 at sf0.1; the check is stage-count
    bound at bench scale)."""
    plan = plan_of(spark, "corpus_contamination_check", SF_BENCH)
    n_shuffle = sum(
        1 for l in plan.splitlines()
        if l.startswith("Arguments: hashpartitioning")
        or " ENSURE_REQUIREMENTS" in l or " REPARTITION_BY_NUM" in l)
    # 2 shuffle exchanges (widened train scan + survivor distinct);
    # the broadcasts are separate nodes.
    assert "Coalesce" in plan, "eval-side coalesce(1) missing"
    assert n_shuffle <= 2, f"expected <=2 shuffle exchanges, got {n_shuffle}"
