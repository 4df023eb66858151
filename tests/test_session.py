"""Unit tests for the session-level layout/hint helpers.

These helpers make PLAN-TIME decisions from driver-side file metadata
(`df.inputFiles` + sizes) so they cost no Spark jobs; the tests pin
both the decision logic and the fall-through behavior for non-file
relations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from location_summary_etl_spark.session import (
    broadcast_if_small,
    ensure_parallelism,
    partition_for_python_scan,
    source_bytes,
)
from location_summary_etl_spark.sources.registry import load_table


def test_ensure_parallelism_widens_small_file_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = spark.sparkContext.defaultParallelism
    assert ensure_parallelism(docs).rdd.getNumPartitions() == n


def test_ensure_parallelism_leaves_literal_frames_alone(spark):
    df = spark.range(10)
    # no input files -> untouched (created at session parallelism)
    assert ensure_parallelism(df) is df


def test_ensure_parallelism_respects_min_partitions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assert ensure_parallelism(docs, min_partitions=4).rdd.getNumPartitions() == 4


def test_broadcast_if_small_hints_small_file_side(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(broadcast_if_small(cust),
                    orders["o_custkey"] == cust["c_custkey"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_broadcast_if_small_respects_cap(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    # a 1-byte cap can never fire; the relation passes through unhinted
    assert broadcast_if_small(cust, cap_bytes=1) is cust
    # disabled threshold -> no hint either
    assert broadcast_if_small(cust, cap_bytes=0) is cust


def test_broadcast_if_small_ignores_non_file_relations(spark):
    df = spark.range(10)
    assert broadcast_if_small(df) is df


def test_partition_for_python_scan_narrows_tiny_input(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # sf0.001 embeddings are far below one target chunk -> 1 partition
    assert partition_for_python_scan(emb).rdd.getNumPartitions() == 1


def test_partition_for_python_scan_caps_at_cores(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = spark.sparkContext.defaultParallelism
    # absurdly small target would want thousands of partitions; the
    # core count is the ceiling
    wide = partition_for_python_scan(emb, target_bytes=16)
    assert wide.rdd.getNumPartitions() == n


def test_partition_for_python_scan_leaves_non_file_alone(spark):
    df = spark.range(10).select(F.col("id"))
    assert partition_for_python_scan(df) is df


def test_size_helpers_fall_through_on_unlistable_files(spark, tmp_path):
    path = str(tmp_path / "gone")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    # the relation keeps its file listing; the files themselves vanish
    for f in (tmp_path / "gone").iterdir():
        f.unlink()
    assert ensure_parallelism(df) is df
    assert partition_for_python_scan(df) is df
    assert source_bytes(df) is None


def test_demote_guarded_window_warnings_scopes_to_windowexec(spark):
    # The demotion silences exactly the logger whose WARN the
    # operators/windows.py tripwire makes redundant -- and nothing
    # else (the parent execution package keeps its effective level).
    from location_summary_etl_spark.session import demote_guarded_window_warnings

    assert demote_guarded_window_warnings(spark) is True
    jvm = spark.sparkContext._jvm
    lm = jvm.org.apache.logging.log4j.LogManager
    exec_window = "org.apache.spark.sql.execution.window.WindowExec"
    assert lm.getLogger(exec_window).getLevel().toString() == "ERROR"
    # Sibling execution loggers are untouched: WARN stays enabled.
    sibling = lm.getLogger("org.apache.spark.sql.execution.SparkPlan")
    assert sibling.isWarnEnabled()
