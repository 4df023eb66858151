from __future__ import annotations

from location_summary_etl_spark.plans.flagship import (
    FLAGSHIP_ORACLE_SQL,
    flagship_nation_summary,
)
from tests.oracle_utils import compare, duckdb_con


def test_flagship_smoke(spark, sf_dir):
    df = flagship_nation_summary(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "n_name", "r_name", "avg_acctbal", "avg_order_total", "order_count",
        "price_score", "snapshot_date",
    ]
    scores = [r["price_score"] for r in rows if r["price_score"] is not None]
    assert scores and all(0.0 <= s <= 100.0 for s in scores)


def test_flagship_vs_oracle(spark, sf_dir):
    df = flagship_nation_summary(spark, sf_dir)
    compare(df, duckdb_con(sf_dir), FLAGSHIP_ORACLE_SQL)


def test_flagship_argmax_is_window_form_at_any_broadcast_cap(spark, sf_dir):
    """The latest-order argmax is planned as a window over o_custkey
    whatever the session broadcast cap: no stats-driven switch to the
    broadcast join-back form at small inputs."""
    cap_conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(cap_conf)
    try:
        for cap in ("10MB", "1KB"):
            spark.conf.set(cap_conf, cap)
            opt = flagship_nation_summary(
                spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
            assert "windowspecdefinition(o_custkey" in opt, cap
    finally:
        spark.conf.set(cap_conf, old)


def test_cli_flagship_writes_partitioned_summary(spark, sf_dir, tmp_path):
    from location_summary_etl_spark.__main__ import main

    out = str(tmp_path / "summary")
    assert main(["flagship", "--sf-dir", sf_dir, "--out", out]) == 0
    back = spark.read.parquet(out)
    assert back.count() == 25
    assert "snapshot_date" in back.columns
    # idempotent rerun: same partition replaced, no duplicates
    assert main(["flagship", "--sf-dir", sf_dir, "--out", out]) == 0
    assert spark.read.parquet(out).count() == 25


def test_cli_unknown_query_is_an_error():
    from location_summary_etl_spark.__main__ import main

    assert main(["run", "no_such_query"]) == 2


def test_cli_explain_prints_physical_plan(spark, sf_dir, capsys):
    from location_summary_etl_spark.__main__ import main

    rc = main(["explain", "pricing_summary", "--sf-dir", sf_dir])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out and "HashAggregate" in out


def test_cli_index_lifecycle(spark, sf_dir, tmp_path, capsys):
    """The `index` subcommand group drives the full persisted-ANN
    life-cycle: build from a VersionedTable, query with a staleness
    check, commit a delta + refresh, info shows the delta op, vacuum
    retires the dropped generation."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.__main__ import main
    from location_summary_etl_spark.sources.registry import load_table
    from location_summary_etl_spark.sources.versioned import VersionedTable

    emb = load_table(spark, sf_dir, "embeddings")
    base = VersionedTable(str(tmp_path / "base"))
    base.commit(emb.filter(F.col("vec_id") % 10 != 0), mode="overwrite")
    root = str(tmp_path / "idx")

    assert main(["index", "build", "--base", base.path,
                 "--root", root]) == 0
    assert "built index generation v0" in capsys.readouterr().out

    assert main(["index", "query", "--root", root, "--ids", "1,2",
                 "--k", "3", "--verify-base", base.path]) == 0
    out = capsys.readouterr().out
    assert "query_id" in out and "cosine" in out

    base.commit(emb.filter(F.col("vec_id") % 10 == 0), mode="append")
    assert main(["index", "refresh", "--base", base.path,
                 "--root", root]) == 0
    assert "op=ivf_delta" in capsys.readouterr().out

    assert main(["index", "info", "--root", root]) == 0
    info = capsys.readouterr().out
    assert '"op": "ivf_delta"' in info and '"base_version": 1' in info

    assert main(["index", "vacuum", "--root", root, "--retain", "1",
                 "--grace-seconds", "0"]) == 0
    assert "centroids: removed" in capsys.readouterr().out

    # bare-parquet build: rebuild-only note, still queryable; with
    # --store-quantized the int8 serving path is reachable from the CLI
    root2 = str(tmp_path / "idx2")
    import os
    assert main(["index", "build",
                 "--base", os.path.join(sf_dir, "embeddings.parquet"),
                 "--root", root2, "--store-quantized"]) == 0
    assert "rebuild only" in capsys.readouterr().out
    assert main(["index", "query", "--root", root2, "--ids", "3"]) == 0
    assert "cosine" in capsys.readouterr().out
    assert main(["index", "query", "--root", root2, "--ids", "3",
                 "--quantized"]) == 0
    assert "qcosine" in capsys.readouterr().out

    # CLI-level validation: retain must be >= 1 (argparse exits 2)
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["index", "vacuum", "--root", root2, "--retain", "0"])

    # --refine < --k is a stderr+exit-2 argument error (the missing-ids
    # convention), caught before any Spark work (r10 ADVICE)
    assert main(["index", "query", "--root", root2, "--ids", "3",
                 "--quantized", "--k", "5", "--refine", "3"]) == 2
    assert "--refine 3 must be >= --k 5" in capsys.readouterr().err
