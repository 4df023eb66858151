"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    files = {"lineitem": 3, "orders": 2}
    a = gen.generate(str(tmp_path / "a"), 5, 0.001, 2, files)
    b = gen.generate(str(tmp_path / "b"), 5, 0.001, 2, files)
    c = gen.generate(str(tmp_path / "c"), 6, 0.001, 2, files)
    fa, fb, fc = (_files(str(tmp_path / x)) for x in "abc")
    assert fa == fb
    assert a == b
    assert fa.keys() == fc.keys()
    assert fa["lineitem.parquet/part-00000.parquet"] != fc["lineitem.parquet/part-00000.parquet"]
    assert a["tables"]["lineitem"] == {
        "rows": 12000, "files": 3, "bytes": a["tables"]["lineitem"]["bytes"]}
    assert len(os.listdir(tmp_path / "a" / "lineitem.parquet")) == 3
    # region and nation are fixed-size; replicas re-key the rest
    assert a["tables"]["nation"]["rows"] == 25
    assert a["tables"]["customer"]["rows"] == 2 * 150


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_union_of_stage_walls():
    assert tracing._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    group = {"stage_walls": [(1000, 3000), (2500, 4000)]}
    assert tracing.stage_union_ms(group, 2.0, 3.5) == 1500


@pytest.fixture(scope="module")
def two_job_log(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("eventlog")
    data = str(tmp_path_factory.mktemp("data") / "t")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(d))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("write", "write")
        spark.range(1000).repartition(2).write.parquet(data)
        sc.setJobGroup("read", "read")
        spark.read.parquet(data).groupBy((F.col("id") % 7).alias("k")).count().collect()
    finally:
        spark.stop()
    return tracing.parse_event_log(tracing.event_logs(str(d)))


def test_event_log_parser_attributes_work_to_job_groups(two_job_log):
    write, read = two_job_log["write"], two_job_log["read"]
    for g in (write, read):
        assert g["jobs"] >= 1 and g["stages"] >= 1 and g["tasks"] >= 1
        assert g["run_ms"] >= 0 and g["cpu_ms"] > 0
        assert all(b >= a for a, b in g["stage_walls"])
    assert write["files_written"] == 2
    assert write["output_bytes"] > 0
    assert write["shuffle_write_bytes"] > 0
    assert read["files_read"] == 2
    assert read["input_bytes"] > 0
    assert read["shuffle_read_bytes"] > 0
    assert "files_read" not in write
