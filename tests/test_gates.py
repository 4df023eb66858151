"""operators/gates.py -- the single byte-threshold compare behind every
size gate (broadcast_if_small, compile_tiny_dim, the n-gram scratch
floor).  The per-caller behavior is covered by their own tests
(test_operators.py, test_plans.py); these pin the shared contract
itself."""

import pytest

from location_summary_etl_spark.operators.gates import source_fits
from location_summary_etl_spark.sources.registry import load_table


def test_source_fits_thresholds(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    cap_conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(cap_conf)
    try:
        # test-scale file under a huge cap: fits
        spark.conf.set(cap_conf, "1GB")
        assert source_fits(customer)
        # same file over a tiny cap: does not fit
        spark.conf.set(cap_conf, "1KB")
        assert not source_fits(customer)
        # explicit cap_bytes bypasses the session conf
        assert source_fits(customer, cap_bytes=1 << 40)
        assert not source_fits(customer, cap_bytes=1)
    finally:
        spark.conf.set(cap_conf, old)


def test_source_fits_unknown_stats_is_false(spark):
    # literal frame: no file lineage -> conservative False at any cap
    lit = spark.createDataFrame([(1,)], "x int")
    assert not source_fits(lit, cap_bytes=1 << 40)


def test_fits_and_path_fits(tmp_path):
    from location_summary_etl_spark.operators.gates import fits, path_fits

    assert fits(100, cap_bytes=100)
    assert not fits(101, cap_bytes=100)
    assert not fits(None, cap_bytes=1 << 40)  # unknown -> conservative

    f = tmp_path / "dim.bin"
    f.write_bytes(b"x" * 1000)
    assert path_fits(str(f), cap_bytes=1000)
    assert not path_fits(str(f), cap_bytes=999)
    # directories sum recursively
    sub = tmp_path / "d" / "s"
    sub.mkdir(parents=True)
    (sub / "a.bin").write_bytes(b"x" * 600)
    (tmp_path / "d" / "b.bin").write_bytes(b"x" * 600)
    assert path_fits(str(tmp_path / "d"), cap_bytes=1200)
    assert not path_fits(str(tmp_path / "d"), cap_bytes=1199)
    # unlistable path -> conservative False, not an exception
    assert not path_fits(str(tmp_path / "nope"), cap_bytes=1 << 40)


def test_tiny_dim_bytes_pregate_refuses_before_reading(sf_dir, monkeypatch):
    """compile_tiny_dim must refuse an over-cap path WITHOUT issuing
    the pyarrow read (the r11 migration's point: the old num_rows
    guard fired only after materializing the table on the driver)."""
    import pyarrow.parquet as pq

    from location_summary_etl_spark.sources import registry

    registry.compile_tiny_dim.cache_clear()

    def boom(*a, **k):
        raise AssertionError("pyarrow read must not run over the cap")

    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(registry, "_TINY_DIM_CAP_BYTES", 1)
    try:
        assert registry.compile_tiny_dim(
            sf_dir, "region", ("r_regionkey", "r_name")) is None
    finally:
        registry.compile_tiny_dim.cache_clear()


@pytest.mark.parametrize("mod,names", [
    ("location_summary_etl_spark.session",
     ["broadcast_if_small"]),
    ("location_summary_etl_spark.sources.registry",
     ["compile_tiny_dim"]),
])
def test_all_callers_share_one_implementation(mod, names):
    """No caller carries a private copy of the byte compare: each
    imports from operators.gates lazily inside the function body."""
    import importlib
    import inspect

    m = importlib.import_module(mod)
    src = inspect.getsource(getattr(m, names[0]))
    assert ("operators.gates import source_fits" in src
            or "operators.gates import path_fits" in src)
