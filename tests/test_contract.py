"""The driver runs `__spark_entry__` with ITS OWN SparkSession, not
ours -- so the contract surface must pin every runtime conf our query
semantics depend on (UTC event-time, Arrow) onto whatever session it
is handed.  These tests hand it a
deliberately hostile session and require oracle-exact results anyway.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.oracle_utils import compare, duckdb_con

# The conf-sensitive queries: event-time bucketing (TZ), pandas-UDF
# path (Arrow), and a real streaming execution (watermark + window
# boundaries + the unix_timestamp output conversion all ride the
# session timezone -- the exact shape the driver's own session runs).
SENSITIVE = ["events_tumbling_10min", "events_user_gapfill",
             "ann_topk_bruteforce_pandas", "streaming_tumbling_counts"]


@pytest.fixture()
def hostile(spark):
    """A session whose SQLConf is NOT ours: wrong timezone, Arrow
    off.  newSession() shares the SparkContext but holds an
    independent runtime conf."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return s


def test_entry_runs_on_hostile_session(hostile):
    df = contract.entry(hostile)
    assert df.count() > 0


def test_conf_sensitive_queries_stay_oracle_exact(hostile, sf_dir):
    con = duckdb_con(sf_dir)
    qs, oracles = contract.queries(), contract.oracle_sql()
    for name in SENSITIVE:
        compare(qs[name](hostile, sf_dir), con, oracles[name])


def test_driver_window_covers_every_family():
    """The external correctness gate samples the first 50 registered
    entries; the family round-robin ordering must put at least one
    entry of every family module in that window."""
    from location_summary_etl_spark.plans import corpus

    corpus._ensure_loaded()
    names = list(corpus._REGISTRY)
    window = set(names[:50])

    # every family module contributes to the window
    mod_of = {}
    for name, (fn, _sql) in corpus._REGISTRY.items():
        mod_of[name] = fn.__module__
    mods_in_window = {mod_of[n] for n in window}
    assert mods_in_window == set(mod_of.values()), (
        sorted(set(mod_of.values()) - mods_in_window))
