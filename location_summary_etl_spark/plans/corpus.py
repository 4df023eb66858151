"""The oracle query corpus: every operator from SURVEY.md §2 (and the
LLM-pipeline extensions) as a named (spark_query, oracle_sql) pair.

Contract (see /root/repo/__spark_entry__.py): each entry in
:func:`queries` is ``name -> callable(spark, sf_dir) -> DataFrame``;
:func:`oracle_sql` holds the DuckDB-equivalent ANSI SQL.  Column names
and aliases must match exactly -- the driver sorts columns by name and
hashes values order-insensitively.

Numeric discipline: aggregate doubles are rounded (typically to 2-4
decimals) in BOTH formulations so cross-engine float summation-order
differences (~1e-13 relative) cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from location_summary_etl_spark.plans.flagship import (
    FLAGSHIP_ORACLE_SQL,
    flagship_nation_summary,
)

# name -> (spark_callable, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, fn: Callable[[SparkSession, str], DataFrame],
             sql: str | None) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    _REGISTRY[name] = (fn, sql)


def _pin_session_semantics(spark: SparkSession) -> None:
    """Pin the runtime confs our query semantics assume on a session we
    did not build (the driver passes its own).  UTC makes event-time
    bucketing/windowing match the DuckDB oracle on naive timestamps;
    Arrow keeps the pandas-UDF paths on the vectorized transfer.  Both
    are runtime SQL confs -- safe to set post-construction."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def _pinned(fn: Callable[[SparkSession, str], DataFrame]
            ) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_session_semantics(spark)
        return fn(spark, sf_dir)
    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: _pinned(fn) for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: sql for name, (fn, sql) in _REGISTRY.items() if sql is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every corpus module exactly once (each registers itself),
    then interleave the registry round-robin across family modules.

    The external correctness gate samples the first N registered entries
    in insertion order; naive module-at-a-time registration front-loads
    two families and starves the rest of external verification.  The
    round-robin rebuild guarantees every family lands at least one entry
    (with 24 families, at least two) inside any sampling window of 50."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    register("flagship_nation_summary", flagship_nation_summary, FLAGSHIP_ORACLE_SQL)
    families: list[list[str]] = [list(_REGISTRY)]  # flagship is family 0
    import importlib

    for mod in (
        "corpus_reference",
        "corpus_extras",
        "corpus_dedup",
        "corpus_text",
        "corpus_similarity",
        "corpus_events",
        "corpus_multimodal",
        "corpus_pipeline",
        "corpus_analytics",
        "corpus_ranking",
        "corpus_behavior",
        "corpus_starjoin",
        "corpus_pandas",
        "corpus_quantize",
        "corpus_subquery",
        "corpus_trainprep",
        "corpus_recursive",
        "corpus_sqlx",
        "corpus_scd",
        "corpus_tpch2",
        "corpus_tpch3",
        "corpus_quality",
        "corpus_warehouse",
        "corpus_partsupp",
        "corpus_streaming",
    ):
        before = len(_REGISTRY)
        importlib.import_module(f"location_summary_etl_spark.plans.{mod}")
        families.append(list(_REGISTRY)[before:])

    interleaved: list[str] = []
    cursor = 0
    while any(families):
        for fam in families:
            if cursor < len(fam):
                interleaved.append(fam[cursor])
        cursor += 1
        if all(cursor >= len(fam) for fam in families):
            break
    reordered = {name: _REGISTRY[name] for name in interleaved}
    assert len(reordered) == len(_REGISTRY)
    _REGISTRY.clear()
    _REGISTRY.update(reordered)
