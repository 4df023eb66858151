"""Persisted IVF ANN index: build once, store, query many times.

The in-plan ``ivf_topk`` (operators/similarity.py) recomputes the
coarse quantizer per run -- fine for a one-off query, wrong for a
100 TB pipeline where the index is built once per corpus snapshot and
served to thousands of queries.  This module persists BOTH index
artifacts to the repo's own lakehouse format (sources/versioned.py):

* ``<root>/cells``      -- the inverted file (:func:`ivf_cells` schema:
  vec_id, cl, c_v, c_nrm), written REPARTITIONED BY CELL so a probe of
  ``n_probe`` cells touches a bounded set of co-located files;
* ``<root>/centroids``  -- the coarse quantizer
  (:func:`ivf_centroids` schema: cl, cv, c_nrm), whose manifest
  ``operation`` tag carries the index metadata: the paired cells
  version (the two tables advance independently; the pin keeps them
  consistent), the quantizer configuration, and a FINGERPRINT of the
  indexed relation (row count + sum of xxhash64(id) --
  order-independent, so layout changes don't false-alarm);
* ``<root>/cells_q8``   -- optional (``store_quantized=True``): the
  int8-quantized inverted file (vec_id, cl, q8, q_l2sq), same
  cell-range layout, serving :func:`ivf_query_index_quantized` at
  1 byte/dim.

The query path reads ONLY the pinned snapshots -- the base embeddings
table is never touched (query vectors are looked up in the inverted
file itself).  Staleness is therefore detectable, not silent: pass the
current base relation as ``verify_against`` and a changed fingerprint
raises :class:`StaleIndexError` naming both versions.  Verification
costs one count+sum aggregate over the id column; a production caller
does it once per base-table commit, not per query.

Both commits are ``VersionedTable`` snapshots, so an index REBUILD is
an ``overwrite`` commit: readers pinned to the old version keep
getting bit-identical answers (time travel), and vacuum retires the
old files on the normal schedule.

Reference parity: the reference (AidanFarhi/location-summary-etl,
App.scala) has no ANN surface; this is the SURVEY §2.D similarity
extension's scale path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from location_summary_etl_spark.operators.similarity import (
    IVF_N_PROBE,
    ivf_cells,
    ivf_centroids,
    ivf_search,
)
from location_summary_etl_spark.sources.versioned import VersionedTable

_CELLS = "cells"
_CENTROIDS = "centroids"
_CELLS_Q8 = "cells_q8"


class StaleIndexError(RuntimeError):
    """The pinned index no longer matches the base relation."""


def _load_meta(cent_tbl: VersionedTable, version: int) -> dict:
    """Parse a centroid manifest's ``operation`` tag as index metadata,
    failing LOUDLY when the tag is not one of ours.  A plain
    ``VersionedTable.compact()`` / ``restore()`` on the centroids table
    (public API -- writes ``operation='compact'`` / ``'restore(...)'``)
    would otherwise surface as a bare JSONDecodeError deep inside every
    index read and silently drop the cells pin.  The index tables must
    never be compacted/restored directly: the inverted file is
    compacted THROUGH :func:`refresh_ivf_index` (which re-pins it in a
    new generation), and a rollback is "pin an older generation"."""
    raw = cent_tbl._manifest(version)["operation"]
    try:
        meta = json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        meta = None
    if not isinstance(meta, dict) or "op" not in meta:
        raise ValueError(
            f"centroid manifest v{version} at {cent_tbl.path} records "
            f"operation {raw!r}, not index metadata -- the index tables "
            "must not be compacted/restored/written directly (that "
            "orphans the cells pin); manage the index only through "
            "build_ivf_index/refresh_ivf_index/vacuum_index, and roll "
            "back by pinning an older generation")
    return meta


def _fingerprint(emb: DataFrame, id_col: str) -> list[int]:
    """Order-independent identity of the indexed relation: (row count,
    sum of xxhash64(id) in decimal(38,0) -- ANSI mode makes a long sum
    of 64-bit hashes an ARITHMETIC_OVERFLOW error; decimal(38,0) holds
    ~2^126, overflow-free past any real row count).  One
    map-side-combined aggregate: at any scale the shuffle is a single
    partial-sum row per task."""
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), int(row["h"])]


def _fingerprint_from_delta(old_fp: list[int], delta, id_col: str) -> list[int]:
    """The new base fingerprint from the OLD one plus the CDC delta --
    O(delta), where re-fingerprinting the base is O(corpus) per refresh
    (and per micro-batch in the continuously-indexed ingest, exactly
    where "reindex the delta, not the corpus" must also mean "don't
    rescan the corpus").  Sound because the fingerprint is additive:
    count and sum-of-xxhash64(id) shift by the inserts' ids minus the
    deletes' ids, and an update (same id, changed payload) nets to
    zero on both components -- which is also what the full rescan sees,
    since the fingerprint never looked at the payload.  Equality with
    the full aggregate is pinned by test."""
    zero = F.lit(0).cast("decimal(38,0)")
    h = F.xxhash64(F.col(id_col)).cast("decimal(38,0)")
    row = delta.agg(
        F.coalesce(F.sum(
            F.when(F.col("_change_type") == "insert", 1)
            .when(F.col("_change_type") == "delete", -1)
            .otherwise(0)), F.lit(0)).alias("dn"),
        F.coalesce(F.sum(
            F.when(F.col("_change_type") == "insert", h)
            .when(F.col("_change_type") == "delete", zero - h)
            .otherwise(zero)), zero).alias("dh"),
    ).first()
    return [old_fp[0] + int(row["dn"]), old_fp[1] + int(row["dh"])]


def _q8_of_cells(cells: DataFrame) -> DataFrame:
    """Int8-quantize an inverted-file relation (:func:`ivf_cells`
    schema) into the serve-time compressed representation: (vec_id,
    cl, q8 array<tinyint>, q_l2sq bigint).  Codes and the integer L2
    come from :func:`~location_summary_etl_spark.operators.quantize.int8_quantize`
    verbatim (single-IEEE-op arithmetic, exact oracle parity); the
    per-vector scale is dropped because cosine is scale-invariant.
    tinyint is the honest 1-byte/dim physical claim -- codes are
    bounded to [-127, 127] by construction."""
    from location_summary_etl_spark.operators.quantize import int8_quantize

    qd = int8_quantize(cells.select("vec_id", "cl", "c_v"),
                       ["vec_id", "cl"], "c_v")
    return qd.select(
        "vec_id", "cl",
        F.col("q").cast("array<tinyint>").alias("q8"), "q_l2sq")


# Hot-cell skew guard default: no cell may hold more than this fraction
# of the indexed rows.  Chosen against the probe-pruning guarantee it
# protects: the candidate scan reads the n_probe largest cells in the
# worst case, so a per-cell bound of 1/4 caps the worst probed scan at
# n_probe/4 of the corpus (n_probe=2 -> <=50%) regardless of how skewed
# the embedding distribution is -- without it, one hot cell degrades
# n_probe pruning AND the q8 file-pruning built on it to a near-full
# scan.  For the default k_cells=8 the balanced share is 1/8, so a
# balanced build never comes near the bound.  Same posture as the dedup
# family's default-on max_df/max_bucket caps (r4).
IVF_MAX_CELL_FRACTION = 0.25

# Re-seeding never fans one hot cell into more than this many
# sub-centroids per pass: the split is a repair, not a re-clustering,
# and the literal-argmin expression grows with the centroid count.
_MAX_SPLIT_FANOUT = 16


def _split_hot_cells(emb: DataFrame, cents: list, id_col: str,
                     vec_col: str, max_cell_fraction: float,
                     train_iters: int,
                     max_rounds: int = 3) -> tuple[list, dict[int, int]]:
    """Build-time hot-cell split for the TRAINED quantizer: re-seed
    sub-centroids inside every cell holding more than
    ``max_cell_fraction`` of the rows, until the bound holds or
    ``max_rounds`` passes ran.

    The split is part of the FIT, not a new index structure: each pass
    k-means-fits ``ceil(count/cap)`` sub-centroids on the hot cell's
    members (seeded and iterated exactly like the top-level fit), then
    the hot centroid is REPLACED by its sub-centroids in one flat
    list -- assignment stays a single literal L2-argmin over that
    list, so the query path, the delta-refresh assignment, and the
    "probing every cell recovers brute force" exactness contract are
    untouched; queries simply see more, better-placed centroids where
    the data is dense.  Per pass: one column-pruned count aggregate
    plus, per hot cell, a k-means fit whose scans are filtered to that
    cell (lineage recomputation, no checkpoint -- at build time the
    corpus is being scanned repeatedly anyway).  A cell of (near-)
    identical vectors cannot be split geometrically (every sub-seed
    converges to the same point and the argmin tie-break drains to
    one id); such a cell stays hot after ``max_rounds`` and is
    reported in the returned counts rather than looped on forever --
    it also cannot be pruned geometrically, so splitting could not
    have bounded a query that probes it anyway.

    Returns the final flat centroid list and the final per-cell
    counts (the manifest's ``cell_counts``).
    """
    import math

    from location_summary_etl_spark.operators.clustering import kmeans_fit
    from location_summary_etl_spark.operators.similarity import (
        ivf_cells_quantized,
    )

    for _round in range(max_rounds + 1):
        counts = {
            int(r["cl"]): int(r["n"])
            for r in ivf_cells_quantized(emb, cents, id_col, vec_col)
            .groupBy("cl").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total = sum(counts.values())
        cap = math.ceil(total * max_cell_fraction)
        hot = sorted(c for c, n in counts.items() if n > cap)
        if not hot or _round == max_rounds:
            return cents, counts
        assign = ivf_cells_quantized(emb, cents, id_col, vec_col)
        for c in hot:
            m = min(math.ceil(counts[c] / cap), _MAX_SPLIT_FANOUT)
            if m < 2:
                continue
            next_id = max(j for j, _ in cents) + 1
            sub = kmeans_fit(assign.filter(F.col("cl") == c),
                             "vec_id", "c_v", k=m, iters=train_iters)
            if len(sub) < 2:
                continue  # geometrically unsplittable; keep the cell
            cents = ([cc for cc in cents if cc[0] != c]
                     + [(next_id + i, cv) for i, (_, cv) in enumerate(sub)])
    return cents, counts


def _cell_counts(cells: DataFrame) -> dict[int, int]:
    """Per-cell row counts -- one column-pruned aggregate; the
    centroid-table size class (bounded by the cell count)."""
    return {
        int(r["cl"]): int(r["n"])
        for r in cells.groupBy("cl")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }


def build_ivf_index(emb: DataFrame, root: str, *, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label",
                    base_version: int | None = None,
                    quantizer: str = "label", k_cells: int = 8,
                    train_iters: int = 2,
                    store_quantized: bool = False,
                    max_cell_fraction: float | None =
                    IVF_MAX_CELL_FRACTION) -> int:
    """Build and persist the index; returns the centroid-table version
    (THE index version a query pins).

    Two lineages, two commits: the inverted file first (RANGE-
    partitioned by cell with footer stats on ``cl``, so both the probe
    read and a later delta refresh prune to the touched cells' files),
    then the centroids whose manifest records the cells pin + base
    fingerprint.  Commit order matters: a crash between the two leaves
    an unreferenced cells snapshot (never a centroid manifest pointing
    at missing cells).

    ``base_version``: when the indexed relation is a
    :class:`VersionedTable` snapshot, pass its version so
    :func:`refresh_ivf_index` can later compute the CDC delta from
    this exact snapshot.  An index built from a bare DataFrame
    (``base_version=None``) can only be refreshed by full rebuild.

    ``quantizer``: ``"label"`` (default) derives cells from the label
    column -- deterministic and exactly oracle-able, the corpus-gate
    configuration.  ``"kmeans"`` TRAINS the coarse quantizer
    (``k_cells`` cells, ``train_iters`` Lloyd refits over the
    codegen'd literal-argmin loop in operators/clustering.py) and
    assigns cells by L2-argmin against the trained centroids -- the
    production IVF shape for corpora without a natural blocking
    column.  The trained quantizer is FROZEN into the generation:
    delta refreshes assign new vectors with the PINNED centroids and
    never refit (standard IVF maintenance -- refit is what a rebuild
    past ``rebuild_fraction`` is for), so cells stay stable and the
    pruning-only approximation contract holds (probing every cell
    still recovers brute force exactly).  Measured payoff at the same
    probe budget (n_probe=2 of 8 cells, recall@5 vs brute force):
    trained 0.71 vs label-proxy 0.28 at sf0.001, 0.62-0.65 vs 0.30 at
    sf0.01 -- the label quantizer sits at the 0.25 random baseline by
    design (it never looked at the vectors), training is what buys
    the IVF bargain its recall.

    ``store_quantized``: additionally persist ``<root>/cells_q8`` --
    the int8-quantized inverted file (1 byte/dim + one exact integer
    L2 per vector; see :func:`_q8_of_cells`) under the same
    range-partitioned-by-cell layout and footer stats, pinned in the
    manifest as ``q8_version``.  This is the serve-time table
    :func:`ivf_query_index_quantized` scans: at 100 TB the candidate
    read moves 4x fewer bytes than the float inverted file for a
    ~1e-3 cosine error, and the float cells table remains the
    exact-rescore / rebuild source of truth.

    ``max_cell_fraction``: the default-on hot-cell skew guard
    (:func:`_split_hot_cells`) for the TRAINED quantizer -- a skewed
    embedding distribution that concentrates the corpus into few
    cells would otherwise make ``n_probe`` pruning (and the q8
    file-pruning built on it) scan nearly everything.  Cells holding
    more than this fraction of the rows are split by re-seeding
    sub-centroids; ``None`` disables.  The LABEL quantizer is exempt
    by design: its cells mirror an external blocking column (the
    exactly-oracle-able corpus-gate contract), so re-cutting them
    would silently break the cl==label semantics callers rely on --
    skewed labels are the caller's modeling choice, the same way a
    skewed join key is."""
    counts: dict[int, int]
    if quantizer == "label":
        cells = ivf_cells(emb, id_col, vec_col, label_col)
        cent = ivf_centroids(emb, label_col, vec_col)
        counts = _cell_counts(cells)
    elif quantizer == "kmeans":
        from location_summary_etl_spark.functions.vectors import l2_norm
        from location_summary_etl_spark.operators.clustering import (
            kmeans_fit,
        )
        from location_summary_etl_spark.operators.similarity import (
            ivf_cells_quantized,
        )

        cents = kmeans_fit(emb, id_col, vec_col, k=k_cells,
                           iters=train_iters)
        if max_cell_fraction is not None:
            cents, counts = _split_hot_cells(
                emb, cents, id_col, vec_col, max_cell_fraction,
                train_iters)
        cells = ivf_cells_quantized(emb, cents, id_col, vec_col)
        if max_cell_fraction is None:
            counts = _cell_counts(cells)
        cent = emb.sparkSession.createDataFrame(
            [(int(j), [float(x) for x in cv]) for j, cv in cents],
            "cl int, cv array<double>",
        ).withColumn("c_nrm", l2_norm(F.col("cv")))
    else:
        raise ValueError(
            f"quantizer must be 'label' or 'kmeans', got {quantizer!r}")
    # Float inverted file: range-partitioned by cell (probe/file-prune
    # locality) AND id-sorted within each partition -- the id-sort costs
    # nothing at build time but makes parquet page-level column-index
    # pruning effective for the refine stage's point lookups (an IN
    # (ids) pushdown over an id-sorted file decodes only the pages that
    # can contain a candidate id, instead of the whole cell).
    cells_v = VersionedTable(os.path.join(root, _CELLS)).commit(
        cells.repartitionByRange("cl").sortWithinPartitions("cl", "vec_id"),
        mode="overwrite",
        operation="ivf_cells", stats_columns=["cl"])
    q8_v = None
    if store_quantized:
        q8_v = VersionedTable(os.path.join(root, _CELLS_Q8)).commit(
            _q8_of_cells(cells).repartitionByRange("cl"), mode="overwrite",
            operation="ivf_cells_q8", stats_columns=["cl"])
    meta = {
        "op": "ivf_build",
        "cells_version": cells_v,
        "q8_version": q8_v,
        "base_version": base_version,
        "quantizer": quantizer,
        # Quantizer configuration rides in the manifest so every later
        # rebuild (delta past rebuild_fraction, cumulative drift,
        # streaming-triggered) refits with the SAME shape: without it a
        # kmeans index built with k_cells=64 would silently become the
        # 8-cell default on its first rebuild, changing recall/pruning
        # with no error.
        "k_cells": k_cells,
        "train_iters": train_iters,
        # Rows delta-applied since the quantizer was last FIT (reset
        # here; accumulated by refresh_ivf_index's drift contract).
        "n_since_fit": 0,
        # Hot-cell skew guard state: per-cell row counts (maintained
        # O(touched) by delta refreshes) and the bound they are held
        # under.  JSON keys are strings; readers re-int them.
        "cell_counts": {str(c): n for c, n in sorted(counts.items())},
        "max_cell_fraction": max_cell_fraction,
        "fingerprint": _fingerprint(emb, id_col),
    }
    return VersionedTable(os.path.join(root, _CENTROIDS)).commit(
        cent, mode="overwrite", operation=json.dumps(meta))


def index_meta(root: str, version: int | None = None) -> dict:
    """The metadata recorded at build time (cells pin, fingerprint)."""
    tbl = VersionedTable(os.path.join(root, _CENTROIDS))
    if version is None:
        version = tbl.latest_version()
    if version is None:
        raise FileNotFoundError(f"no ANN index committed under {root}")
    return {"version": version, **_load_meta(tbl, version)}


def verify_index(root: str, base: DataFrame, *, id_col: str = "vec_id",
                 version: int | None = None) -> dict:
    """The staleness gate as a standalone check: raises
    :class:`StaleIndexError` unless the pinned generation was built
    from ``base``'s current contents; returns the verified metadata.
    One count+sum aggregate over the id column -- a production caller
    runs it once per base commit, not per query."""
    meta = index_meta(root, version)
    current = _fingerprint(base, id_col)
    if current != meta["fingerprint"]:
        raise StaleIndexError(
            f"index v{meta['version']} at {root} was built from "
            f"fingerprint {meta['fingerprint']}, but the base relation "
            f"is now {current}; rebuild or pin a matching version")
    return meta


def ivf_query_index(spark: SparkSession, root: str, query_ids: list[int],
                    k: int = 5, n_probe: int = IVF_N_PROBE,
                    version: int | None = None,
                    verify_against: DataFrame | None = None,
                    id_col: str = "vec_id") -> DataFrame:
    """Top-k from the persisted index alone (no base-table access).

    ``version`` pins an index generation (default: latest);
    ``verify_against`` raises :class:`StaleIndexError` when the pinned
    generation was not built from that relation's current contents."""
    if verify_against is not None:
        meta = verify_index(root, verify_against, id_col=id_col,
                            version=version)
    else:
        meta = index_meta(root, version)
    cent = VersionedTable(os.path.join(root, _CENTROIDS)).read(
        spark, meta["version"])
    cells = VersionedTable(os.path.join(root, _CELLS)).read(
        spark, meta["cells_version"])
    return ivf_search(cells, cent, query_ids, k=k, n_probe=n_probe)


def ivf_query_index_vectors(spark: SparkSession, root: str,
                            queries: list[tuple[int, list[float]]],
                            k: int = 5, n_probe: int = IVF_N_PROBE,
                            version: int | None = None) -> DataFrame:
    """Top-k for LITERAL query vectors -- the production serving shape
    (the query arrives as an embedding from outside the corpus) -- with
    the scan PRUNED to the probed cells' files.

    This is where the build-once layout finally pays at query time:
    the id-keyed :func:`ivf_query_index` must scan the whole inverted
    file (the query row could be in any cell), but a literal vector's
    probe cells are computable from the CENTROID table alone (k rows,
    one tiny job), and the candidate scan then opens only files whose
    manifest ``cl`` range can contain a probed cell
    (``read(where_any=...)`` over the footer stats the build records;
    the build's ``repartitionByRange("cl")`` makes per-file ranges
    tight).  Query cost is therefore O(probed cells' files), not
    O(corpus) -- asserted in tests by corrupting a non-probed cell's
    file on disk and querying anyway.  Scoring reuses
    :func:`ivf_search_vectors` verbatim, so ranking and rounding are
    identical to the id-keyed path -- including the self-exclusion on
    matching ids: pass the corpus row's vec_id to reproduce
    ``ivf_query_index`` exactly, or an id outside the corpus (e.g.
    negative) to rank every member.

    Measured trade (r8, sf1 = 500k vectors,
    quiet window, min-of-5): this path reads FEWER inverted-file
    files (5 vs 6 -- the tier only has 6) but times 0.57 vs 0.39 s,
    because probe selection is one extra blocking driver job (~0.18 s
    fixed) while pruning one file of six saves almost nothing.  The
    crossover is file count: at warehouse scale the inverted file is
    thousands of cell files and a query probes n_probe of them, so
    the fixed job buys an O(corpus) -> O(probed) scan; at bench scale
    prefer the id-keyed single-job path.  The corrupt-file test pins
    the mechanism independent of tier."""
    from location_summary_etl_spark.operators.similarity import (
        ivf_search_vectors,
    )

    meta = index_meta(root, version)
    cent = VersionedTable(os.path.join(root, _CENTROIDS)).read(
        spark, meta["version"])
    qdf = _query_frame(spark, queries)
    probed = sorted({cl for _qid, cl in _probe_pairs(qdf, cent, n_probe)})
    cells = VersionedTable(os.path.join(root, _CELLS)).read(
        spark, meta["cells_version"], where_any=("cl", probed))
    # skipping is never the predicate: the row filter still applies
    # (files are multi-cell at small scale)
    return ivf_search_vectors(cells.filter(F.col("cl").isin(probed)),
                              cent, qdf, k=k, n_probe=n_probe)


def _query_frame(spark: SparkSession,
                 queries: list[tuple[int, list[float]]]) -> DataFrame:
    """Literal query relation (query_id, q_v, q_nrm) -- the
    :func:`ivf_search_vectors` input shape."""
    from location_summary_etl_spark.functions.vectors import l2_norm

    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in queries],
        "query_id long, q_v array<double>",
    ).withColumn("q_nrm", l2_norm(F.col("q_v")))


def _probe_pairs(qdf: DataFrame, cent: DataFrame,
                 n_probe: int) -> list[tuple[int, int]]:
    """Probe selection against the k-row centroid table, collected
    driver-side as (query_id, cl) pairs (|Q| x n_probe rows -- the
    broadcast-side size class) so the candidate scan can be
    FILE-PRUNED to the probed cells.  Same ranking expression and
    rounding as :func:`ivf_search_vectors`'s in-plan probe, so both
    formulations pick identical cells."""
    from pyspark.sql import Window

    from location_summary_etl_spark.functions.scalars import round_portable
    from location_summary_etl_spark.functions.vectors import cosine

    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cl"))
    return sorted(
        (r["query_id"], r["cl"])
        for r in qdf.crossJoin(F.broadcast(cent))
        .select("query_id", "cl", round_portable(
            cosine(F.col("q_v"), F.col("cv"),
                   F.col("q_nrm"), F.col("c_nrm")), 6).alias("ccos"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cl").collect()
    )


def ivf_query_index_quantized(spark: SparkSession, root: str,
                              queries: list[tuple[int, list[float]]],
                              k: int = 5, n_probe: int = IVF_N_PROBE,
                              version: int | None = None,
                              backend: str = "pandas",
                              refine: int | None = None,
                              verify_against: DataFrame | None = None,
                              id_col: str = "vec_id") -> DataFrame:
    """Quantized serving over the persisted index: the candidate scan
    reads the int8 inverted file (``cells_q8`` -- 1 byte/dim + one
    exact integer L2 per vector), file-pruned to the probed cells, and
    scores with INTEGER dot products rescaled by the integer norms --
    the ``quantized_topk`` math over the ``ivf_query_index_vectors``
    serving shape.  Requires ``build_ivf_index(...,
    store_quantized=True)``.

    Path anatomy (what each stage touches at 100 TB):

    1. probe selection -- FLOAT query vs the k-row float centroid
       table (one tiny job; identical cell choice to the float path);
    2. candidate scan -- ONLY the q8 files whose footer ``cl`` range
       can contain a probed cell (``read(where_any=...)``), i.e.
       O(probed cells' files) at 1 byte/dim;
    3. scoring -- ``zip_with``/``aggregate`` integer dot, codegen'd,
       JVM-side; exact integers make the result order-independent and
       bit-identical to the DuckDB oracle before the single final
       rounding.

    Queries are quantized in-plan with the same
    :func:`~location_summary_etl_spark.operators.quantize.int8_quantize`
    expressions as the stored codes.  All-zero queries or candidates
    (integer norm 0) are excluded, matching the float paths' null-
    cosine filter and the oracle's ``nrm > 0``.

    ``backend``: ``"pandas"`` (default) scores each Arrow batch of
    pruned candidates with ONE int64 matmul -- exact integers make the
    matmul order-free, so it is bit-identical to the expression form
    (asserted by test) with none of the float paths' sequential-fold
    discipline; ``"expr"`` keeps the scoring entirely JVM-side
    (zip_with/aggregate -- Catalyst evaluates array lambdas
    interpreted, the measured 3x tax) for callers that must not
    launch Python workers.

    MEASURED (r9, the serving and backend A/Bs, sf10 tier
    = 200k vectors, probe-bracketed quiet windows, 2026-08-15):
    candidate scan 8.2 MB vs the float path's 56.9 MB on disk (6.9x
    fewer bytes -- the float inverted file stores array<double>, so
    int8 beats the naive 4x); serve latency min-of-5 interleaved,
    two quiet windows: float 1.43-1.64 s / expr quantized 0.91-1.03 /
    pandas quantized 0.36-0.47 s (results byte-identical across both
    quantized backends, and the second window re-measured the
    merge-vectorized membership filter); top-10
    agreement vs float 0.80 (the ~1e-3 quantized-cosine error
    reorders near-ties; both rankings are exactly oracled, so the
    trade is visible, not hidden).  At warehouse scale the byte ratio
    is the whole story: the candidate scan is the O(probed cells'
    bytes) term.

    ``refine``: the standard IVF accuracy repair for the ~0.80 top-10
    agreement -- the int8 scan selects the top-``refine`` candidates
    per query (R >= k, typically 4-10x k), their FLOAT vectors alone
    are fetched back (scan pruned to the probed cells' files, an
    ``IN (ids)`` pushdown over the build's id-sorted-within-cell
    layout letting parquet's page-level column index decode only the
    pages that can hold a candidate), and the final top-k is ranked
    by EXACT float cosine -- the output then carries ``cosine`` (the
    float paths' column) instead of ``qcosine``, because the scores
    ARE the float scores.  The candidate scan stays 1 byte/dim; the
    float fetch is O(R x |Q|) rows.  R sizing is corpus-dependent:
    exactness is GUARANTEED once R covers every probed candidate
    (unit-pinned); at finite R, agreement is monotone in R and the
    right R tracks how tightly the corpus packs top cosines relative
    to the ~1e-3 quantization error -- measured at the sf10 tier
    (r10, 2026-08-15, end-to-end per call): R=4k
    stayed at the bare path's 0.80 agreement, R=10k measured 1.00
    with row-for-row float-identical output at 2.60 s vs float's
    2.74 s and bare int8's 1.45 s -- at bench scale the refine
    stage's extra driver jobs cost ~1.1 s, so the latency win over
    float is small; the claim that SCALES is bytes (int8 candidate
    scan 8.2 vs 56.9 MB, float fetch ~R x |Q| of 200k rows), which
    is what dominates on a warehouse-sized inverted file.

    ``verify_against``: same staleness contract as
    :func:`ivf_query_index` -- pass the current base relation and a
    pinned generation whose fingerprint no longer matches raises
    :class:`StaleIndexError` instead of silently serving stale
    results (previously only the float path offered this, so the CLI
    hand-rolled the verify-then-read sequence)."""
    from location_summary_etl_spark.functions.scalars import round_portable
    from location_summary_etl_spark.operators.quantize import int8_quantize

    # Validate the argument contract BEFORE any Spark job runs: the
    # refine<k check used to sit after index_meta/verify_index, the
    # centroid read, and the _probe_pairs collect, so an invalid call
    # paid several driver jobs before failing (r10 ADVICE).
    if refine is not None and (refine <= 0 or refine < k):
        raise ValueError(f"refine={refine} must be >= k={k} and > 0")
    if verify_against is not None:
        meta = verify_index(root, verify_against, id_col=id_col,
                            version=version)
    else:
        meta = index_meta(root, version)
    if meta.get("q8_version") is None:
        raise ValueError(
            f"index generation v{meta['version']} at {root} carries no "
            "quantized inverted file; rebuild with build_ivf_index(..., "
            "store_quantized=True) to serve quantized queries")
    cent = VersionedTable(os.path.join(root, _CENTROIDS)).read(
        spark, meta["version"])
    qdf = _query_frame(spark, queries)
    pairs = _probe_pairs(qdf, cent, n_probe)
    probed = sorted({cl for _qid, cl in pairs})
    q8 = VersionedTable(os.path.join(root, _CELLS_Q8)).read(
        spark, meta["q8_version"], where_any=("cl", probed))
    cand = (q8.filter(F.col("cl").isin(probed))  # skipping is not the
            .filter(F.col("q_l2sq") > 0))        # predicate
    # the pandas scorer pre-cuts each batch to the final ranking depth;
    # with a refine stage that depth is R, not k (the rescore must see
    # the full quantized top-R)
    depth = k if refine is None else max(k, refine)
    if backend == "pandas":
        scored = _q8_score_pandas(cand, queries, pairs, depth)
    elif backend == "expr":
        # quantize the literal queries with the exact stored-code
        # arithmetic, score with JVM higher-order expressions
        qq = int8_quantize(qdf.select("query_id", "q_v"),
                           ["query_id"], "q_v")
        qq = qq.select(
            "query_id", F.col("q").cast("array<tinyint>").alias("_qq"),
            F.col("q_l2sq").alias("_q_l2sq")).filter(F.col("_q_l2sq") > 0)
        pairs_df = spark.createDataFrame(pairs, "query_id long, cl int")
        probes = qq.join(F.broadcast(pairs_df), "query_id")
        dot = F.aggregate(
            F.zip_with("_qq", "q8",
                       lambda a, b: a.cast("bigint") * b.cast("bigint")),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        scored = (
            cand.join(F.broadcast(probes), "cl")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                round_portable(
                    dot.cast("double")
                    / (F.sqrt(F.col("_q_l2sq").cast("double"))
                       * F.sqrt(F.col("q_l2sq").cast("double"))), 6
                ).alias("qcosine"),
            )
        )
    else:
        raise ValueError(
            f"backend must be 'pandas' or 'expr', got {backend!r}")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("vec_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return (ranked.filter(F.col("rank") <= k)
                .select("query_id", "rank", "vec_id", "qcosine"))

    from location_summary_etl_spark.functions.vectors import cosine

    # Quantized top-R per query, collected driver-side: R x |Q| pairs,
    # the broadcast size class (same bound as _probe_pairs) -- literal
    # ids are what let the float fetch push an IN filter into the scan.
    cand = [(int(r["query_id"]), int(r["vec_id"]))
            for r in ranked.filter(F.col("rank") <= refine)
            .select("query_id", "vec_id").collect()]
    ids = sorted({v for _q, v in cand})
    flt = (
        VersionedTable(os.path.join(root, _CELLS)).read(
            spark, meta["cells_version"], where_any=("cl", probed))
        .filter(F.col("vec_id").isin(ids))
        .select("vec_id", "c_v", "c_nrm"))
    pairs_df = spark.createDataFrame(cand, "query_id long, vec_id long")
    exact = (
        flt.join(F.broadcast(pairs_df), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id", "vec_id",
            round_portable(
                cosine(F.col("q_v"), F.col("c_v"),
                       F.col("q_nrm"), F.col("c_nrm")), 6).alias("cosine"))
        .filter(F.col("cosine").isNotNull()))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def _q8_score_pandas(cand: DataFrame,
                     queries: list[tuple[int, list[float]]],
                     pairs: list[tuple[int, int]], k: int) -> DataFrame:
    """Arrow-batched int64-matmul scorer over the pruned q8 candidates
    -- the ``quantized_topk`` batch shape applied AFTER cell pruning.
    Exact integers make the matmul order-free, so rows are
    bit-identical to the expression backend (pinned by test); the
    per-query probed-cell membership (different queries probe
    different cells) rides in the broadcast next to the query codes.
    Per-batch pre-cut in the final ranking order keeps the top-k
    window's shuffle O(partitions x |Q| x k)."""
    import numpy as np

    from location_summary_etl_spark.operators.quantize import _np_quantize
    from location_summary_etl_spark.session import partition_for_python_scan

    spark = cand.sparkSession
    qm = np.array([v for _i, v in queries], dtype=np.float64)
    qq, _ = _np_quantize(qm)
    qn = np.sqrt((qq * qq).sum(axis=1).astype(np.float64))
    qids = np.array([i for i, _v in queries], dtype=np.int64)
    live = qn > 0
    qids, qq, qn = qids[live], qq[live], qn[live]
    pair_arr = np.array([(int(q), int(c)) for q, c in pairs],
                        dtype=np.int64).reshape(-1, 2)
    bq = spark.sparkContext.broadcast((qids, qq, qn, pair_arr))
    cand = partition_for_python_scan(
        cand.select("vec_id", "cl", "q8", "q_l2sq"))

    def score(batches):
        import pandas as pd

        qids, qq, qn, pair_arr = bq.value
        # the (query_id, cl) membership as a vectorizable merge side:
        # per-row python set lookups cost ~0.3 s per million scored
        # pairs, the merge is a hash join inside pandas
        pairs_pdf = pd.DataFrame(
            {"query_id": pair_arr[:, 0], "cl": pair_arr[:, 1]})
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids = pdf["vec_id"].to_numpy(np.int64)
            cls = pdf["cl"].to_numpy(np.int64)
            cm = np.stack(pdf["q8"].to_numpy()).astype(np.int64)
            cn = np.sqrt(pdf["q_l2sq"].to_numpy(np.float64))
            dots = cm @ qq.T  # exact int64
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (cn[:, None] * qn[None, :])
            p = float(10 ** 6)
            cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
            n_b, n_q = cos.shape
            out = pd.DataFrame({
                "query_id": np.repeat(qids, n_b),
                "vec_id": np.tile(vids, n_q),
                "cl": np.tile(cls, n_q),
                "qcosine": cos.T.reshape(-1),
            })
            out = out[np.isfinite(out["qcosine"])]
            out = out[out["query_id"] != out["vec_id"]]
            out = out.merge(pairs_pdf, on=["query_id", "cl"])
            out = (
                out.sort_values(["query_id", "qcosine", "vec_id"],
                                ascending=[True, False, True])
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out[["query_id", "vec_id", "qcosine"]]

    return cand.mapInPandas(
        score, "query_id bigint, vec_id bigint, qcosine double")


def vacuum_index(root: str, retain_generations: int = 2,
                 grace_seconds: float = 3600.0) -> dict:
    """Vacuum BOTH index tables consistently.

    The two tables version independently, but each centroid generation
    PINS a cells version in its manifest -- so a bare
    ``cells.vacuum(retain_last=n)`` can delete files a RETAINED
    generation still references (e.g. after a ``compact()`` or a
    delta refresh bumped the cells table past an older pin), silently
    corrupting index time travel.  This helper derives the cells
    retention FROM the retained generations' pins: every cells version
    from the oldest retained pin forward survives.  Returns
    ``{"centroids": [...], "cells": [...]}`` deleted paths.  Same
    ``grace_seconds`` race-safety contract as
    :meth:`VersionedTable.vacuum`."""
    cent_tbl = VersionedTable(os.path.join(root, _CENTROIDS))
    versions = cent_tbl.versions()
    if not versions:
        raise FileNotFoundError(f"no ANN index committed under {root}")
    keep = versions[-retain_generations:]
    metas = [_load_meta(cent_tbl, v) for v in keep]
    pins = [m["cells_version"] for m in metas]
    cells_tbl = VersionedTable(os.path.join(root, _CELLS))
    cvs = cells_tbl.versions()
    oldest_pin = min(pins)
    if oldest_pin not in cvs:
        raise ValueError(
            f"retained index generation pins cells v{oldest_pin}, which "
            f"is already gone from {cells_tbl.path} (was the cells table "
            "vacuumed directly?); rebuild before vacuuming")
    out = {
        "centroids": cent_tbl.vacuum(retain_last=retain_generations,
                                     grace_seconds=grace_seconds),
        "cells": cells_tbl.vacuum(
            retain_last=len(cvs) - cvs.index(oldest_pin),
            grace_seconds=grace_seconds),
    }
    # The quantized inverted file (when any retained generation carries
    # one) follows the same pin-derived retention.
    q8_tbl = VersionedTable(os.path.join(root, _CELLS_Q8))
    qvs = q8_tbl.versions()
    q8_pins = [m["q8_version"] for m in metas
               if m.get("q8_version") is not None]
    if q8_pins:
        oldest_q8 = min(q8_pins)
        if oldest_q8 not in qvs:
            raise ValueError(
                f"retained index generation pins cells_q8 v{oldest_q8}, "
                f"which is already gone from {q8_tbl.path} (was the "
                "cells_q8 table vacuumed directly?); rebuild before "
                "vacuuming")
        out["cells_q8"] = q8_tbl.vacuum(
            retain_last=len(qvs) - qvs.index(oldest_q8),
            grace_seconds=grace_seconds)
    elif qvs:
        # A q8 table exists but NO retained generation pins it any
        # more (e.g. the index was rebuilt with store_quantized=False)
        # -- without this branch its files would be orphaned forever.
        # Retire everything but its latest version; removing the
        # abandoned table entirely is a caller decision (it may be
        # about to re-enable store_quantized), so the residue is one
        # version, not unbounded history.
        out["cells_q8"] = q8_tbl.vacuum(retain_last=1,
                                        grace_seconds=grace_seconds)
    return out


def refresh_ivf_index(spark: SparkSession, base, root: str, *,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      label_col: str = "label",
                      rebuild_fraction: float = 0.2,
                      compact_files: int | None = 64) -> int:
    """Incrementally refresh the index after the base
    :class:`~location_summary_etl_spark.sources.versioned.VersionedTable`
    advanced -- the 100 TB answer to "0.1% of the corpus was appended":
    reindex the delta, not the corpus.

    Composition of two existing primitives, no new I/O machinery:

    1. ``base.changes(old_pin, latest, keys=[id_col])`` -- the
       manifest-diff CDC feed, O(rows in CHANGED base files);
    2. ``cells.merge(...)`` keyed on ``(cl, vec_id)`` -- file-granular
       copy-on-write on the inverted file: only cell files containing
       a changed member are rewritten, every untouched cell file is
       carried BY PATH (never read -- with footer stats on ``cl`` the
       discovery scan itself prunes to files whose cell range can
       intersect the delta's), and pure inserts append as new files
       with zero rewrites.

    Centroids: the quantizer is the deterministic per-label mean
    (see :func:`ivf_centroids`), so only TOUCHED cells' centroids can
    move; they are recomputed from the post-merge inverted file
    (which stores every member vector) with the same
    ``ivf_centroids`` math, making the refreshed index
    result-identical to a full rebuild -- asserted by test and by the
    oracle pairing.  Untouched cells keep their committed centroid
    rows verbatim.

    ``rebuild_fraction``: when the delta exceeds this fraction of the
    indexed rows, fall back to :func:`build_ivf_index` (same quantizer
    CONFIGURATION -- k_cells/train_iters/store_quantized ride in the
    manifest) -- re-cluster the whole inverted file and refit every
    centroid.  For a TRAINED (kmeans) quantizer the guard is also
    CUMULATIVE: K successive deltas each below the threshold must not
    together erode the frozen fit, so the manifest tracks
    ``n_since_fit`` (rows delta-applied since the last fit) and a
    refresh whose cumulative fraction crosses ``rebuild_fraction``
    forces the refit even though its own delta is small.  The label
    quantizer is drift-FREE by construction (touched centroids are
    recomputed exactly on every delta), so only fragmentation matters
    there -- handled by ``compact_files``, not by rebuilds.

    ``compact_files``: every delta refresh appends new cell files to
    the inverted file(s); unbounded, a long-lived continuously-indexed
    stream (streaming/jobs.py) fragments its own read path into
    thousands of per-batch files.  When a post-merge inverted-file
    manifest exceeds this many files, the refresh REWRITES it through
    the build's ``repartitionByRange("cl")`` layout (operation
    ``ivf_compact``, fresh ``cl`` footer stats) and pins the compacted
    version -- restoring both the file count and the range clustering
    that repeated deltas erode, as one O(corpus) pass amortized over
    the ~``compact_files`` refreshes that triggered it.  Older
    generations keep their exact pre-compaction file lists (time
    travel holds; vacuum retires them on the normal schedule).
    ``None`` disables.

    Preconditions: the index was built with ``base_version`` (else
    only a rebuild can refresh -- raised, not guessed), and ``id_col``
    is unique in the base relation (the same PK assumption the
    fingerprint and the oracle GROUP BY already make).

    Returns the new centroid-table version.  No-op refresh (base
    unchanged) re-pins cheaply without touching the inverted file.
    """
    meta = index_meta(root)
    # Guard resolution (r10 self-review): dict.get with a DEFAULT --
    # a legacy pre-guard manifest (key absent) adopts the default-on
    # bound at its next refresh/rebuild, while an explicit opt-out
    # (key present, null) stays off; bare .get(key) would have
    # conflated the two and left every pre-r10 index unguarded
    # forever, including across full refits.
    max_cf = meta.get("max_cell_fraction", IVF_MAX_CELL_FRACTION)
    old_v = meta.get("base_version")
    if old_v is None:
        raise ValueError(
            f"index at {root} was built from a bare DataFrame "
            "(base_version=None); delta refresh needs the build-time "
            "snapshot pin -- rebuild with build_ivf_index(..., "
            "base_version=...)")
    new_v = base.latest_version()
    if new_v == old_v:
        return meta["version"]

    delta = base.changes(spark, old_v, new_v, keys=[id_col])
    delta = delta.localCheckpoint(eager=True)  # reused 3x; O(delta) rows
    n_delta = delta.select(id_col).distinct().count()
    n_base = meta["fingerprint"][0]
    if n_delta == 0:
        # Metadata-only base commits (compaction, replay): nothing to
        # reindex -- publish a new generation re-pinning the SAME cells
        # version under the new base version, so verify_against stays
        # truthful without a single data-file write.  Zero netted
        # changes means the additive fingerprint is unchanged too, so
        # it is carried, not rescanned (the O(corpus) aggregate this
        # path used to pay per micro-batch replay).
        cent = VersionedTable(os.path.join(root, _CENTROIDS)).read(
            spark, meta["version"])
        return VersionedTable(os.path.join(root, _CENTROIDS)).commit(
            cent, mode="overwrite", operation=json.dumps({
                "op": "ivf_repin",
                "cells_version": meta["cells_version"],
                "q8_version": meta.get("q8_version"),
                "base_version": new_v,
                "quantizer": meta.get("quantizer", "label"),
                "k_cells": meta.get("k_cells", 8),
                "train_iters": meta.get("train_iters", 2),
                "n_since_fit": meta.get("n_since_fit", 0),
                "cell_counts": meta.get("cell_counts"),
                "max_cell_fraction": max_cf,
                "fingerprint": meta["fingerprint"],
            }))
    quantizer = meta.get("quantizer", "label")
    n_since_fit = int(meta.get("n_since_fit", 0) or 0)
    over_delta = n_base > 0 and n_delta / n_base > rebuild_fraction
    # Cumulative-drift refit contract (kmeans only): the frozen
    # quantizer never refits on a delta, so successive small deltas
    # accumulate against the SAME pinned fit -- K refreshes each below
    # the threshold can together exceed it while recall decays.  The
    # label quantizer recomputes touched centroids exactly every delta
    # (no fit to drift), so it rebuilds only on the per-delta check.
    over_drift = (quantizer == "kmeans" and n_base > 0
                  and (n_since_fit + n_delta) / n_base > rebuild_fraction)
    if over_delta or over_drift:
        return build_ivf_index(
            base.read(spark, new_v), root, id_col=id_col, vec_col=vec_col,
            label_col=label_col, base_version=new_v, quantizer=quantizer,
            k_cells=int(meta.get("k_cells", 8)),
            train_iters=int(meta.get("train_iters", 2)),
            store_quantized=meta.get("q8_version") is not None,
            max_cell_fraction=max_cf)

    old_cent = VersionedTable(os.path.join(root, _CENTROIDS)).read(
        spark, meta["version"])
    if quantizer == "kmeans":
        # frozen quantizer: assign by the PINNED centroids (the same
        # literal argmin the build used), both for the new cells and
        # for locating the preimages' old cells
        from location_summary_etl_spark.operators.similarity import (
            ivf_cells_quantized,
        )

        pinned = sorted((int(r["cl"]), list(r["cv"]))
                        for r in old_cent.collect())
        _cells_of = lambda df: ivf_cells_quantized(  # noqa: E731
            df, pinned, id_col, vec_col)
    else:
        _cells_of = lambda df: ivf_cells(            # noqa: E731
            df, id_col, vec_col, label_col)
    post = _cells_of(
        delta.filter(F.col("_change_type").isin("insert",
                                                "update_postimage")),
    ).withColumn("_del", F.lit(False))
    pre = (
        _cells_of(
            delta.filter(F.col("_change_type").isin("delete",
                                                    "update_preimage")))
        .select("vec_id", "cl")
        # same-cell updates: the postimage upsert replaces the row in
        # place under the (cl, vec_id) key -- a delete for the same key
        # would collide with it, so net it out here
        .join(post.select("vec_id", "cl"), ["vec_id", "cl"], "left_anti")
        .select("vec_id", "cl",
                F.lit(None).cast("array<double>").alias("c_v"),
                F.lit(None).cast("double").alias("c_nrm"),
                F.lit(True).alias("_del"))
    )
    updates = post.unionByName(pre)
    cells_tbl = VersionedTable(os.path.join(root, _CELLS))
    new_cells_v = cells_tbl.merge(spark, updates, keys=["cl", "vec_id"],
                                  delete_col="_del")
    # The quantized inverted file (when this index stores one) takes
    # the SAME file-granular merge, keyed identically -- its codes are
    # derived from the delta's float vectors with the exact build-time
    # arithmetic, so a refreshed q8 table equals a from-scratch one.
    new_q8_v = meta.get("q8_version")
    if new_q8_v is not None:
        q8_tbl = VersionedTable(os.path.join(root, _CELLS_Q8))
        q8_updates = (
            _q8_of_cells(post.drop("_del"))
            .withColumn("_del", F.lit(False))
            .unionByName(pre.select(
                "vec_id", "cl",
                F.lit(None).cast("array<tinyint>").alias("q8"),
                F.lit(None).cast("bigint").alias("q_l2sq"),
                "_del"))
        )
        new_q8_v = q8_tbl.merge(spark, q8_updates, keys=["cl", "vec_id"],
                                delete_col="_del")
    # Fragmentation bound: past compact_files, rewrite through the
    # build's range layout as a NEW version (older pins untouched).
    if compact_files is not None:
        if cells_tbl._manifest(new_cells_v)["n_files"] > compact_files:
            new_cells_v = cells_tbl.commit(
                cells_tbl.read(spark, new_cells_v)
                .repartitionByRange("cl")
                .sortWithinPartitions("cl", "vec_id"),
                mode="overwrite", operation="ivf_compact",
                stats_columns=["cl"])
        if (new_q8_v is not None
                and q8_tbl._manifest(new_q8_v)["n_files"] > compact_files):
            new_q8_v = q8_tbl.commit(
                q8_tbl.read(spark, new_q8_v).repartitionByRange("cl"),
                mode="overwrite", operation="ivf_compact",
                stats_columns=["cl"])

    # Touched cells: bounded by the cell count by construction (the
    # quantizer has few cells; a driver-side list is the broadcast-side
    # of the centroid patch, same size class as the centroid table).
    touched = sorted(r["cl"] for r in updates.select("cl")
                     .distinct().collect())
    # Skew-guard bookkeeping: carry the manifest's per-cell counts,
    # recounting ONLY the touched cells from the post-merge inverted
    # file (file-pruned by the cl footer stats -- O(touched cells)
    # read, the same cost class as the label path's centroid refit).
    # Additive counting from the delta alone would be wrong: a
    # same-cell update's upsert row replaces in place (net 0) and is
    # indistinguishable in `updates` from a true insert.  A legacy
    # manifest without counts heals with one column-pruned full count
    # (then stays O(touched) forever after).
    counts_raw = meta.get("cell_counts")
    if counts_raw is None:
        counts = _cell_counts(cells_tbl.read(spark, new_cells_v))
    else:
        counts = {int(c): int(n) for c, n in counts_raw.items()}
        if touched:
            # point-set file pruning: a sparse touched set (cells 0 and
            # 500, say) must not scan every file in between, which the
            # old [min,max] range read did (r10 ADVICE) -- where_any
            # keeps the recount O(touched cells' files), as claimed
            recount = _cell_counts(
                cells_tbl.read(spark, new_cells_v,
                               where_any=("cl", touched))
                .filter(F.col("cl").isin(touched)))
            for c in touched:
                counts.pop(c, None)  # emptied cells drop out
            counts.update(recount)
    if quantizer == "kmeans":
        # frozen quantizer: centroids never move on a delta -- the
        # refreshed generation republishes them verbatim (refit is the
        # rebuild path's job)
        new_cent = old_cent
    else:
        # label quantizer: the centroid IS the per-label mean, so only
        # touched cells' rows can move it; recompute exactly those
        # from the post-merge inverted file
        kept = old_cent.filter(~F.col("cl").isin(touched))
        members = cells_tbl.read(
            spark, new_cells_v,
            where_any=("cl", touched),  # point-set file pruning
        ).filter(F.col("cl").isin(touched))
        refit = ivf_centroids(
            members.select(F.col("cl").alias(label_col),
                           F.col("c_v").alias(vec_col)),
            label_col, vec_col)
        new_cent = kept.unionByName(refit)

    # Refresh-time hot-cell skew guard (trained quantizer only --
    # label cells mirror the blocking column, see build_ivf_index):
    # deltas can grow a cell past the bound between rebuilds.  Unlike
    # the build's global re-fit, the refresh split is WITHIN-CELL:
    # the hot cell's members are read file-pruned, sub-centroids are
    # re-seeded on exactly them, and the merge rewrites only that
    # cell's files -- every other cell is carried by path, preserving
    # the file-granular CoW contract.  One pass per refresh: a cell
    # grows gradually between refreshes, so a residually-hot cell is
    # caught by the next one (the manifest's counts make the check
    # O(1)).
    split_cells: list[int] = []
    if quantizer == "kmeans" and max_cf is not None and counts:
        import math

        from location_summary_etl_spark.functions.vectors import l2_norm
        from location_summary_etl_spark.operators.clustering import (
            kmeans_fit,
        )
        from location_summary_etl_spark.operators.similarity import (
            ivf_cells_quantized,
        )

        total = sum(counts.values())
        cap = math.ceil(total * max_cf)
        t_iters = int(meta.get("train_iters", 2))
        for c in sorted(k for k, n in counts.items() if n > cap):
            m = min(math.ceil(counts[c] / cap), _MAX_SPLIT_FANOUT)
            if m < 2:
                continue
            members = cells_tbl.read(
                spark, new_cells_v, where=("cl", c, c),
            ).filter(F.col("cl") == c)
            sub = kmeans_fit(members, "vec_id", "c_v", k=m, iters=t_iters)
            if len(sub) < 2:
                # geometrically unsplittable (near-identical members
                # collapse every sub-seed); renaming would just churn
                continue
            # id allocation must clear EMPTY cells too: their
            # centroids exist with no counts entry, so take the max
            # over the centroid table, not over counts
            next_id = int(new_cent.agg(F.max("cl")).first()[0]) + 1
            subg = [(next_id + i, cv) for i, (_, cv) in enumerate(sub)]
            new_assign = ivf_cells_quantized(members, subg,
                                             "vec_id", "c_v")
            dels = members.select(
                "vec_id", "cl",
                F.lit(None).cast("array<double>").alias("c_v"),
                F.lit(None).cast("double").alias("c_nrm"),
                F.lit(True).alias("_del"))
            new_cells_v = cells_tbl.merge(
                spark,
                new_assign.withColumn("_del", F.lit(False))
                .unionByName(dels),
                keys=["cl", "vec_id"], delete_col="_del")
            if new_q8_v is not None:
                q8_tbl = VersionedTable(os.path.join(root, _CELLS_Q8))
                new_q8_v = q8_tbl.merge(
                    spark,
                    _q8_of_cells(new_assign)
                    .withColumn("_del", F.lit(False))
                    .unionByName(dels.select(
                        "vec_id", "cl",
                        F.lit(None).cast("array<tinyint>").alias("q8"),
                        F.lit(None).cast("bigint").alias("q_l2sq"),
                        "_del")),
                    keys=["cl", "vec_id"], delete_col="_del")
            sub_rows = spark.createDataFrame(
                [(int(j), [float(x) for x in cv]) for j, cv in subg],
                "cl int, cv array<double>",
            ).withColumn("c_nrm", l2_norm(F.col("cv")))
            new_cent = (new_cent.filter(F.col("cl") != c)
                        .unionByName(sub_rows))
            del counts[c]
            counts.update(_cell_counts(new_assign))
            split_cells.append(int(c))

    return VersionedTable(os.path.join(root, _CENTROIDS)).commit(
        new_cent, mode="overwrite", operation=json.dumps({
            "op": "ivf_delta",
            "cells_version": new_cells_v,
            "q8_version": new_q8_v,
            "base_version": new_v,
            "n_delta": n_delta,
            "quantizer": quantizer,
            "k_cells": meta.get("k_cells", 8),
            "train_iters": meta.get("train_iters", 2),
            "n_since_fit": n_since_fit + n_delta,
            "cell_counts": {str(c): n for c, n in sorted(counts.items())},
            "max_cell_fraction": max_cf,
            "split_cells": split_cells,
            "touched_cells": [int(c) for c in touched],
            # O(delta) additive update, not an O(corpus) rescan
            "fingerprint": _fingerprint_from_delta(
                meta["fingerprint"], delta, id_col),
        }))
