"""SparkSession factory.

The reference builds its session with a legacy two-step
SparkConf/SparkContext dance and no tuning at all
(/root/reference/src/main/scala/App.scala:18-20, master local[4] per
README.md:13).  We centralize session construction and set the knobs
that matter at scale:

- AQE on (runtime re-plan: broadcast conversion, shuffle coalescing,
  skew-join splitting) -- this is the 100 TB safety net.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden (or left to AQE coalescing from a high
  initial value).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for the pandas-UDF paths (vector similarity,
  multimodal decode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _parse_bytes(raw: str, default: int) -> int:
    """Spark byte-string conf value ("128m", "10485760b", "1g") -> int."""
    raw = (raw or "").strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    mult = 1
    if raw and raw[-1] == "b":
        raw = raw[:-1]
    if raw and raw[-1] in units:
        mult, raw = units[raw[-1]], raw[:-1]
    try:
        return int(raw) * mult
    except ValueError:
        return default


def _input_file_sizes(df) -> list[int] | None:
    """Byte size of each input file across ``df``'s lineage (driver-side
    file metadata, no Spark job).  ``None`` when the relation lists no
    input files (non-file source) or a file cannot be stat'ed."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    sizes = []
    for f in files:
        try:
            sizes.append(os.path.getsize(f.removeprefix("file:")))
        except OSError:
            return None
    return sizes or None


def ensure_parallelism(df, min_partitions: int | None = None,
                       by: str | None = None,
                       target_task_bytes: int | None = None):
    """Repartition a narrow relation whose scan parallelism is below
    the session's core count, BEFORE CPU-heavy per-row work
    (shingling, hashing, vector math) is chained onto it.

    ``target_task_bytes`` (r13): bound the widened width to
    DATA-PROPORTIONAL size -- ``ceil(source_bytes / target)``, still
    cores-capped -- instead of the unconditional core-width fan-out.
    Motivation (guide §2.2/§2.6 tiny-task overhead, measured
    OPTIMIZATION_r13.md change #1): dedup_minhash_lsh at sf0.1 widens 594 KB
    of documents to 32 tasks of ~18 KB, and the stage's total
    executorRunTime measures 6838 ms at width 32 vs 910 ms at width 8
    for identical work -- per-task fixed cost (aggregate-buffer
    allocation, task deser, 32-thread contention) exceeds the per-task
    work, and the driver's c8-vs-c32 scaling block showed the query
    RUNNING 2x FASTER at 8 cores (PERF_r12.json scaling 0.50).  Width
    8/16 time 0.549/0.550 s vs 0.648 at 32 and 0.963 unwidened.  The
    caller picks the target from its measured per-byte work: operators
    whose per-row work is heavy enough to amortize a task at 18 KB
    (8-char shingle fingerprints: 0.275 s at 32 vs 0.533 at 8) keep
    the default full width.  At any real tier the bytes/target ratio
    exceeds the core cap and this is exactly today's behavior -- the
    bound only engages in the small-input/wide-machine regime the
    helper exists for, and keeps width proportional to input on the
    way there (a lower $SPARK_GRAFT_CPUS run derives the same width,
    so the driver's scaling comparison sees matched plans).

    ``by`` (r12): hash-partition on a UNIQUE id column instead of
    round-robin.  Two measured effects (OPTIMIZATION_r12.md change #1,
    interleaved same-session min-of-8 at sf0.1):

    - every keyless ``repartition(n)`` first pays a LOCAL SORT of its
      input rows (``spark.sql.execution.sortBeforeRepartition``, on by
      default since SPARK-23207 so retried tasks reproduce the same
      row-to-partition assignment) -- for a payload-bearing relation
      (documents with text) that sort is a real pass over the bytes;
      hash partitioning is deterministic per row and skips it, keeping
      the retry-safety the sort exists for;
    - ``HashPartitioning(id)`` satisfies ``ClusteredDistribution`` for
      every downstream aggregate keyed on the id (or any superset:
      groupBy(id), groupBy(id, tok)), so the per-doc aggregate's own
      exchange DISAPPEARS (EnsureRequirements sees the partitioning is
      already established).  Measured: text_fingerprints 0.732 ->
      0.408 s, text_tfidf_top_terms 0.978 -> 0.577 s,
      dedup_minhash_lsh 0.954 -> 0.819 s, identical result multisets.

    Caller contract for ``by``: a (near-)unique, non-null key, so the
    hash spreads evenly -- a low-cardinality or skewed key would
    recreate exactly the imbalance this helper exists to fix (the
    round-robin form remains for relations with no such key).  ONE
    sanctioned exception: a per-entity key (events ``user_id``) is
    acceptable exactly when the downstream window/aggregate partitions
    by the SAME key, because the widening exchange then carries the
    identical skew the operator's own exchange would -- it replaces
    that exchange rather than adding imbalance (asof.py / the events
    plans document this at each such call site).  Do not copy that
    pattern onto a hot key feeding differently-keyed work.  Results
    must not depend on partitioning, which the corpus guarantees
    globally (exact fixed-point aggregation policy, r11).

    Why: a small parquet file with one row group scans as ONE partition,
    so everything fused into that scan stage runs on one core no matter
    how wide the machine is (measured: the whole dedup shingle pipeline
    on 1/32 cores at sf0.1).  At production scale inputs arrive in many
    splittable files, scan parallelism >= cores holds, and this is a
    no-op -- the repartition only fires in exactly the
    small-input/wide-machine regime where its tiny shuffle is worth it.

    The decision reads FILE METADATA (``df.inputFiles`` + sizes), never
    ``df.rdd``: converting to an RDD forces physical planning of the
    whole lineage at plan-build time, ~50-800 ms per query on the
    driver (measured), all of it thrown away when the real action
    re-plans.  Scan parallelism is estimated with FilePartition's own
    packing model -- ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalPadded / defaultParallelism))`` and each
    file padded to at least ``openCostInBytes`` -- NOT one-split-per-
    file: many tiny files pack into few partitions, so a file count
    alone over-estimates width in exactly the many-tiny-files regime
    this helper exists for.  Non-file relations (literal frames in
    unit tests, in-memory sources) report no input files; they were
    created with session-default parallelism, so no repartition is
    needed.
    """
    spark = df.sparkSession
    n = min_partitions or spark.sparkContext.defaultParallelism
    sizes = _input_file_sizes(df)
    if sizes is None:
        return df
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        128 * 1024 * 1024)
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304"),
        4 * 1024 * 1024)
    raw = sum(sizes)
    padded = sum(max(sz, open_cost) for sz in sizes)
    core = spark.sparkContext.defaultParallelism
    max_split = min(max_pb, max(open_cost, padded // max(core, 1)))
    est = (padded + max_split - 1) // max(max_split, 1)
    if target_task_bytes is not None:
        # RAW bytes, not open-cost-padded: the padding floor (4 MB)
        # would saturate the ratio for exactly the tiny inputs the
        # bound exists to keep narrow.
        n = min(n, max(1, -(-raw // target_task_bytes)))
    if est >= n or n <= 1:
        return df
    if by is not None:
        from pyspark.sql import functions as F

        if by not in df.columns:
            # eager typo guard: a wrong name would otherwise surface
            # as an AnalysisException deep in the caller's lineage
            raise ValueError(
                f"ensure_parallelism: by={by!r} is not a column of the "
                f"relation (columns: {df.columns})")
        return df.repartition(n, F.col(by))
    return df.repartition(n)


def partition_for_python_scan(df, target_bytes: int = 4 * 1024 * 1024):
    """Partition a relation feeding an Arrow-Python map stage
    (``mapInPandas``) so each task carries REAL work.

    A Python map partition has a fixed ~10 ms cost (worker handshake,
    Arrow stream setup) regardless of size: 32 partitions of a 0.8 MB
    table cost 0.44 s where one partition costs 0.19 s (measured,
    identity mapInPandas at sf0.1).  So unlike
    :func:`ensure_parallelism` (JVM stages, where idle cores are the
    only cost), the Python stage wants ``min(cores, input_bytes /
    target_bytes)`` partitions: tiny inputs stay narrow, and at
    warehouse scale the cap is the core count -- the same layout
    ensure_parallelism picks.  Falls back to leaving the relation
    untouched when no file metadata is available.
    """
    n_cores = df.sparkSession.sparkContext.defaultParallelism
    sizes = _input_file_sizes(df)
    if sizes is None:
        return df
    want = int(min(n_cores, max(1, sum(sizes) // target_bytes)))
    if len(sizes) >= want:
        return df if want > 1 else df.coalesce(1)
    return df.repartition(want)


def partition_for_grouped_python(df, *keys: str, min_partitions: int | None = None):
    """Hash-partition by the grouping key at full core width before a
    grouped-Python stage (``applyInPandas`` / ``cogroup``).

    Grouped-Python stages are priced per GROUP call (pandas frame
    construction dominates, ~1 ms/group), but AQE sizes the pre-stage
    exchange by BYTES and coalesces a small shuffle down to a couple of
    partitions -- serializing thousands of group calls onto two Python
    workers (measured 1.6 s for 1500 no-op groups at sf0.1, vs ~0.1 s
    spread wide).  An explicit keyed repartition is exempt from AQE
    coalescing, already satisfies the stage's ClusteredDistribution
    (no second exchange), and spreads the group calls across cores.
    At production scale the exchange exceeds AQE's target size anyway
    and this pins the same layout it would pick.
    """
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def broadcast_if_small(df, cap_bytes: int | None = None):
    """Plan-time broadcast hint gated on SOURCE file size -- poor-man's
    CBO for the statistics Catalyst doesn't have.

    Spark's static broadcast detection estimates a join side from table
    stats, which parquet paths without ANALYZE don't carry, so a
    filtered fact side is never auto-broadcast at plan time, and AQE's
    runtime conversion only helps stages *after* the exchange has
    already been planned and materialized.  This helper sums the
    side's input-file sizes (driver-side metadata, no job): below the
    cap it attaches an explicit ``broadcast()`` hint, above it the plan
    is untouched.  At bench scale a two-table join side totals a few
    MB and broadcasting it deletes the fact-fact shuffle (measured
    0.85s -> 0.61s on the Q5 shape at sf0.1); at 100 TB the same
    source files are TBs, the hint never fires, and the declarative
    shuffle-join plan stands.  The cap defaults to the session's
    autoBroadcastJoinThreshold, so operators stay consistent with the
    engine-wide broadcast policy.

    THE PROXY IS LINEAGE SOURCE BYTES, nothing finer: the sum of every
    input file across the side's whole lineage.  For a derived side
    (a join of two tables, a filtered fact) that both OVER-counts --
    any large contributing table suppresses the hint even if the
    filtered/joined output is tiny (conservative: the declarative plan
    stands, never a forced-broadcast OOM) -- and UNDER-counts
    relations whose output exceeds their compressed inputs.  Callers
    therefore must not pass EXPANDING relations (explode / fan-out
    joins); every call site in this repo passes filtering or
    FK-bounded joins where source bytes upper-bound the output.
    """
    from pyspark.sql import functions as _F

    # lazy import: gates imports this module's source_bytes/cap helpers
    # at module level, so the dependency must stay one-way at load time
    from location_summary_etl_spark.operators.gates import source_fits

    if cap_bytes is None:
        cap_bytes = broadcast_cap_bytes(df.sparkSession)
    if cap_bytes <= 0:
        return df
    if not source_fits(df, cap_bytes=cap_bytes):
        return df
    return _F.broadcast(df)


def broadcast_cap_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (the repo-wide
    broadcast policy every size-gated plan decision keys off)."""
    return _parse_bytes(
        spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"),
        10 * 1024 * 1024)


def source_bytes(df) -> int | None:
    """Sum of the input-file sizes across a DataFrame's whole lineage
    (driver-side metadata only -- no Spark job).  ``None`` when the
    size is unknowable (non-file source, unlistable path): callers must
    treat None conservatively (no broadcast, the shuffle plan stands).
    Same proxy caveats as :func:`broadcast_if_small`."""
    sizes = _input_file_sizes(df)
    return None if sizes is None else sum(sizes)


def filter_behind_barrier(df, cond):
    """Filter on expensive DERIVED columns without re-evaluating them.

    ``df.filter(cond)`` where ``cond`` references computed columns lets
    PushDownPredicates substitute the full defining expressions into
    the scan as a duplicated data filter -- for array-building
    expressions (tokenize, shingles) that re-runs the heavy work per
    gate (measured 17x on corpus_clean's language gate: 9.5s vs 0.6s
    at sf0.1).  A nondeterministic column in a projection blocks all
    predicate pushdown through it, and the always-true guard keeps
    ColumnPruning from deleting the column (which would re-enable the
    pushdown).  Result rows are identical; only the plan shape changes.
    """
    from pyspark.sql import functions as F

    b = "_pushdown_barrier"
    return (
        df.withColumn(b, F.rand(7))
        .filter(cond & (F.col(b) >= F.lit(-1.0)))  # rand() in [0,1): always true
        .drop(b)
    )


def demote_guarded_window_warnings(spark: SparkSession) -> bool:
    """Demote ``WindowExec``'s "No Partition Defined" WARN to ERROR.

    Every empty-spec window this engine plans goes through
    ``operators.windows.guarded_unpartitioned`` -- a count(*) tripwire
    raises past 100k input rows, so the single-partition collapse the
    upstream WARN exists to flag is impossible by construction here.
    The warning is therefore pure noise in OUR logs, and in a bench /
    soak run (100+ queries, several guarded windows each) it repeats
    often enough to bury real WARN-level signals in the driver log
    (r10 verdict, "what's wrong" #3).

    Scoped to exactly the one logger that carries the known-tripwired
    message -- ``org.apache.spark.sql.execution.window.WindowExec`` --
    not the root logger, so every other Spark warning still surfaces.
    Called by bench.py / tools/soak_oracle.py, NOT by get_session():
    a library user's own unguarded windows keep the upstream warning.

    Returns True when the level was applied (best-effort: log4j2
    internals are not a stable API, so failure is swallowed -- losing
    the demotion only restores the old noise, never hides data).
    """
    name = "org.apache.spark.sql.execution.window.WindowExec"
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            name, jvm.org.apache.logging.log4j.Level.ERROR)
        return (jvm.org.apache.logging.log4j.LogManager.getLogger(name)
                .getLevel().toString() == "ERROR")
    except Exception:
        return False


def get_session(app_name: str = "location-summary-etl-spark",
                master: str | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ -> shuffled-hash conversion (off by default
        # upstream).  AQE converts a planned sort-merge join to a
        # shuffled hash join when EVERY post-shuffle partition fits the
        # threshold -- gated on the actual runtime byte sizes, so it is
        # scale-safe in exactly the way a plan-time shuffle_hash hint
        # is not (oversized or skewed stages simply keep the SMJ, and
        # the per-partition build map is bounded at 128 MB).  Measured
        # r7, interleaved toggle in one session: Q5 shape at the 100x
        # tier 1.63 -> 1.25 s (-23%, both fact sorts deleted); at
        # bench scale six of eight join-heavy headliners improve
        # (-2..-13%) and the two apparent regressions do not reproduce
        # at 6 reps (distributions fully overlap).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Codegen-heavy corpus (16-way minhash aggs, 32-bit vote sums):
        # the JVM default 240m code cache fills after a dozen such
        # queries, the JIT shuts off, and throughput collapses ~10x.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        # The generated-class cache defaults to 100 entries; a corpus
        # session compiles several codegen stages per query across
        # 100+ queries, so the default thrashes -- every re-run of an
        # evicted plan recompiles (and re-JITs) from scratch.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-spam to stderr; harnesses that
        # capture a bounded output tail (the driver does) lose real
        # output to it, and the render thread adds jitter to sub-second
        # timings.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
