"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <scale factor>, ...}

Each query executes fully via the noop sink (no collect/driver
serialization in the measurement).  A DuckDB wall-clock per oracle is
included for the 2x-of-DuckDB target (BASELINE.md) unless
SPARK_GRAFT_BENCH_DUCKDB=0, plus ``spark_job_floor_sec`` -- the
measured cost of an empty Spark job (scheduling + noop commit), i.e.
the fixed overhead every sub-second query pays at bench scale that
amortizes away at cluster scale.

Noise gating: the shared host suffers co-tenant CPU-steal bursts
(6-19x on a fixed single-core kernel, for minutes).  The harness
therefore (a) WAITS for a quiet window before timing anything and
(b) stamps every engine pass with boundary probes (tools/hostprobe.py)
so each artifact records whether its own window was quiet --
``probe_quiet_passes == 0`` marks a run whose totals are upper
bounds only and not comparable round-over-round.

The arithmetic probe's documented blind spot (r8) -- scan-heavy
queries moving 1.3-1.9x between windows it called quiet -- was
identified in r9 as AGGREGATE MEMORY BANDWIDTH and is CLOSED as a gate
in r10: the startup wait and the per-pass quiet certification both
require the multi-threaded streaming probe (``hostprobe.probe_mt``,
preallocated-buffer kernel, quiet 0.13-0.15 s, threshold 0.45) under
its threshold alongside the arithmetic one.  Residual self-description
stays: per-query minima are kept PER PASS, and a query whose
quiet-pass minima disagree by more than ``UNSTABLE_SPREAD`` is listed
in ``unstable_queries`` -- a reader of BENCH_r{N}.json alone can tell
wobble from regression for that query family without the crossover
prose.

THE RESIDUAL SPREAD SOURCE, identified r11 (fully-gated window,
every timed rep stamped with per-collector GC deltas, janino compile
counts, JIT total-compile-time deltas, and the JVM's /proc io
read_bytes): **asynchronous tiered-JIT
re-optimization**, not GC, not codegen-cache eviction, not page-cache
eviction.  Across 108 instrumented reps of the two r10 spread-tagged
queries plus a control at sf0.1: janino compiles 0 (the 2000-entry
generated-class cache never evicted), disk reads 0 bytes (the tier
lives in page cache), GC <= 18 ms/rep (young only) -- but every slow
tight-loop rep carried 1.0-1.7 s of background C2 compile time
(region_nation_rollup: 0.644/0.615/0.645 s reps with jit 1651/1484/
1008 ms, decaying monotonically to 0.31-0.35 s reps at jit 300-700 ms
over ~4 reps; text_fingerprints the same shape).  C2 runs on
background threads, so one untimed warm run starts -- but does not
finish -- tier-up, and min-of-3 immediately after still lands mid-
climb; by the time it settles, cross-pass minima sit inside the
jitter band (phase B: 6 gated passes, spreads 1.23/1.15/1.40 with the
only >1.25 cell on the CONTROL under a probe-visible blip).  The fix
below (`_warm_until_jit_settles`) retires the mechanism instead of
tagging it: each query warms until a warm rep overlaps < JIT_SETTLE_MS
of background compilation (bounded extra reps), so timed reps measure
steady-state throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Timed separately from HEADLINE (see the extras section in main):
# write life-cycles, streaming drains, and alternate dedup configs.
EXTRAS = [
    "dedup_minhash_lsh_uncapped",
    "dedup_ngram_jaccard_uncapped",
    "dedup_ngram_jaccard_auto",
    "ann_topk_ivf_quantized",
    "multimodal_audio_decode",
    "merge_upsert_orders",
    "ann_topk_ivf_persisted",
    "ann_topk_ivf_delta",
    "versioned_time_travel",
    "skew_salted_fact_join",
    "text_approx_topk_sketch",
    "streaming_tumbling_counts",
    "streaming_user_running_stats",
]

# Quiet-pass per-query minima disagreeing by more than this ratio mark
# a probe-blind-spot cell (see module docstring).  1.25 sits above the
# same-window jitter band (<=1.15 measured across r6-r8 quiet passes)
# and below the 1.3-1.9x swings the blind spot produces.
UNSTABLE_SPREAD = 1.25

# A warm rep overlapping at least this much background C2 compilation
# is still climbing the JIT tiers -- warm again (module docstring,
# r11 attribution).  Quiet steady-state reps measure 26-155 ms of
# incidental background compile; mid-climb reps measure 1000+.
JIT_SETTLE_MS = 300
JIT_SETTLE_MAX_EXTRA = 4

# Absolute cross-pass delta below which a spread is scheduling noise,
# not contention: measured <= 110 ms for every query (any size) in a
# fully-quiet 3-pass window after JIT-settled warms (see the unstable
# computation below for the distribution).  Sits under the 200-700 ms
# the r8 blind-spot class moves.
SPREAD_ABS_FLOOR_SEC = 0.12


def _jit_bean(spark):
    """CompilationMXBean of the driver JVM (None if unavailable --
    the warm loop then degrades to the single warm rep)."""
    try:
        return (spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getCompilationMXBean())
    except Exception:
        return None


def _warm_until_jit_settles(run, bean) -> None:
    """One warm rep, repeated (bounded) until the rep overlapped less
    than JIT_SETTLE_MS of background JIT compilation.  C2 compiles on
    background threads: the first warm run STARTS tier-up for the
    plan's generated code but rarely finishes it, and timed reps taken
    mid-climb produced the r10 ``unstable_queries`` tags (module
    docstring).  The loop is driver-side bean reads around the reps it
    would run anyway -- no Spark jobs added when the first warm rep is
    already settled."""
    if bean is None:
        run()
        return
    for _ in range(1 + JIT_SETTLE_MAX_EXTRA):
        t0 = bean.getTotalCompilationTime()
        run()
        if bean.getTotalCompilationTime() - t0 < JIT_SETTLE_MS:
            return

HEADLINE = [
    "flagship_nation_summary",
    "pricing_summary",
    "latest_order_per_customer",
    "lineitem_derived_columns",
    "top_orders_per_nation",
    "customer_order_recency",
    "region_nation_rollup",
    # The banded range join has two corpus formulations; the headline
    # measures the one you would deploy -- the compiled CASE-chain
    # (pure map, no join operator).  The BNLJ formulation stays in the
    # corpus as orders_price_banded for range-join coverage.
    "orders_price_banded_compiled",
    "customers_with_urgent_orders",
    "text_bpe_token_counts",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "text_token_stats",
    "text_fingerprints",
    "ann_topk_bruteforce_pandas",
    "events_tumbling_10min",
    "events_sessionization",
    "events_asof_purchase_click",
    "events_funnel",
    "events_state_runs",
    "region_local_supplier_volume",
    "order_shipping_priority",
    "user_value_ewma",
    "ann_topk_quantized",
    "part_small_quantity_revenue",
    "customer_order_count_distribution",
    "corpus_contamination_check",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as contract
    from location_summary_etl_spark.session import get_session
    from tools import hostprobe

    # Co-tenant steal gate (tools/hostprobe.py): this host's timing is
    # only trustworthy inside quiet windows, so (a) wait for one before
    # anything is timed, (b) stamp every engine pass with boundary
    # probes so the artifact itself says which cells were measured
    # quiet.  SPARK_GRAFT_BENCH_PROBE=0 disables (probe fields null).
    probing = os.environ.get("SPARK_GRAFT_BENCH_PROBE", "1") != "0"
    probe_threshold = float(os.environ.get(
        "SPARK_GRAFT_BENCH_PROBE_THRESHOLD", str(hostprobe.QUIET_SEC)))
    bw_threshold = float(os.environ.get(
        "SPARK_GRAFT_BENCH_PROBE_BW_THRESHOLD",
        str(hostprobe.MT_QUIET_SEC)))
    startup_probes: list[float] = []
    startup_bw_probes: list[float] = []
    if probing:
        # r10: the startup gate requires BOTH probe classes quiet --
        # three r9 same-commit windows separated on the bandwidth
        # probe (totals 8.5/9.3/10.6 s <-> bw 0.31/1.18/1.32
        # old-scale) while the arithmetic probe called all three
        # quiet, so arithmetic-only gating can mint absolutes in a
        # bandwidth-contended window.
        startup_probes, startup_bw_probes = hostprobe.wait_quiet_all(
            threshold=probe_threshold,
            bw_threshold=bw_threshold,
            attempts=int(os.environ.get(
                "SPARK_GRAFT_BENCH_PROBE_ATTEMPTS", "10")),
            sleep_sec=float(os.environ.get(
                "SPARK_GRAFT_BENCH_PROBE_SLEEP", "60")),
        )

    spark = get_session(app_name="bench")
    # The guarded empty-spec windows (operators/windows.py tripwire)
    # make WindowExec's no-partition WARN noise here; demote it so
    # real warnings stay visible in the driver's captured log tail.
    from location_summary_etl_spark.session import demote_guarded_window_warnings
    demote_guarded_window_warnings(spark)
    qs = contract.queries()
    names = [n for n in HEADLINE if n in qs]

    # Session warm-up: one query through the full stack (py4j, Arrow,
    # noop committer) before anything is timed.
    qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Per query: one UNTIMED warm run immediately before its timed
    # runs, then the timed minimum.  Warm-then-time per query (not a
    # global warm pass): codegen'd classes live in a bounded cache, so
    # warming everything up front evicts the early entries and every
    # timed run recompiles -- measured 2-10x inflation on queries late
    # in the list.  Locality keeps each query's generated classes and
    # their JIT state hot for exactly the runs that are timed.
    #
    # MULTIPLE FULL PASSES, per-query min across passes: host noise
    # arrives in multi-second bursts (measured: consecutive single-pass
    # invocations disagree up to 1.9x on one query while agreeing on
    # the rest), so min-of-3 WITHIN one window still absorbs a burst
    # that covers the window.  Two passes separated by the full list
    # (~40 s apart) cannot be covered by one burst, so the cross-pass
    # min is stable where the single-pass min was not.
    # Boundary probes: one before pass 1, one after each pass
    # (len == passes+1).  Pass i is "quiet" iff probes i and i+1 both
    # cleared the threshold; with per-query min ACROSS passes, one
    # quiet pass makes the headline minimum trustworthy (steal only
    # inflates, never deflates).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    pass_probes: list[float] = [hostprobe.probe()] if probing else []
    # Second probe class: aggregate-bandwidth kernel.  GATING since
    # r10 (recorded-only in r9): a pass counts as quiet only when the
    # bandwidth stamps on both sides of it also cleared bw_threshold.
    bw_probes: list[float] = [hostprobe.probe_mt()] if probing else []
    times_by_pass: list[dict[str, float]] = []
    jit = _jit_bean(spark)
    for _ in range(passes):
        pass_times: dict[str, float] = {}
        for name in names:
            spark.catalog.clearCache()
            _warm_until_jit_settles(
                lambda: qs[name](spark, sf_dir).write.format("noop")
                .mode("overwrite").save(), jit)
            best = float("inf")
            for _ in range(repeats):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            pass_times[name] = best
            spark.catalog.clearCache()
        times_by_pass.append(pass_times)
        if probing:
            pass_probes.append(hostprobe.probe())
            bw_probes.append(hostprobe.probe_mt())
    times = {n: round(min(p[n] for p in times_by_pass), 3) for n in names}
    quiet_idx = [
        i for i in range(passes)
        if probing and pass_probes[i] <= probe_threshold
        and pass_probes[i + 1] <= probe_threshold
        and bw_probes[i] <= bw_threshold
        and bw_probes[i + 1] <= bw_threshold]
    quiet_passes = len(quiet_idx) if probing else 0

    # Probe blind-spot self-description: a query whose per-pass minima
    # disagree by > UNSTABLE_SPREAD across PROBE-QUIET passes sits in a
    # contention regime the arithmetic probe cannot see (measured r8:
    # scan-heavy queries only).  Its headline min is a valid lower
    # bound, but its cross-round delta is NOT evidence of a plan
    # change -- the artifact says so itself.  Needs >= 2 PROBE-QUIET
    # passes to say anything (probes disabled -> null: without quiet
    # certification a spread could just be an unseen steal burst);
    # floor-bound queries (< 50 ms) are exempt (scheduler jitter, not
    # contention).
    # ... and pass 0 is excluded from the spread: it is systematically
    # ~20% slower than later passes with QUIET probes on both sides
    # (measured r10 twice: totals 10.4/8.6/8.5 and 10.2/8.7/8.7/8.0) --
    # JVM tiered-JIT + page-cache warm-up, a self-inflicted repeatable
    # effect, not host contention; including it flagged 14 floor-class
    # cells as "unstable" and drowned the real blind-spot signal.  The
    # headline min still uses every pass (a warm-up only inflates).
    # ... and the tag requires an ABSOLUTE delta floor alongside the
    # ratio (r11): with JIT-settled warms in a 3-quiet-pass window,
    # cross-pass deltas measure <= 110 ms for EVERY query regardless
    # of size (the full distribution, sorted: 110/90/83/78/74/64/45 ms
    # then a tail under 32 ms -- text_fingerprints at min 0.584 s and
    # events_funnel at min 0.196 s both move ~0.1 s), so the noise is
    # an absolute per-cell scheduling/stage-orchestration band, and a
    # ratio-only threshold converts it into tags for any cell fast
    # enough (0.196 -> 0.279 s reads as 1.42x).  The blind-spot class
    # the tag exists for moves 1.3-1.9x on 0.4-0.7 s scan-heavy cells
    # (r8) = 200-700 ms absolute, well clear of the floor.
    steady_idx = [i for i in quiet_idx if i > 0]
    spread = None
    unstable = None
    if len(steady_idx) >= 2:
        spread = {
            n: round(max(times_by_pass[i][n] for i in steady_idx)
                     / min(times_by_pass[i][n] for i in steady_idx), 2)
            for n in names}
        delta = {
            n: max(times_by_pass[i][n] for i in steady_idx)
            - min(times_by_pass[i][n] for i in steady_idx)
            for n in names}
        unstable = sorted(
            n for n in names
            if times[n] >= 0.05 and spread[n] > UNSTABLE_SPREAD
            and delta[n] > SPREAD_ABS_FLOOR_SEC)

    # Fixed per-job cost: an empty query through the same noop sink.
    floor = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor = min(floor, time.perf_counter() - t0)

    # Host-speed calibration: a fixed CPU-bound all-core Spark job.
    # Back-to-back bench invocations on this host have measured
    # UNIFORM 25-35% swings across every query (co-tenant CPU
    # contention on the shared VM — per-query times move together,
    # so it is the host, not the plans).  No in-run minimum can
    # remove a slowdown that covers the whole invocation; this
    # constant-work number makes invocations comparable after the
    # fact (query_time / cal ratios are stable when raw times are
    # not).
    cal = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 3 + 1)").collect()
        cal = min(cal, time.perf_counter() - t0)

    # The driver captures only a bounded tail of stdout, so the stdout
    # line must stay SHORT: queries + totals only.  The DuckDB
    # comparison and method notes go to BENCH_DETAIL.json on disk.
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "spark_job_floor_sec": round(floor, 3),
        "host_cpu_cal_sec": round(cal, 3),
        # Steal-probe stamps (tools/hostprobe.py; quiet host ~1.05 s).
        # pass_probes brackets the engine passes; quiet_passes counts
        # passes whose BOTH boundary probes cleared the threshold.
        # quiet_passes == 0 means every pass overlapped a steal burst:
        # the totals are upper bounds, not comparable round-over-round.
        "probe_threshold_sec": probe_threshold if probing else None,
        "probe_bw_threshold_sec": bw_threshold if probing else None,
        "probe_startup_sec": startup_probes or None,
        "probe_bw_startup_sec": startup_bw_probes or None,
        "probe_pass_sec": pass_probes or None,
        # bw stamps GATE quiet_passes since r10 (r9: recorded only).
        # NOTE: r10 re-scaled the bw kernel (preallocated buffers) --
        # probe_bw_sec values are not comparable to r9 artifacts.
        "probe_bw_sec": bw_probes or None,
        "probe_quiet_passes": quiet_passes if probing else None,
        # Blind-spot cells (see module docstring): queries whose minima
        # across STEADY quiet passes (quiet passes after the warm-up
        # pass 0) spread > UNSTABLE_SPREAD.  Cross-round deltas on
        # these names are window wobble unless the plan changed; null
        # when < 2 steady quiet passes (nothing can be said).
        "unstable_spread_bound": UNSTABLE_SPREAD,
        "unstable_abs_floor_sec": SPREAD_ABS_FLOOR_SEC,
        "unstable_queries": unstable,
    }

    detail = dict(out)
    detail["pass_spread"] = spread
    detail["times_by_pass"] = [
        {n: round(t, 3) for n, t in p.items()} for p in times_by_pass]
    detail["method"] = (
        f"min over {passes} full passes x {repeats} runs per query "
        "(warm run before each pass's timed runs, cache cleared "
        "between runs), noop sink; probe-gated start + boundary "
        "probes per pass (tools/hostprobe.py)"
    )
    # Each detail section gets its own boundary-probe pair: the DuckDB
    # ratios and the sf0.01 trend run in windows minutes after the
    # headline passes, so they need independent quiet evidence before
    # a per-query ratio or slope is believed.
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        import duckdb

        _pre = hostprobe.probe() if probing else None
        _pre_bw = hostprobe.probe_mt() if probing else None

        from location_summary_etl_spark.sources.registry import TABLES, table_path

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )
        oracles = contract.oracle_sql()
        dtimes: dict[str, float] = {}
        for name in names:
            if name not in oracles:
                continue
            # min-of-3 with a warm run, mirroring the Spark timing
            # discipline -- a one-shot cold DuckDB number was noisy
            # enough (first-touch parquet cache, JIT) to swing the
            # per-query ratio 2x between bench invocations.
            con.execute(oracles[name]).fetchall()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                best = min(best, time.perf_counter() - t0)
            dtimes[name] = round(best, 3)
        detail["duckdb"] = dtimes
        # Extras' oracles, kept under a separate key: several are
        # WRITE life-cycles whose Spark time includes table mutation
        # while the oracle only recomputes the final relation, so
        # folding them into the headline ratio would be
        # apples-to-oranges.
        dextras: dict[str, float] = {}
        for name in [n for n in EXTRAS if n in qs and n in oracles]:
            con.execute(oracles[name]).fetchall()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                best = min(best, time.perf_counter() - t0)
            dextras[name] = round(best, 3)
        detail["duckdb_extras"] = dextras
        if probing:
            detail["probe_duckdb_sec"] = [_pre, hostprobe.probe()]
            detail["probe_duckdb_bw_sec"] = [_pre_bw, hostprobe.probe_mt()]

    # Extras: round-4+ families timed with the same discipline but
    # kept OUT of the headline total so cross-round totals stay
    # comparable.  Streaming entries include real stream start/drain
    # (seconds of fixed cost by design); merge/versioned include their
    # table life-cycle writes.
    extras: dict[str, float] = {}
    _pre_x = hostprobe.probe() if probing else None
    for name in [n for n in EXTRAS if n in qs]:
        spark.catalog.clearCache()
        _warm_until_jit_settles(
            lambda: qs[name](spark, sf_dir).write.format("noop")
            .mode("overwrite").save(), jit)
        best = float("inf")
        for _ in range(repeats):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        extras[name] = round(best, 3)
        spark.catalog.clearCache()
    detail["extras"] = extras
    if probing:
        detail["probe_extras_sec"] = [_pre_x, hostprobe.probe()]

    # Scale trend: the same queries at sf0.01 (one pass, warm
    # min-of-3) and a per-query log-log slope.  This is the empirical
    # check behind every "survives 100x" claim in SCALE.md: a query
    # whose floor-adjusted time grows superlinearly in input bytes
    # (slope > 1.3 over the 10x sf step) has a pair expansion or an
    # aggregate state that scales worse than its input, and that is
    # exactly what explodes first on a real corpus.  Times are
    # floor-adjusted before the ratio because the fixed per-job cost
    # (scheduling + noop commit, ~10x the whole runtime of the
    # smallest queries at sf0.01) would otherwise flatten every slope
    # toward zero and hide the superlinear entries.  Slope is clamped
    # to queries where both adjusted times clear 20 ms -- below that
    # the measurement is scheduler jitter, not data-dependent work.
    trend_dir = os.environ.get(
        "SPARK_GRAFT_BENCH_TREND_DIR", "/root/testdata/sf0.01")
    if (os.environ.get("SPARK_GRAFT_BENCH_TREND", "1") != "0"
            and os.path.realpath(trend_dir) != os.path.realpath(sf_dir)):
        _pre_t = hostprobe.probe() if probing else None
        small: dict[str, float] = {}
        for name in names:
            spark.catalog.clearCache()
            qs[name](spark, trend_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(repeats):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                qs[name](spark, trend_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            small[name] = round(best, 3)
            spark.catalog.clearCache()
        import math

        sf_small = float(trend_dir.rstrip("/").split("sf")[-1])
        scale_ratio = float(sf) / sf_small
        slopes: dict[str, float | None] = {}
        for name in names:
            a = times[name] - floor
            b = small[name] - floor
            if a > 0.02 and b > 0.02:
                slopes[name] = round(
                    math.log(a / b) / math.log(scale_ratio), 2)
            else:
                slopes[name] = None  # floor-bound at one or both scales
        detail["trend"] = {
            "sf_small": sf_small,
            "scale_ratio": scale_ratio,
            "small_queries_sec": small,
            "slope": slopes,
            "superlinear": sorted(
                n for n, s in slopes.items() if s is not None and s > 1.3),
            "method": (
                "slope = log(t_big-floor / t_small-floor) / log(scale "
                "ratio); None = floor-bound (<20ms adjusted) at either "
                "scale; one warm pass + min-of-"
                f"{repeats} per query at sf_small"
            ),
        }
        if probing:
            detail["probe_trend_sec"] = [_pre_t, hostprobe.probe()]

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)

    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
