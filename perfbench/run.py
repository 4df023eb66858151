"""Benchmark of the location-summary engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One closed-loop client drives the
package on ``local[<cores>]`` through its public entry points
(``session.get_session``, ``plans.corpus.queries()`` /
``oracle_sql()``, ``sources.writers``).  A run:

1. builds (or reuses) the workload's seeded input tier (``gen.py``);
2. stamps the host with ``tools/hostprobe`` (printed, never gated on);
3. sets up once, cold: imports the package, calls ``get_session``
   (which launches the JVM with the session's launch settings) and runs
   the first job;
4. checks every job once against the DuckDB oracle (untimed, with
   ``tests/oracle_utils.compare``); this warms every job once;
5. runs ``PASSES`` whole passes over the job list, and more until
   ``--seconds`` have passed; every execution is a sample.  Fewer
   passes only if the run nears its time limit, and then the run says
   it is incomplete;
6. stamps the host again, stops Spark and waits for the JVM to exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see ``README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from urllib.parse import unquote, urlparse

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Timed passes per run.  The pass count, not --seconds, ends a run on a
# 4-core host: wall time still falls pass over pass while the JIT warms,
# so a fixed count keeps the median pass at the same point of that
# curve.  --seconds only adds passes on a host fast enough to finish
# sooner.
PASSES = 4
# The benchmark's 48 runs must end within 57 minutes, about 70 s a run
# including input generation.  On a host slowed by co-tenants the timed
# loop stops early rather than overrun: no pass starts that would end
# after this many seconds from the end of input generation, taking the
# quickest pass so far as the estimate (pass walls fall as the JIT
# warms).  Such a run prints an ``incomplete`` line; its pass count is
# also in the result, as ``attempted`` = jobs x (1 + passes).
RUN_DEADLINE_S = 60
DRIVER_MEM = "1g"
MIB = float(1 << 20)

# The reference's star-schema summary jobs, then its write: the flagship
# summary through write_summary(mode="overwrite_partitions").  The
# flagship is not also run on its own: summary_write builds the same
# plan, and one fewer job keeps a run inside its time budget.
ETL_JOBS = (
    "customer_order_count_distribution",
    "pricing_summary", "region_nation_rollup", "top_orders_per_nation",
    "order_shipping_priority", "region_local_supplier_volume",
    "part_small_quantity_revenue", "summary_write")
# The quickest entry of 20 of the 26 corpus families.  Left out, to keep
# a run inside its time budget: corpus_recursive (2-3 s per entry),
# corpus_scd (1 s), corpus_streaming (0.7 s), corpus_partsupp (0.4 s),
# corpus_tpch2 (0.3 s) and the flagship, which etl_summary measures.
SWEEP_JOBS = (
    "top_orders_global", "text_bpe_token_counts", "dedup_exact",
    "text_vocab_top20", "embedding_label_norms", "events_json_schema_parse",
    "multimodal_audio_decode", "corpus_train_val_split",
    "orders_month_status_pivot", "orders_price_range_window",
    "events_forward_fill", "nation_top_balance_customer", "user_value_ewma",
    "embedding_quantize_int8", "customer_order_count_distribution",
    "corpus_shuffle_shards", "orders_param_sql", "forecast_revenue_change",
    "corpus_length_histogram", "versioned_schema_evolution")

# Each workload: its tier (name, base scale factor, make_scale_tier
# replicas, parquet files per table) and its job list.
WORKLOADS = {
    "etl_summary": {
        "tier": "etl", "base_sf": 0.01, "replicas": 10,
        "files": {"lineitem": 16, "orders": 16, "customer": 4, "part": 4},
        "jobs": ETL_JOBS},
    "corpus_sweep": {
        "tier": "sweep", "base_sf": 0.01, "replicas": 1, "files": {},
        "jobs": SWEEP_JOBS},
}

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
             "peak_rss_mb": "MiB"}
LAYER_UNITS = {
    "session.start_s": "s", "plans.import_s": "s", "plans.build_s": "s",
    "plans.py4j_calls": "count", "engine.plan_s": "s", "engine.jobs": "count",
    "engine.stages": "count", "engine.tasks": "count",
    "engine.sched_gap_s": "s", "engine.task_run_s": "s",
    "engine.task_cpu_s": "s", "engine.gc_s": "s",
    "engine.shuffle_write_mb": "MiB", "engine.shuffle_read_mb": "MiB",
    "engine.spill_mb": "MiB", "engine.core_util": "ratio",
    "operators.python_s": "s", "operators.python_mb": "MiB",
    "sources.scan_mb": "MiB", "sources.files_read": "count",
    "sources.write_s": "s", "sources.files_written": "count",
    "sources.bytes_written_mb": "MiB", "sources.write_amp": "ratio",
    "trace.wall_s": "s"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(run_dir: str) -> None:
    """Everything the engine writes goes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver: this Python process and the JVM
    it launched, sampled from /proc."""

    def __init__(self, pids: list[int], interval: float = 0.05) -> None:
        super().__init__(daemon=True)
        self.pids, self.interval, self.peak = pids, interval, 0
        self._stop_evt = threading.Event()

    def _rss_kib(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * (os.sysconf("SC_PAGE_SIZE") // 1024)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._rss_kib())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 1024.0


def host_stamp() -> dict:
    from tools import hostprobe

    stamp = {"probe_s": hostprobe.probe(runs=1),
             "probe_mt_s": hostprobe.probe_mt(threads=cores(), runs=1)}
    hostprobe._MT_BUFS.clear()
    return stamp


def oracle_con(tier_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in gen.TABLES:
        path = os.path.join(tier_dir, f"{name}.parquet")
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    return con


class Bench:
    def __init__(self, workload: str, tier_dir: str, run_dir: str,
                 trace: bool) -> None:
        self.workload, self.wl = workload, WORKLOADS[workload]
        self.jobs = self.wl["jobs"]
        self.tier_dir, self.run_dir = tier_dir, run_dir
        self.summary_path = os.path.join(run_dir, "summary")
        self.tracer = None
        self.conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
        if trace:
            import tracing as tr

            self.tracer = tr.Tracer()
            self.event_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})
        self.spark = None
        self.setup_split: dict = {}

    # -- jobs ---------------------------------------------------------
    def _build(self, job: str):
        name = "flagship_nation_summary" if job == "summary_write" else job
        return self.qs[name](self.spark, self.tier_dir)

    def _execute(self, job: str, df) -> None:
        if job == "summary_write":
            self.writers.write_summary(df, self.summary_path,
                                       mode="overwrite_partitions",
                                       partition_by=["r_name"])
        else:
            df.write.format("noop").mode("overwrite").save()

    def _fresh_tmp(self) -> str:
        tempfile.tempdir = tempfile.mkdtemp(dir=os.path.join(self.run_dir, "tmp"))
        return tempfile.tempdir

    def _done_tmp(self, path: str) -> None:
        tempfile.tempdir = os.path.join(self.run_dir, "tmp")
        shutil.rmtree(path, ignore_errors=True)

    def run_job(self, job: str) -> float:
        """One untraced execution: builder call + action.  Returns wall s."""
        tmp = self._fresh_tmp()
        try:
            t0 = time.perf_counter()
            self._execute(job, self._build(job))
            return time.perf_counter() - t0
        finally:
            self._done_tmp(tmp)

    def run_job_traced(self, label: str, job: str) -> float:
        tr = self.tracer
        tr.context = (label, job)
        self.spark.sparkContext.setJobGroup(f"{label}:{job}", job)
        tmp = self._fresh_tmp()
        try:
            t0 = time.perf_counter()
            with tr.span("job"):
                with tr.span("build"):
                    df = self._build(job)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("execute"):
                    self._execute(job, df)
            return time.perf_counter() - t0
        finally:
            self._done_tmp(tmp)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- phases -------------------------------------------------------
    def setup(self) -> None:
        """What a caller pays before its first result: the package
        import (pyspark with it), ``get_session`` (the JVM launch) and
        the first job, each cold."""
        t0 = time.perf_counter()
        from location_summary_etl_spark.plans import corpus
        from location_summary_etl_spark.sources import writers

        self.qs, self.oracles = corpus.queries(), corpus.oracle_sql()
        self.writers = writers
        t1 = time.perf_counter()
        from location_summary_etl_spark.session import get_session

        self.spark = get_session(extra_conf=self.conf)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.run_job(self.jobs[0])
        t3 = time.perf_counter()
        self.setup_split = {"import_s": t1 - t0, "session_s": t2 - t1,
                            "first_job_s": t3 - t2, "total_s": t3 - t0}
        if self.tracer is not None:
            import tracing as tr

            tr.count_py4j(self.spark, self.tracer)
            tr.wrap_writes(self.tracer)
            self.writers = sys.modules["location_summary_etl_spark.sources.writers"]

    def check(self) -> tuple[int, int, float | None]:
        """Oracle check of every job (untimed).  Returns (attempted,
        failed, write amplification or None when nothing was written)."""
        from tests.oracle_utils import compare

        con = oracle_con(self.tier_dir)
        failed, left, committed = 0, 0, 0
        for job in self.jobs:
            name = "flagship_nation_summary" if job == "summary_write" else job
            tmp = self._fresh_tmp()
            try:
                df = self._build(job)
                if job == "summary_write":
                    self._execute(job, df)
                    df = self.spark.read.parquet(self.summary_path)
                compare(df, con, self.oracles[name])
                roots = [tmp] + ([self.summary_path] if job == "summary_write" else [])
                files = [unquote(urlparse(f).path) for f in df.inputFiles()]
                out = [f for f in files if any(f.startswith(r) for r in roots)]
                if out:
                    committed += sum(os.path.getsize(f) for f in out)
                    left += sum(gen.du(r) for r in roots)
            except Exception:  # any failure counts, the run goes on
                failed += 1
                print(f"check failed: {job}", file=sys.stderr)
                traceback.print_exc()
            finally:
                self._done_tmp(tmp)
        con.close()
        return len(self.jobs), failed, (left / committed if committed else None)

    def timed(self, seconds: float, deadline: float) -> dict:
        """PASSES whole passes, more while ``seconds`` have not elapsed;
        no pass starts that would end after ``deadline`` (perf_counter)."""
        lat, walls, failed, attempted, per_job = [], [], 0, 0, {}
        from pyspark import SparkContext

        rss = RssSampler([os.getpid(), SparkContext._gateway.proc.pid])
        rss.start()
        start = time.perf_counter()
        p = 0
        while True:
            t0 = time.perf_counter()
            for job in self.jobs:
                attempted += 1
                try:
                    if self.tracer is None:
                        t = self.run_job(job)
                    else:
                        t = self.run_job_traced(f"t{p}", job)
                    lat.append(t)
                    per_job.setdefault(job, []).append(t)
                except Exception:  # any failure counts, the run goes on
                    failed += 1
                    print(f"job failed: {job}", file=sys.stderr)
                    traceback.print_exc()
            walls.append(time.perf_counter() - t0)
            p += 1
            now = time.perf_counter()
            if p >= PASSES and now - start >= seconds:
                break
            if now + min(walls) > deadline:
                break
        return {"lat": lat, "walls": walls, "passes": p, "per_job": per_job,
                "failed": failed, "attempted": attempted,
                "peak_rss_mb": rss.stop()}

    def stop(self) -> None:
        """Stop Spark, close the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- per-layer numbers ----------------------------------------------
    def layers(self, timed: dict) -> dict:
        import tracing as tr

        groups = tr.parse_event_log(tr.event_logs(self.event_dir))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(WORK, "traces", f"{self.workload}.json"))
        per_pass = []
        for p, wall in enumerate(timed["walls"]):
            label = f"t{p}"
            spans = [s for s in self.tracer.spans if s["pass"] == label]
            g = {}
            for job in self.jobs:
                for k, v in groups.get(f"{label}:{job}", {}).items():
                    if k != "stage_walls":
                        g[k] = g.get(k, 0.0) + v

            def dur(name):
                return sum(s["dur"] for s in spans if s["name"] == name)

            gap = 0.0
            for s in spans:
                if s["name"] == "execute":
                    grp = groups.get(f"{label}:{s['job']}", {})
                    gap += s["dur"] - tr.stage_union_ms(grp, s["t0"], s["t1"]) / 1000
            run_s = g.get("run_ms", 0.0) / 1000
            per_pass.append({
                "plans.build_s": dur("build"),
                "plans.py4j_calls": sum(s["py4j"] for s in spans
                                        if s["name"] == "build"),
                "engine.plan_s": dur("plan"),
                "engine.jobs": g.get("jobs", 0.0),
                "engine.stages": g.get("stages", 0.0),
                "engine.tasks": g.get("tasks", 0.0),
                "engine.sched_gap_s": gap,
                "engine.task_run_s": run_s,
                "engine.task_cpu_s": g.get("cpu_ms", 0.0) / 1000,
                "engine.gc_s": g.get("gc_ms", 0.0) / 1000,
                "engine.shuffle_write_mb": g.get("shuffle_write_bytes", 0.0) / MIB,
                "engine.shuffle_read_mb": g.get("shuffle_read_bytes", 0.0) / MIB,
                "engine.spill_mb": g.get("spill_bytes", 0.0) / MIB,
                "engine.core_util": run_s / (wall * cores()),
                "operators.python_s": g.get("python_run_ms", 0.0) / 1000,
                "operators.python_mb": g.get("python_bytes", 0.0) / MIB,
                "sources.scan_mb": g.get("input_bytes", 0.0) / MIB,
                "sources.files_read": g.get("files_read", 0.0),
                "sources.write_s": dur("write"),
                "sources.files_written": g.get("files_written", 0.0),
                "sources.bytes_written_mb": g.get("output_bytes", 0.0) / MIB,
            })
        out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
        out["session.start_s"] = self.setup_split["session_s"]
        out["plans.import_s"] = self.setup_split["import_s"]
        out["trace.wall_s"] = statistics.median(timed["walls"])
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "location_summary_etl_spark", "__init__.py")):
        sys.exit("perfbench: run from the root of a repository checkout")
    sys.path.insert(0, ROOT)

    wl = WORKLOADS[args.workload]
    tier_dir, manifest = gen.build(os.path.join(WORK, "data"), wl["tier"],
                                   args.seed, wl["base_sf"], wl["replicas"],
                                   wl["files"])
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    _pin_environment(run_dir)
    bench = Bench(args.workload, tier_dir, run_dir, bool(args.trace))
    generated = time.perf_counter()
    phases = {"generate": generated - t_start}

    def phase(name, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        phases[name] = time.perf_counter() - t0
        return out

    try:
        before = phase("stamp_before", host_stamp)
        phase("setup", bench.setup)
        checked, check_failed, write_amp = phase("check", bench.check)
        timed = phase("timed", bench.timed, args.seconds,
                      generated + RUN_DEADLINE_S)
        phase("stop", bench.stop)
        after = phase("stamp_after", host_stamp)
        layers = phase("layers", bench.layers, timed) if args.trace else None
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if timed["passes"] < PASSES:
        print(f"incomplete: {timed['passes']} of {PASSES} passes fitted "
              f"the {RUN_DEADLINE_S} s deadline")
    attempted = checked + timed["attempted"]
    failed = check_failed + timed["failed"]
    lat = timed["lat"]
    info = {
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "input": {t: manifest["tables"][t] for t in sorted(manifest["tables"])},
        "passes": timed["passes"], "incomplete": timed["passes"] < PASSES,
        "samples": len(lat), "phases_s": phases,
        "pass_walls_s": [round(w, 3) for w in timed["walls"]],
        "job_p50_s": {j: round(statistics.median(v), 4)
                      for j, v in timed["per_job"].items()},
        "setup": bench.setup_split, "host_before": before, "host_after": after,
        "query_p90_s": statistics.quantiles(lat, n=10)[8],
        "failed_frac": failed / attempted, "write_amp": write_amp}
    print("info " + json.dumps(info, sort_keys=True))
    if args.trace:
        layers["sources.write_amp"] = write_amp or 0.0
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        values = {
            "setup_s": bench.setup_split["total_s"],
            "wall_s": statistics.median(timed["walls"]),
            "query_p50_s": statistics.median(lat),
            "peak_rss_mb": timed["peak_rss_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    # End-to-end numbers the result cannot carry (see README.md).
    for name, value, unit in (("query_p90_s", info["query_p90_s"], "s"),
                              ("failed_frac", info["failed_frac"], "ratio"),
                              ("write_amp", write_amp, "ratio")):
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"also {name} {shown} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
