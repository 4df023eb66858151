"""Co-tenant steal probe: a fixed single-core numpy kernel whose
quiet-host time is ~1.05 s on this VM.  The shared host enters steal
regimes where the same kernel takes 6-19 s for minutes at a time with
near-zero local load average (measured round 7, BENCH_CROSSOVER.md
notes); min-of-N inside one invocation cannot defend against a burst
that covers the invocation, so every timing harness gates on this
probe instead of trusting its own repeats.

Two uses:
- ``wait_quiet()`` before a timing run: poll until the probe clears
  the threshold (or attempts run out), so runs start in a quiet
  window by construction.
- ``probe()`` between engine passes: stamp each pass's window so the
  artifact itself says which cells are trustworthy -- a pass is
  "quiet" iff the probes on both sides of it cleared the threshold.

Threshold 1.4 s = quiet value + the standing ±25-35% wobble band;
anything above it is the burst regime, not wobble.

LIMIT (measured r8): the probe is arithmetic+stream-bound, and two
probe-quiet windows still disagreed 1.3-1.9x on SCAN-heavy queries
(events_asof_purchase_click 0.356 vs 0.477 s min-of-many,
text_fingerprints 0.545 vs 0.747) while CPU-bound queries agreed --
some co-tenant contention classes (IO / page-cache / bandwidth
sub-regimes) pass the gate.  So: the gate makes single artifacts
honestly labelled, but cross-window deltas are still only suggestive;
the authoritative comparison remains the interleaved same-session A/B,
and bench.py's min-across-passes defends against within-run flips.

Second probe class (r9, addressing that LIMIT): :func:`probe_mt` runs
the streaming kernel on MT_THREADS threads at once (numpy releases the
GIL inside ufunc loops, so this is real parallel streaming) -- a
single-core kernel can pass while the co-tenant saturates the
machine's AGGREGATE memory bandwidth, which is what a 32-thread
parquet scan actually competes for.  GATING since r10: three r9
same-commit bench windows separated cleanly on this probe (totals
8.5/9.3/10.6 s against bw 0.31/1.18/1.32 old-scale) while the
arithmetic probe read all three quiet, so bench.py and
tools/bench_crossover.py now require BOTH probes under their
thresholds -- :func:`wait_quiet_all` at startup, and a pass/row only
counts as quiet when the bandwidth stamps on both sides of it also
cleared MT_QUIET_SEC.
"""

from __future__ import annotations

import time

QUIET_SEC = 1.4   # quiet ~1.05 s; >1.4 s = co-tenant steal regime
MT_THREADS = 8
# Quiet band of the r10 preallocated kernel: 0.13-0.15 s measured
# (2026-08-15, 8 spaced samples).  The old allocating kernel's band was
# 0.3-0.65 with contention reading 1.18-1.32 (~4x quiet), so the gate
# sits at ~3x the new quiet value: below it is wobble, above it is the
# bandwidth-contended regime.  (Old-scale artifacts r9 and earlier are
# not comparable to these stamps -- different kernel.)
MT_QUIET_SEC = 0.45

# probe_mt's preallocated buffer sets, keyed by (threads, n) -- see its
# docstring; at most one set is held at a time.
_MT_BUFS: dict = {}


def probe(runs: int = 4) -> float:
    """Total time of ``runs`` back-to-back executions of the fixed
    single-core kernel -- the round-7 hand-run definition (4 runs,
    quiet total ~1.05 s), kept so the committed threshold and the
    historical BENCH_CROSSOVER notes stay on one scale.  Total (not
    min): a steal burst inside ANY of the four runs should show."""
    import numpy as np

    # Untimed warm-up: the first kernel in a fresh process pays numpy
    # import + 400 MB first-touch page faults (measured 3.06 s vs
    # 0.78 s steady) -- allocator state, not host steal.
    (np.arange(50_000_000) * 3 + 1).sum()
    t0 = time.perf_counter()
    for _ in range(runs):
        (np.arange(50_000_000) * 3 + 1).sum()
    return round(time.perf_counter() - t0, 3)


def probe_mt(threads: int = MT_THREADS, runs: int = 4,
             n: int = 12_500_000) -> float:
    """Wall time of ``threads`` concurrent executions of the streaming
    kernel (``runs`` each) -- the aggregate-memory-bandwidth probe the
    single-core kernel cannot be (see module docstring).  One untimed
    parallel round first (per-thread first-touch page faults are
    allocator state, not host contention), then MIN of two timed
    rounds: measured, a fresh interpreter's first timed round can
    still read 2-6x steady (THP/allocator settling) while contention
    only ever INFLATES, so the min is the honest contention reading.

    Footprint is BOUNDED (ADVICE r9): each thread streams over two
    preallocated 100 MB buffers with out=/in-place ufuncs -- 1.6 GB
    held for the probe's duration, zero per-run allocation -- where
    the old ``(np.arange(25M) * 3 + 1)`` form allocated ~600 MB of
    transients per thread per run (multi-GB spikes that could swap a
    memory-pressured host and perturb the very window being
    measured).  Bytes moved per timed round are the same class as
    before (~1 GB/thread/run), so the quiet band is unchanged in
    spirit and re-measured in the constants above.

    The buffer set is CACHED across calls (r10 ADVICE): crossover's
    per-row stamping calls probe_mt before every query row, and
    re-allocating 1.6 GB per stamp reintroduced an allocation/free
    spike on the host being certified quiet.  First call per
    (threads, n) allocates and first-touches; later calls reuse the
    same pages, so a stamp perturbs nothing but the bandwidth it
    measures."""
    import threading

    import numpy as np

    key = (threads, n)
    bufs = _MT_BUFS.get(key)
    if bufs is None:
        bufs = [(np.arange(n), np.empty(n, dtype=np.int64))
                for _ in range(threads)]
        _MT_BUFS.clear()  # never hold two 1.6 GB sets at once
        _MT_BUFS[key] = bufs

    def work(i):
        buf, tmp = bufs[i]
        for _ in range(runs):
            np.multiply(buf, 3, out=tmp)
            np.add(tmp, 1, out=tmp)
            tmp.sum()

    def round_of():
        ts = [threading.Thread(target=work, args=(i,))
              for i in range(threads)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return round(time.perf_counter() - t0, 3)

    round_of()
    return min(round_of(), round_of())


def wait_quiet(
    threshold: float = QUIET_SEC,
    attempts: int = 10,
    sleep_sec: float = 60.0,
) -> list[float]:
    """Poll the probe until it clears ``threshold``; returns every
    probe value observed (last one <= threshold means quiet was
    reached; otherwise the caller proceeds tagged-noisy rather than
    refusing -- an unattended driver run must still produce an
    artifact, just an honestly labelled one)."""
    vals: list[float] = []
    for i in range(attempts):
        p = probe()
        vals.append(p)
        if p <= threshold:
            return vals
        if i + 1 < attempts:
            time.sleep(sleep_sec)
    return vals


def wait_quiet_all(
    threshold: float = QUIET_SEC,
    bw_threshold: float = MT_QUIET_SEC,
    attempts: int = 10,
    sleep_sec: float = 60.0,
) -> tuple[list[float], list[float]]:
    """The r10 startup gate: poll until ONE window clears BOTH probe
    classes -- arithmetic (CPU steal) and multi-threaded streaming
    (aggregate memory bandwidth, the contention class the arithmetic
    probe is blind to).  Returns both observation lists; same
    proceed-tagged-noisy contract as :func:`wait_quiet` when attempts
    run out."""
    vals: list[float] = []
    bw_vals: list[float] = []
    for i in range(attempts):
        p = probe()
        vals.append(p)
        b = probe_mt()
        bw_vals.append(b)
        if p <= threshold and b <= bw_threshold:
            return vals, bw_vals
        if i + 1 < attempts:
            time.sleep(sleep_sec)
    return vals, bw_vals
