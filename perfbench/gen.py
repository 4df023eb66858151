"""Seeded input generator for the benchmark.

A tier is built in three steps, all deterministic in ``seed``:

1. ``base_tables`` draws the ten tables the corpus reads (the TPC-H-ish
   star schema plus ``events``, ``documents`` and ``embeddings``) at a
   base scale factor, with the value distributions the repository's
   fixture tables have (uniform keys and measures, 5% near-duplicate
   documents, unit-norm 64-d embeddings).
2. When a tier asks for replicas, ``tools/make_scale_tier.make_tier``
   replicates the base with its FK-consistent re-keying.
3. ``_write_layout`` sorts each table on all its scalar columns, applies
   a seed-dependent row permutation and splits the rows over the tier's
   file count for that table (``<table>.parquet`` is a single file when
   the count is 1 and a directory of parts otherwise).

``build`` caches a finished tier under ``<cache>/<tier>_s<seed>``; a
``manifest.json`` written last marks it complete and records each
table's rows, bytes and file count.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.15, 0.40, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Draw every table at scale factor ``sf`` (sf 0.01 gives 60,000
    lineitem rows).  ``documents`` and ``embeddings`` have a 500-row
    floor, like the fixture tiers."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = max(10, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    d0 = _days_since_epoch(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _day_ts(d0 + rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _day_ts(d0 + 1 + rng.integers(0, 2499, n_line))})

    e0 = _days_since_epoch(2024, 1, 1) * _US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt)) + e0
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(s) for s in texts], i64)})

    vecs = rng.standard_normal((n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            vecs.reshape(-1), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return t


def _sorted(table: pa.Table) -> pa.Table:
    keys = [(f.name, "ascending") for f in table.schema
            if not pa.types.is_list(f.type)]
    return table.sort_by(keys)


def _write_layout(table: pa.Table, path: str, n_files: int,
                  rng: np.random.Generator) -> None:
    """Seed-permuted rows, split over ``n_files`` parquet files."""
    table = _sorted(table)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    if n_files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def du(path: str) -> int:
    """Bytes under ``path`` (a file or a directory tree)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(out: str, seed: int, base_sf: float, replicas: int,
             files: dict[str, int]) -> dict:
    """Write one tier into the fresh directory ``out``; returns its manifest."""
    os.makedirs(out)
    base = os.path.join(out, "_base")
    os.makedirs(base)
    for name, tbl in base_tables(seed, base_sf).items():
        pq.write_table(tbl, os.path.join(base, f"{name}.parquet"))
    src = base
    if replicas > 1:
        from tools.make_scale_tier import make_tier

        src = os.path.join(out, "_rekeyed")
        with contextlib.redirect_stdout(sys.stderr):
            make_tier(replicas, base, src)
    rng = np.random.default_rng([seed, 1])
    manifest = {"seed": seed, "base_sf": base_sf, "replicas": replicas,
                "tables": {}}
    for name in TABLES:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        path = os.path.join(out, f"{name}.parquet")
        n_files = files.get(name, 1)
        _write_layout(table, path, n_files, rng)
        manifest["tables"][name] = {"rows": table.num_rows, "files": n_files,
                                    "bytes": du(path)}
    shutil.rmtree(base)
    if src != base:
        shutil.rmtree(src)
    return manifest


def build(cache: str, tier: str, seed: int, base_sf: float, replicas: int,
          files: dict[str, int], keep: int = 12) -> tuple[str, dict]:
    """Cached ``generate``: returns (tier dir, manifest).  At most
    ``keep`` seeds of one tier stay cached; older ones are removed."""
    out = os.path.join(cache, f"{tier}_s{seed}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    manifest = generate(out, seed, base_sf, replicas, files)
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)
    siblings = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
        if d.startswith(f"{tier}_s") and d != os.path.basename(out))
    for _, d in siblings[:max(0, len(siblings) - keep + 1)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    return out, manifest
