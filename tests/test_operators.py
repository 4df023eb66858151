"""Unit tests on tiny literal DataFrames for the edge cases FIXTURES.md
calls out (null handling, min==max, ties, empty inputs, strict/inclusive
as-of semantics, writer idempotence)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from location_summary_etl_spark.operators.asof import asof_join_backward
from location_summary_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
)
from location_summary_etl_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
)
from location_summary_etl_spark.operators.normalize import minmax_score_window
from location_summary_etl_spark.operators.snapshot import (
    latest_snapshot_join,
    latest_snapshot_window,
)
from location_summary_etl_spark.operators.skew import salted_join
from location_summary_etl_spark.operators.windows import sessionize
from location_summary_etl_spark.sources.writers import (
    write_bucketed,
    write_summary,
)


def test_asof_inclusive_and_strict(spark):
    probe = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")],
        ["k", "t", "tag"],
    )
    base = spark.createDataFrame(
        [(1, 10, "b@10"), (1, 15, "b@15"), (2, 7, "b@7")],
        ["k", "t", "val"],
    )
    out = {
        r["tag"]: r["matched"]
        for r in asof_join_backward(probe, base, ["k"], "t", "t", "val",
                                    "matched").collect()
    }
    # inclusive: probe at t=10 sees the base row at t=10
    assert out == {"p1": "b@10", "p2": "b@15", "p3": None}

    strict = {
        r["tag"]: r["matched"]
        for r in asof_join_backward(probe, base, ["k"], "t", "t", "val",
                                    "matched", strict=True).collect()
    }
    # strict: the equal-timestamp base row no longer matches
    assert strict == {"p1": None, "p2": "b@15", "p3": None}


def test_sessionize_gap_boundary(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(seconds=1800)),   # exactly the gap: same session
        (1, base + dt.timedelta(seconds=1800 + 1801)),  # > gap: new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize(df, "user_id", "ts", 1800).collect()
    sessions = {(r["user_id"], r["ts"]): r["session_id"] for r in out}
    assert sessions[(1, rows[0][1])] == 0
    assert sessions[(1, rows[1][1])] == 0
    assert sessions[(1, rows[2][1])] == 1
    assert sessions[(2, rows[3][1])] == 0


def test_minmax_single_group_and_negatives(spark):
    df = spark.createDataFrame([(1, -10.0), (2, 0.0), (3, 10.0)], ["id", "v"])
    got = {r["id"]: r["s"]
           for r in minmax_score_window(df, "v", "s").collect()}
    assert got == {1: 0.0, 2: 50.0, 3: 100.0}
    # max == min -> NULL score
    flat = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["id", "v"])
    got = {r["id"]: r["s"]
           for r in minmax_score_window(flat, "v", "s").collect()}
    assert got == {1: None, 2: None}


def test_guarded_unpartitioned_fires_and_folds(spark):
    """The executable 'input is aggregate-sized' claim (r6 verdict #5):
    the guard raise_errors past max_rows, and its count(*) folds into
    the caller's existing WindowExec (CollapseWindow) so the guard is
    free where it holds."""
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from location_summary_etl_spark.operators.windows import (
        guarded_unpartitioned,
    )

    df = spark.range(10).withColumn("v", F.col("id").cast("double"))
    expr = F.sum("v").over(Window.partitionBy())
    ok = df.withColumn("s", guarded_unpartitioned(expr, "t", max_rows=10))
    assert ok.count() == 10
    # exactly ONE WindowExec in the guarded plan (guard shares the pass)
    plan = ok._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window ") == 1, plan
    bad = df.withColumn("s", guarded_unpartitioned(expr, "t", max_rows=9))
    with pytest.raises(Exception, match="no longer aggregate-sized"):
        bad.collect()


def test_latest_snapshot_formulations_agree_on_ties(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-02", "a"), (1, "2024-01-02", "b"), (1, "2024-01-01", "c"),
         (2, "2024-05-05", "d")],
        ["k", "d", "payload"],
    )
    a = sorted(map(str, latest_snapshot_window(df, ["k"], "d").collect()))
    b = sorted(map(str, latest_snapshot_join(df, ["k"], "d").collect()))
    assert a == b
    assert len(a) == 3  # both ties kept + group 2


def test_exact_dedup_multi_column(spark):
    df = spark.createDataFrame(
        [(1, "x", "en"), (2, "x", "en"), (3, "x", "de")],
        ["id", "text", "lang"],
    )
    out = {r["keep_id"]: r["n_copies"]
           for r in exact_dedup(df, ["text", "lang"], "id").collect()}
    assert out == {1: 2, 3: 1}


def test_ngram_max_df_caps_degenerate_corpus(spark):
    """One boilerplate shingle shared by EVERY doc: uncapped, its
    posting list alone expands n*(n-1)/2 candidate pairs on one task;
    with max_df the gram leaves the universe before any pair is built,
    and only genuinely-similar pairs (sharing RARE grams) survive.
    """
    n_docs = 40
    # Doc 2i and 2i+1 are identical ("x y z" boilerplate + unique
    # tail); docs from different pairs share ONLY the boilerplate.
    rows = [(i, f"x y z u{i // 2}a u{i // 2}b u{i // 2}c")
            for i in range(n_docs)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # threshold=0.01 surfaces every candidate pair that reaches the
    # Jaccard stage -- the quadratic blowup the cap must prevent.
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01, max_df=None).count()
    assert uncapped == n_docs * (n_docs - 1) // 2  # every pair collides

    capped = ngram_jaccard_pairs(docs, threshold=0.01, max_df=10)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # Only the true duplicate pairs remain; all 4 of a pair's grams
    # are shared, the boilerplate one is dropped -> 3/3 = 1.0 over the
    # surviving universe.
    assert got == {(2 * i, 2 * i + 1): 1.0 for i in range(n_docs // 2)}


def test_ngram_scratch_stripes_are_result_identical(spark):
    """The scratch-striped pair stage (scratch_passes > 1 /"auto") must
    emit the EXACT single-pass relation in every cap mode: stripes key
    on the pair's lower doc id against the full bucket relation, so
    every pair's shared count is complete within its one stripe --
    pinned here on a corpus where the cap bites AND drop-count
    subtraction runs (filter mode), sizes re-derive (census mode), and
    the lopsided pre-filter applies (uncapped)."""
    rows = [(i, f"x y z u{i // 2}a u{i // 2}b u{i // 2}c")
            for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for kw in (dict(max_df=None), dict(max_df=10, cap_mode="filter"),
               dict(max_df=10, cap_mode="census")):
        one = {tuple(r) for r in
               ngram_jaccard_pairs(docs, threshold=0.01, **kw).collect()}
        striped = {tuple(r) for r in
                   ngram_jaccard_pairs(docs, threshold=0.01,
                                       scratch_passes=3, **kw).collect()}
        assert striped == one, kw

    # "auto" under a forced-tiny budget resolves to multi-pass and
    # still matches; the census estimate is exact, not a heuristic.
    import os

    from location_summary_etl_spark.operators import dedup as _d
    os.environ["NGRAM_SCRATCH_BUDGET_GB"] = "1e-6"
    try:
        auto = {tuple(r) for r in
                ngram_jaccard_pairs(docs, threshold=0.01,
                                    scratch_passes="auto").collect()}
    finally:
        del os.environ["NGRAM_SCRATCH_BUDGET_GB"]
    one = {tuple(r) for r in
           ngram_jaccard_pairs(docs, threshold=0.01).collect()}
    assert auto == one
    assert _d.MAX_SCRATCH_PASSES >= 2  # the forced budget multi-passed


def test_minhash_max_bucket_caps_degenerate_corpus(spark):
    """All-identical docs collide into one LSH mega-bucket per band;
    max_bucket drops those buckets before the pair expansion, so the
    degenerate corpus yields zero candidates instead of n^2/2."""
    docs = spark.createDataFrame(
        [(i, "same boilerplate text everywhere repeated") for i in range(30)],
        ["doc_id", "text"],
    )
    uncapped = minhash_near_dups(docs, threshold=0.5, max_bucket=None).count()
    assert uncapped == 30 * 29 // 2
    assert minhash_near_dups(docs, threshold=0.5, max_bucket=10).count() == 0
    # A mixed corpus: small clusters survive the cap untouched.
    mixed = spark.createDataFrame(
        [(i, "same boilerplate text everywhere repeated") for i in range(30)]
        + [(100, "a genuinely distinct pair of documents here")
           , (101, "a genuinely distinct pair of documents here")],
        ["doc_id", "text"],
    )
    kept = minhash_near_dups(mixed, threshold=0.5, max_bucket=10)
    assert {(r["id_a"], r["id_b"]) for r in kept.collect()} == {(100, 101)}


def test_warehouse_connector_append_overwrite_partitioned_read(spark, tmp_path):
    """duckwarehouse sink semantics: append accumulates across commits,
    overwrite replaces atomically; the pushdown read sees exactly the
    committed state and the range-partitioned scan covers all rows."""
    from location_summary_etl_spark.sources.warehouse import register_warehouse

    register_warehouse(spark)
    db = str(tmp_path / "wh.duckdb")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(10)],
        ["k", "name", "val"],
    )
    w = (df.write.format("duckwarehouse")
         .option("path", db).option("table", "t"))
    w.mode("append").save()
    w.mode("append").save()   # second append doubles
    rd = (spark.read.format("duckwarehouse")
          .option("path", db).option("query", "SELECT k, name, val FROM t")
          .option("partition_column", "k").option("num_partitions", "3")
          .option("lower_bound", "0").option("upper_bound", "10"))
    got = rd.load()
    assert got.rdd.getNumPartitions() == 3
    assert got.count() == 20
    w.mode("overwrite").save()  # replace: back to one copy
    assert rd.load().count() == 10
    # pushdown: the filter executes inside the warehouse engine
    agg = (spark.read.format("duckwarehouse")
           .option("path", db)
           .option("query",
                   "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t WHERE k >= 5")
           .load())
    assert agg.collect()[0]["n"] == 5


def test_multimodal_decode_batch_shape(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "")],
                                 ["doc_id", "text"])
    media = attach_fake_media(docs)
    decoded = {r["doc_id"]: r for r in decode_media(media).collect()}
    assert decoded[1]["n_pixels"] == decoded[1]["width"] * decoded[1]["height"]
    assert decoded[1]["mean_byte"] > 0
    assert decoded[2]["mean_byte"] == 0.0  # empty payload
    try:
        decode_media(media, backend="pil")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_writer_partition_overwrite_idempotent(spark, tmp_path):
    path = str(tmp_path / "summary")
    df1 = spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)],
                                ["snap", "v"])
    write_summary(df1, path, partition_by=["snap"])
    # Re-write one partition with new data: only that partition changes.
    df2 = spark.createDataFrame([("2024-01-02", 99)], ["snap", "v"])
    write_summary(df2, path, partition_by=["snap"])
    # partition columns come back type-inferred (DATE here)
    got = {(str(r["snap"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 99)}


def test_scrub_pii_redacts_and_counts(spark):
    from location_summary_etl_spark.functions.texts import pii_counts, scrub_pii

    rows = [
        (1, "mail bob.smith+x@corp.example.com or call +1 (302) 555-0142"),
        (2, "ssn 123-45-6789 from host 192.168.0.17"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    counts = pii_counts("text")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            scrub_pii("text").alias("clean"),
            *[c.alias(k) for k, c in counts.items()],
        ).collect()
    }
    assert out[1]["clean"] == "mail <EMAIL> or call <PHONE>"
    assert (out[1]["email"], out[1]["phone"]) == (1, 1)
    assert out[2]["clean"] == "ssn <SSN> from host <IPV4>"
    # specific kinds win over the broad phone pattern
    assert (out[2]["ssn"], out[2]["ipv4"], out[2]["phone"]) == (1, 1, 0)
    assert out[3]["clean"] == rows[2][1]
    assert sum(out[3][k] for k in ("email", "phone", "ssn", "ipv4")) == 0


def test_incremental_update_high_water_mark(spark, tmp_path):
    from location_summary_etl_spark.sources.writers import incremental_update

    path = str(tmp_path / "inc")
    src1 = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], ["snap", "v"]
    )
    d1 = incremental_update(spark, src1, path, "snap")
    assert d1.count() == 2  # empty sink: everything is new
    # Source grows by two days; only those are written.
    src2 = src1.union(
        spark.createDataFrame(
            [("2024-01-03", 3), ("2024-01-04", 4)], ["snap", "v"]
        )
    )
    d2 = incremental_update(spark, src2, path, "snap")
    assert {r["snap"] for r in d2.select("snap").distinct().collect()} == {
        "2024-01-03", "2024-01-04",
    }
    # Caught up: the re-run delta is empty and the sink is unchanged.
    assert incremental_update(spark, src2, path, "snap").count() == 0
    got = {(str(r["snap"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 2),
                   ("2024-01-03", 3), ("2024-01-04", 4)}


def test_incremental_update_backfills_missing_partitions(spark, tmp_path):
    from location_summary_etl_spark.sources.writers import (
        incremental_update,
        write_summary,
    )

    path = str(tmp_path / "inc_holes")
    # Sink has days 1 and 3 -- day 2 is a hole the high-water mark
    # cannot see.
    write_summary(
        spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-03", 3)], ["snap", "v"]
        ),
        path,
        partition_by=["snap"],
    )
    src = spark.createDataFrame(
        [("2024-01-01", 99), ("2024-01-02", 2), ("2024-01-03", 99)],
        ["snap", "v"],
    )
    delta = incremental_update(spark, src, path, "snap",
                               mode="missing_partitions")
    assert [str(r["snap"]) for r in delta.collect()] == ["2024-01-02"]
    # Existing partitions kept their original rows (not the 99s).
    got = {(str(r["snap"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)}


def test_write_sorted_gives_disjoint_rowgroup_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from location_summary_etl_spark.sources.writers import write_sorted

    path = str(tmp_path / "sorted")
    df = spark.range(0, 20_000).selectExpr(
        "id", "cast(id * 37 % 20011 as bigint) as k", "id * 2.5 as v"
    )
    write_sorted(df, path, "k", n_files=4)
    # Every row group's [min, max] on k must be disjoint from every
    # other's -- the property parquet predicate pushdown skips on.
    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        k_idx = md.schema.names.index("k")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(k_idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 4
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping row-group ranges: {ranges}"
    # content survives the re-layout
    assert spark.read.parquet(path).count() == 20_000


def test_compact_partitions_shrinks_file_count(spark, tmp_path):
    import glob

    from location_summary_etl_spark.sources.writers import compact_partitions

    path = str(tmp_path / "compact")
    df = spark.createDataFrame(
        [("2024-01-0%d" % (i % 3 + 1), i) for i in range(300)], ["snap", "v"]
    )
    # simulate many small incremental appends: 8 writer tasks per day
    df.repartition(8).write.partitionBy("snap").parquet(path)
    n_before = len(glob.glob(path + "/snap=*/*.parquet"))
    assert n_before > 3  # more than one file per partition
    before = {(str(r["snap"]), r["v"]) for r in spark.read.parquet(path).collect()}
    compact_partitions(spark, path, "snap")
    files = glob.glob(path + "/snap=*/*.parquet")
    per_dir: dict[str, int] = {}
    for f in files:
        d = f.rsplit("/", 2)[1]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    after = {(str(r["snap"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_salted_join_matches_plain_join(spark):
    # Heavily skewed fact: 90% of rows share key 1.
    fact = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(2, i) for i in range(10)],
        ["k", "v"],
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")],
                                ["k", "name"])
    plain = {(r["k"], r["v"], r["name"])
             for r in fact.join(dim, "k").collect()}
    salted = {(r["k"], r["v"], r["name"])
              for r in salted_join(fact, dim, "k", n_salts=4).collect()}
    assert salted == plain
    # left join keeps unmatched fact rows exactly once
    fact2 = fact.union(spark.createDataFrame([(9, 0)], ["k", "v"]))
    left = {(r["k"], r["v"], r["name"])
            for r in salted_join(fact2, dim, "k", n_salts=4, how="left").collect()}
    assert (9, 0, None) in left and len(left) == 101


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    orders = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    items = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(orders, "t_orders_b", str(tmp_path / "o"), "k", 8)
    write_bucketed(items, "t_items_b", str(tmp_path / "i"), "k", 8)
    try:
        left = spark.table("t_orders_b")
        right = spark.table("t_items_b")
        # Force the shuffle-join path so bucketing is what removes it.
        joined = left.hint("merge").join(right, "k")
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
            .explainString(joined._jdf.queryExecution(), "simple")
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_multi_format_sources_round_trip(spark, sf_dir, tmp_path):
    from location_summary_etl_spark.sources.registry import (
        load_table,
        load_table_any_format,
    )

    for name in ("nation", "orders"):
        base = load_table(spark, sf_dir, name)
        want = sorted(map(str, base.collect()))
        for fmt in ("csv", "json"):
            path = str(tmp_path / f"{name}_{fmt}")
            w = base.write.mode("overwrite")
            if fmt == "csv":
                w = w.option("header", "true")
            w.format(fmt).save(path)
            back = load_table_any_format(spark, path, name, fmt)
            assert back.schema == base.schema, (name, fmt)
            assert sorted(map(str, back.collect())) == want, (name, fmt)


def test_embedding_near_dup_backends_bit_identical(spark):
    """The numpy block backend must reproduce the expression backend's
    cosines EXACTLY (same sequential fold), including the zero-norm
    drop and the id_a < id_b orientation."""
    from location_summary_etl_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_pandas,
    )

    rows = [
        (1, [1.0, 2.0, 3.0, 0.5], 0),
        (2, [1.0, 2.1, 2.9, 0.4], 0),
        (3, [-1.0, 2.0, -3.0, 10.0], 0),
        (4, [0.0, 0.0, 0.0, 0.0], 0),   # zero norm -> dropped
        (5, [1.0, 2.0, 3.0, 0.5], 1),   # other block
        (6, [1.0, 2.0, 3.0, 0.51], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got_expr = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(emb, threshold=-1.0).collect()
    }
    got_np = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups_pandas(emb, threshold=-1.0).collect()
    }
    assert got_expr == got_np  # exact float equality, not approx
    assert (1, 4) not in got_np and len(got_np) == 4


def test_hash_split_stability_and_ratio(spark):
    """A doc's split must not depend on the rest of the corpus, and the
    bucket must be the documented md5-prefix hash mod 100."""
    from location_summary_etl_spark.operators.packing import hash_split

    full = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], "doc_id long, text string"
    )
    half = full.filter(F.col("doc_id") < 100)
    sf = {r.doc_id: (r.bucket, r.split) for r in hash_split(full).collect()}
    sh = {r.doc_id: (r.bucket, r.split) for r in hash_split(half).collect()}
    assert all(sf[k] == sh[k] for k in sh)  # corpus-independent
    trains = sum(1 for b, s in sf.values() if s == "train")
    assert 150 < trains < 200  # ~90% of 200, hash-balanced
    assert all((b < 90) == (s == "train") for b, s in sf.values())


def test_pack_sequences_offsets_contiguous(spark):
    """Within a shard, offsets are the prefix sums in id order and the
    pack span covers exactly the doc's token range."""
    from location_summary_etl_spark.operators.packing import pack_sequences

    rows = [
        (1, "a b c", "s1"),       # 3 toks, start 0
        (2, "d e", "s1"),         # 2 toks, start 3
        (3, "f g h i j", "s1"),   # 5 toks, start 5 -> crosses pack at 8
        (10, "x y", "s2"),        # other shard restarts at 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r.asDict()
           for r in pack_sequences(df, seq_len=4).collect()}
    assert got[1]["start_offset"] == 0 and got[1]["pack_first"] == 0
    assert got[2]["start_offset"] == 3
    assert got[2]["pack_first"] == 0 and got[2]["pack_last"] == 1
    assert got[3]["start_offset"] == 5
    assert got[3]["pack_first"] == 1 and got[3]["pack_last"] == 2
    assert got[10]["start_offset"] == 0 and got[10]["shard"] == "s2"


def test_connected_components_chain_and_isolated(spark):
    """A 4-chain (diameter > 1 round), a 2-cycle, and an isolated
    vertex: labels converge to the component minimum for all three."""
    from location_summary_etl_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                     "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)], "a long, b long"
    )
    got = {r.id: r.cluster_id
           for r in connected_components(vertices, edges, "id", "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_filter_behind_barrier_same_rows_no_scan_reeval(spark, tmp_path):
    """filter_behind_barrier returns the same rows as a plain filter but
    keeps the derived expression OUT of the scan's data filters (no
    per-gate re-evaluation of the heavy expression)."""
    from location_summary_etl_spark.session import filter_behind_barrier

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(100)], "id long, text string"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    derived = df.select(
        "id", F.size(F.split("text", " ")).alias("n_toks")
    )
    cond = F.col("n_toks") >= 5
    plain = {r.id for r in derived.filter(cond).collect()}
    behind = filter_behind_barrier(derived, cond)
    assert {r.id for r in behind.collect()} == plain
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        behind._jdf.queryExecution(), "formatted"
    )
    # split() must appear exactly once -- in the Project, never
    # duplicated into the scan's data filters (the un-barriered plan
    # shows it twice: once in DataFilters, once in the projection).
    assert plan.count("split(") == 1, plan


def test_fetch_query_rows_respects_transforms(spark, tmp_path):
    """The pyarrow zero-job fast path may only serve BARE SCANS: a
    filtered or recomputed relation still reports inputFiles(), and a
    fast path keyed on that alone would return stale raw rows.  The
    plan gate must route every derived relation through Spark."""
    from location_summary_etl_spark.operators.similarity import (
        _is_bare_scan,
        fetch_query_rows,
    )

    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    raw = spark.read.parquet(path)

    # Bare scan (and attribute-only projection): fast path allowed,
    # rows match the files.
    assert _is_bare_scan(raw)
    assert _is_bare_scan(raw.select("vec_id", "embedding"))
    got = dict(fetch_query_rows(raw, "vec_id", "embedding", [3, 7]))
    assert set(got) == {3, 7} and got[3] == [3.0, 1.0]

    # Filter excludes id 3 -> must NOT come back from the raw files.
    filtered = raw.filter(F.col("vec_id") >= 5)
    assert not _is_bare_scan(filtered)
    assert dict(fetch_query_rows(filtered, "vec_id", "embedding", [3, 7])) \
        == {7: [7.0, 1.0]}

    # Recomputed vector column -> raw file values are stale.
    doubled = raw.withColumn(
        "embedding", F.transform("embedding", lambda x: x * 2))
    assert not _is_bare_scan(doubled)
    assert dict(fetch_query_rows(doubled, "vec_id", "embedding", [3]))[3] \
        == [6.0, 2.0]


def test_int8_quantize_zero_vector_and_roundtrip(spark):
    """All-zero vectors must quantize to scale 0 / zero codes (no
    NaN from 0/0); nonzero vectors must hit |code| == 127 at the max
    dimension and reconstruct within scale/2 per element."""
    from location_summary_etl_spark.operators.quantize import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.1, -0.2, 0.05])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in int8_quantize(df).collect()}
    assert rows[1].qscale == 0.0
    assert list(rows[1].q) == [0, 0, 0]
    assert rows[1].q_l2sq == 0
    assert max(abs(c) for c in rows[2].q) == 127
    scale = rows[2].qscale
    for x, c in zip(rows[2]._v, rows[2].q):
        assert abs(x - c * scale) <= scale / 2 + 1e-12


def test_sketch_rollup_estimates_near_exact(spark, sf_dir):
    """The rollup entry's in-plan accuracy check must pass for every
    row (per type and the union-merged global), its exact companions
    must equal independent distinct counts, and union-merging the
    per-type sketches must give the same estimate as sketching the
    whole column directly (the mergeability property)."""
    from location_summary_etl_spark.plans.corpus_events import events_sketch_rollup
    from location_summary_etl_spark.sources.registry import load_table

    rows = events_sketch_rollup(spark, sf_dir).collect()
    assert all(r.hll_ok for r in rows), rows
    got = {r.event_type: r.n_users_exact for r in rows}
    ev = load_table(spark, sf_dir, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("n")).collect()}
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert got == exact
    merged = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))         .collect()[0].e
    direct = ev.agg(F.hll_sketch_estimate(
        F.hll_sketch_agg("user_id")).alias("e")).collect()[0].e
    assert merged == direct


def test_python_datasource_synthdocs(spark):
    """The custom Python data source must plan as a partitioned scan:
    requested row count, registry-compatible schema, one task per
    requested partition, and bit-identical content across reads (task
    retry / rerun safety)."""
    from location_summary_etl_spark.sources.pydatasource import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    df = (
        spark.read.format("synthdocs")
        .option("n_rows", 500).option("n_partitions", 8).load()
    )
    assert df.count() == 500
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars"]
    assert df.rdd.getNumPartitions() == 8
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in (
        spark.read.format("synthdocs")
        .option("n_rows", 500).option("n_partitions", 3).load().collect()
    ))
    assert a == b  # content independent of parallelism
    assert len({r[0] for r in a}) == 500  # unique ids
    # generated corpus must satisfy the documents-table invariants
    assert all(r[4] == len(r[1]) for r in a)


def test_compile_bands_validates_and_classifies(spark):
    import pytest as _pytest

    from location_summary_etl_spark.operators.bands import (
        band_expr,
        compile_bands,
    )

    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], "band string, lo double, hi double"
    )
    rows = compile_bands(bands)
    df = spark.createDataFrame([(5.0,), (10.0,), (25.0,)], "v double")
    got = [r["band"] for r in
           df.select(band_expr(rows, "v").alias("band")).collect()]
    assert got == ["a", "b", None]  # lo inclusive, hi exclusive, no band -> NULL

    overlapping = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 5.0, 20.0)], "band string, lo double, hi double"
    )
    with _pytest.raises(ValueError, match="overlapping"):
        compile_bands(overlapping)


def test_write_observed_single_pass_metrics(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.registry import load_table
    from location_summary_etl_spark.sources.writers import write_observed

    orders = load_table(spark, sf_dir, "orders")
    got = write_observed(
        orders, str(tmp_path / "obs"),
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_price": F.count_if(F.col("o_totalprice").isNull()),
            "total_price": F.round(F.sum("o_totalprice"), 2),
        },
    )
    want = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    ).first().asDict()
    assert got == want
    # and the write actually happened, in the same job
    assert spark.read.parquet(str(tmp_path / "obs")).count() == want["n_rows"]


def test_scd2_merge_versions_nulls_and_inserts(spark):
    import datetime

    from pyspark.sql import functions as F

    from location_summary_etl_spark.operators.scd import scd2_merge

    d = datetime.date
    current = spark.createDataFrame(
        [
            # closed history row: must pass through untouched
            (1, "A", 10.0, d(2020, 1, 1), d(2021, 1, 1)),
            # open rows: changed value / unchanged / NULL -> value /
            # value -> NULL / missing from the update batch
            (1, "B", 10.0, d(2021, 1, 1), None),
            (2, "B", 20.0, d(2020, 1, 1), None),
            (3, None, 30.0, d(2020, 1, 1), None),
            (4, "D", None, d(2020, 1, 1), None),
            (5, "E", 50.0, d(2020, 1, 1), None),
        ],
        "k int, seg string, bal double, valid_from date, valid_to date",
    )
    updates = spark.createDataFrame(
        [
            (1, "B", 11.0),     # changed -> close + open
            (2, "B", 20.0),     # unchanged -> carried
            (3, "C", 30.0),     # NULL -> value: must version
            (4, "D", None),     # NULL stays NULL: unchanged
            (9, "Z", 90.0),     # brand-new key -> insert only
        ],
        "k int, seg string, bal double",
    )
    out = scd2_merge(current, updates, "k", ["seg", "bal"], "2022-06-01")
    rows = {(r.k, str(r.valid_from), str(r.valid_to), r.seg, r.bal)
            for r in out.collect()}
    eff = "2022-06-01"
    assert rows == {
        (1, "2020-01-01", "2021-01-01", "A", 10.0),   # history untouched
        (1, "2021-01-01", eff, "B", 10.0),            # closed
        (1, eff, "None", "B", 11.0),                  # new version
        (2, "2020-01-01", "None", "B", 20.0),         # unchanged
        (3, "2020-01-01", eff, None, 30.0),           # NULL->value closes
        (3, eff, "None", "C", 30.0),
        (4, "2020-01-01", "None", "D", None),         # NULL==NULL carried
        (5, "2020-01-01", "None", "E", 50.0),         # no update -> open
        (9, eff, "None", "Z", 90.0),                  # insert
    }
    # idempotence: re-applying the same batch changes nothing
    again = scd2_merge(out, updates, "k", ["seg", "bal"], "2022-06-01")
    assert again.count() == out.count()


def test_zvalue_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.writers import zvalue

    rows = spark.range(1).select(
        zvalue(F.lit(0), F.lit(0)).alias("z00"),
        zvalue(F.lit(1), F.lit(0)).alias("z10"),
        zvalue(F.lit(0), F.lit(1)).alias("z01"),
        zvalue(F.lit(3), F.lit(5)).alias("z35"),
        # negatives floor to 0; values mask to the bit budget
        zvalue(F.lit(-7), F.lit(2), bits=2).alias("zneg"),
        zvalue(F.lit(5), F.lit(0), bits=2).alias("zmask"),
    ).first()
    assert rows.z00 == 0
    assert rows.z10 == 1          # a -> even bits
    assert rows.z01 == 2          # b -> odd bits
    # a=0b011 -> bits 0,2; b=0b101 -> bits 1,5 shifted odd: 0b100111
    assert rows.z35 == 0b100111
    assert rows.zneg == 0b1000    # a=0, b=0b10 -> bit 3
    assert rows.zmask == 0b1      # 5 masked to 2 bits = 0b01


def test_write_zorder_localizes_both_columns(spark, tmp_path):
    """Z-order clustering must make row-group min/max stats selective
    on BOTH interleaved columns: a small range filter on either column
    overlaps only a minority of row groups (single-column sorting
    would localize one and leave the other uniform everywhere)."""
    import glob

    import pyarrow.parquet as pq

    from location_summary_etl_spark.sources.writers import write_zorder

    path = str(tmp_path / "zorder")
    # two independent coordinates on a 256x256 grid
    df = spark.range(0, 65_536).selectExpr(
        "cast(id % 256 as bigint) as x",
        "cast(floor(id / 256) as bigint) as y",
        "id as payload",
    )
    write_zorder(df, path, "x", "y", n_files=16, bits=8)

    def overlap_fraction(col, lo, hi):
        total = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        assert total >= 16
        return hit / total

    # a 1/16-wide slice of either dimension should prune most groups
    assert overlap_fraction("x", 0, 15) < 0.5
    assert overlap_fraction("y", 0, 15) < 0.5
    assert spark.read.parquet(path).count() == 65_536


def test_kmeans_assign_small_deterministic(spark):
    """k-means on a trivially separable set: two tight groups must end
    in different clusters, every id assigned exactly once, and a
    repeat run must be bit-identical (literal-centroid determinism)."""
    from location_summary_etl_spark.operators.clustering import kmeans_assign

    rows = [(i, [float(i % 2) * 10.0, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out1 = sorted(map(tuple, kmeans_assign(df, k=2, iters=2).collect()))
    out2 = sorted(map(tuple, kmeans_assign(df, k=2, iters=2).collect()))
    assert out1 == out2
    assert len(out1) == 10
    evens = {c for i, c in out1 if i % 2 == 0}
    odds = {c for i, c in out1 if i % 2 == 1}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds


def test_wav_audio_real_codec_roundtrip(spark):
    """attach_wav_audio writes genuine RIFF/WAVE containers and
    decode_audio really parses them: verify one payload independently
    with the stdlib wave module on the driver, and the whole decode
    against the synthesis formula."""
    import io
    import wave as wave_mod

    from location_summary_etl_spark.operators.multimodal import (
        AUDIO_BASE_FRAMES,
        AUDIO_FRAME_MOD,
        AUDIO_SAMPLE_RATE,
        attach_wav_audio,
        decode_audio,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 7, 130)], ["doc_id"])
    media = attach_wav_audio(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    # independent parse of one container: the bytes ARE a WAV file
    with wave_mod.open(io.BytesIO(payloads[7]), "rb") as w:
        assert w.getnchannels() == 1
        assert w.getframerate() == AUDIO_SAMPLE_RATE
        assert w.getnframes() == AUDIO_BASE_FRAMES + 7 % AUDIO_FRAME_MOD
    assert payloads[7][:4] == b"RIFF" and payloads[7][8:12] == b"WAVE"

    decoded = {r["doc_id"]: r for r in decode_audio(media).collect()}
    for did in (0, 7, 130):
        n = AUDIO_BASE_FRAMES + did % AUDIO_FRAME_MOD
        exp_amp = sum(
            abs((did * 31 + t * 7) % 256 - 128) for t in range(n)) / n
        row = decoded[did]
        assert row["n_frames"] == n
        assert row["duration_sec"] == n / AUDIO_SAMPLE_RATE
        assert abs(row["mean_abs_amplitude"] - exp_amp) < 1e-9

    try:
        decode_audio(media, backend="soundfile")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_image_backend_auto_selection(spark):
    """backend='auto' resolves through pick_image_backend: 'pil' where
    Pillow is importable, 'fake' otherwise -- and the auto path must
    execute either way (same output schema)."""
    import importlib.util

    from location_summary_etl_spark.operators.multimodal import (
        attach_fake_media,
        decode_media,
        pick_image_backend,
    )

    expected = "pil" if importlib.util.find_spec("PIL") else "fake"
    assert pick_image_backend() == expected

    docs = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    media = attach_fake_media(docs)
    if expected == "fake":  # fake payloads are not real images
        rows = decode_media(media, backend="auto").collect()
        assert rows and rows[0]["n_pixels"] > 0


def test_pil_backend_decodes_real_png(spark):
    """Real-image integration: build genuine PNGs with Pillow, decode
    through the 'pil' backend, assert true dimensions and pixel mean.
    Skips where Pillow is absent (this sandbox); green wherever it is
    installed."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from pyspark.sql import functions as F

    from location_summary_etl_spark.operators.multimodal import decode_media

    def png_bytes(w, h, value):
        img = PIL_Image.new("L", (w, h), value)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png_bytes(5, 3, 200), ("image/png", 5, 3, 0, "")),
            (2, png_bytes(8, 8, 17), ("image/png", 8, 8, 0, ""))]
    media = spark.createDataFrame(
        rows, "doc_id bigint, payload binary, media struct<"
        "media_type: string, width: int, height: int, n_bytes: bigint, "
        "sha: string>")
    got = {r["doc_id"]: r for r in
           decode_media(media, backend="auto").collect()}
    assert got[1]["width"] == 5 and got[1]["height"] == 3
    assert got[1]["n_pixels"] == 15 and abs(got[1]["mean_byte"] - 200) < 0.5
    assert got[2]["n_pixels"] == 64 and abs(got[2]["mean_byte"] - 17) < 0.5


def test_merge_upsert_semantics_and_idempotency(spark, tmp_path):
    """Keyed MERGE: update matched, insert unmatched, delete flagged;
    re-applying the identical merge is a no-op on the table state."""
    from location_summary_etl_spark.sources.writers import merge_upsert

    path = str(tmp_path / "merged")
    base = spark.createDataFrame(
        [(1, "2024-01", "a", 10.0), (2, "2024-01", "b", 20.0),
         (3, "2024-02", "c", 30.0), (4, "2024-03", "d", 40.0)],
        ["k", "month", "name", "val"],
    )
    r0 = merge_upsert(spark, base, path, keys=["k"], partition_by="month")
    assert r0 == {"inserted": 4, "updated": 0, "deleted": 0, "partitions": 3}

    upd = spark.createDataFrame(
        [(2, "2024-01", "b2", 21.0, False),   # update in place
         (5, "2024-02", "e", 50.0, False),    # insert
         (3, "2024-02", None, 0.0, True)],    # delete
        ["k", "month", "name", "val", "is_delete"],
    )
    r1 = merge_upsert(spark, upd, path, keys=["k"], partition_by="month",
                      delete_col="is_delete")
    assert r1 == {"inserted": 1, "updated": 1, "deleted": 1, "partitions": 2}

    def state():
        return sorted(map(tuple, spark.read.parquet(path)
                          .select("k", "month", "name", "val").collect()))

    want = [(1, "2024-01", "a", 10.0), (2, "2024-01", "b2", 21.0),
            (4, "2024-03", "d", 40.0), (5, "2024-02", "e", 50.0)]
    assert state() == want

    # idempotent re-apply: same updates, same final state
    r2 = merge_upsert(spark, upd, path, keys=["k"], partition_by="month",
                      delete_col="is_delete")
    assert state() == want
    assert r2["deleted"] == 0          # key 3 already gone
    assert r2["updated"] == 2          # 2 and 5 now both match
    assert r2["inserted"] == 0

    # duplicate update keys must error, not silently double-insert
    dup = spark.createDataFrame(
        [(9, "2024-01", "x", 1.0), (9, "2024-01", "y", 2.0)],
        ["k", "month", "name", "val"])
    try:
        merge_upsert(spark, dup, path, keys=["k"], partition_by="month")
        raise AssertionError("expected ValueError on duplicate keys")
    except ValueError:
        pass


def test_merge_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    """Copy-on-write granularity: merging into one partition must not
    rewrite the others' files (mtime-stable), and deleting every row
    of a partition removes its directory."""
    import os

    from location_summary_etl_spark.sources.writers import merge_upsert

    path = str(tmp_path / "cow")
    base = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 3}", float(i)) for i in range(9)],
        ["k", "month", "val"],
    )
    merge_upsert(spark, base, path, keys=["k"], partition_by="month")

    def files(part):
        d = os.path.join(path, f"month={part}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before_2, before_3 = files("2024-02"), files("2024-03")
    upd = spark.createDataFrame([(0, "2024-01", 99.0)], ["k", "month", "val"])
    r = merge_upsert(spark, upd, path, keys=["k"], partition_by="month")
    assert r["partitions"] == 1
    assert files("2024-02") == before_2 and files("2024-03") == before_3

    # delete every row of month 2024-03 (keys 2, 5, 8)
    dels = spark.createDataFrame(
        [(k, "2024-03", 0.0, True) for k in (2, 5, 8)],
        ["k", "month", "val", "is_delete"])
    r = merge_upsert(spark, dels, path, keys=["k"], partition_by="month",
                     delete_col="is_delete")
    assert r["deleted"] == 3
    assert not os.path.exists(os.path.join(path, "month=2024-03"))
    got = spark.read.parquet(path)
    assert got.count() == 6 and got.filter("month = '2024-03'").count() == 0


def test_warehouse_connector_retries_transient_failures(spark, tmp_path):
    """Remote-connector resilience contract (the testable half): the
    first N connection attempts fail transiently; the read must retry
    with backoff and succeed within the retry budget, fail with a
    clear ConnectionError beyond it, and the injected-failure counter
    must show the retries actually happened (not a silent fallback
    path)."""
    import os as _os
    import tempfile
    import uuid as _uuid

    import duckdb

    from location_summary_etl_spark.sources.warehouse import register_warehouse

    register_warehouse(spark)
    db = str(tmp_path / "retry.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k FROM range(10)")
    con.close()

    token = _uuid.uuid4().hex
    got = (spark.read.format("duckwarehouse")
           .option("path", db).option("dbtable", "t")
           .option("inject_failures", "2").option("inject_token", token)
           .option("retry_backoff_ms", "1")
           .load())
    assert got.count() == 10
    marker = _os.path.join(tempfile.gettempdir(), f"duckwh_inject_{token}")
    assert _os.path.getsize(marker) >= 2  # both failures really fired
    _os.remove(marker)

    token2 = _uuid.uuid4().hex
    try:
        (spark.read.format("duckwarehouse")
         .option("path", db).option("dbtable", "t")
         .option("inject_failures", "10").option("inject_token", token2)
         .option("max_retries", "2").option("retry_backoff_ms", "1")
         .load().count())
        raise AssertionError("expected failure beyond the retry budget")
    except Exception as e:
        assert "after 2 attempts" in str(e)
    _os.remove(_os.path.join(tempfile.gettempdir(), f"duckwh_inject_{token2}"))


def test_versioned_table_snapshot_isolation_and_time_travel(spark, tmp_path):
    """Manifest-pinned reads: a DataFrame planned at version N is
    byte-stable across later commits (snapshot isolation); any
    retained version stays readable (time travel); vacuum deletes
    exactly the unreferenced files and expired manifests."""
    import os

    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "vt"))
    assert t.commit(spark.range(0, 5).selectExpr("id AS k")) == 0
    v0_reader = t.read(spark)                 # planned at v0
    assert t.commit(spark.range(5, 8).selectExpr("id AS k")) == 1
    assert t.commit(spark.range(100, 102).selectExpr("id AS k"),
                    mode="overwrite") == 2

    # the v0-planned reader still sees exactly v0 after two commits
    assert sorted(r["k"] for r in v0_reader.collect()) == list(range(5))
    assert sorted(r["k"] for r in t.read(spark, version=1).collect()) == \
        list(range(8))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [100, 101]
    assert [h["operation"] for h in t.history()] == \
        ["append", "append", "overwrite"]

    # vacuum: retain v1+v2 -> v0's files (orphaned by the overwrite
    # only where unreferenced) deleted, v0 manifest gone, v1 readable
    removed = t.vacuum(retain_last=2)
    assert t.versions() == [1, 2]
    assert sorted(r["k"] for r in t.read(spark, version=1).collect()) == \
        list(range(8))
    # v0's files are referenced by v1 (append lineage) so they survive;
    # nothing was unreferenced here
    assert removed == []
    # overwrite-only retention: v2 alone -> v0/v1 data now unreferenced
    # BUT still inside the default retention grace (freshly written) --
    # the Delta-style TTL that keeps a racing commit's not-yet-
    # published files alive must keep them.
    removed = t.vacuum(retain_last=1)
    assert t.versions() == [2]
    assert removed == []
    # With the grace waived (single-writer test), collection happens.
    removed = t.vacuum(retain_last=1, grace_seconds=0)
    assert removed and all(os.path.basename(p).endswith(".parquet")
                           for p in removed)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [100, 101]


def test_versioned_table_concurrent_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: two writers planning against the same
    base version -- the second commit must raise, not silently clobber
    or interleave."""
    from location_summary_etl_spark.sources.versioned import (
        ConcurrentWriteError,
        VersionedTable,
    )

    path = str(tmp_path / "vt2")
    a, b = VersionedTable(path), VersionedTable(path)
    a.commit(spark.range(3).selectExpr("id AS k"))

    # Simulate the race: both writers observe latest == 0, a commits
    # first; b's commit targets v1 which now exists.
    base_seen_by_b = b.latest_version()
    assert base_seen_by_b == 0
    a.commit(spark.range(10, 13).selectExpr("id AS k"))

    orig = VersionedTable.latest_version
    try:
        VersionedTable.latest_version = lambda self: base_seen_by_b
        try:
            b.commit(spark.range(20, 23).selectExpr("id AS k"))
            raise AssertionError("expected ConcurrentWriteError")
        except ConcurrentWriteError:
            pass
    finally:
        VersionedTable.latest_version = orig
    # the surviving state is a's lineage, untouched by b's attempt
    assert sorted(r["k"] for r in a.read(spark).collect()) == \
        [0, 1, 2, 10, 11, 12]


def test_versioned_merge_rewrites_only_matched_files(spark, tmp_path):
    """Delta-style MERGE: matched keys update/delete, unmatched
    insert, as a NEW snapshot version -- files without a matched key
    are carried into the new manifest BY PATH (no rewrite), and the
    pre-merge version remains time-travelable (what in-place
    merge_upsert cannot offer)."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "vm"))
    # two commits -> at least two independent file sets
    t.commit(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int")
        .coalesce(1))
    t.commit(spark.createDataFrame(
        [(3, "c", 30), (4, "d", 40)], "k int, name string, v int")
        .coalesce(1))
    files_v1 = t._manifest(1)["files"]

    upd = spark.createDataFrame(
        [(2, "b2", 21, False),   # update (lives in commit-0's file)
         (5, "e", 50, False),    # insert
         (1, None, 0, True)],    # delete (same file as the update)
        "k int, name string, v int, is_delete boolean")
    v2 = t.merge(spark, upd, keys=["k"], delete_col="is_delete")
    assert v2 == 2

    got = {r["k"]: (r["name"], r["v"]) for r in t.read(spark).collect()}
    assert got == {2: ("b2", 21), 3: ("c", 30), 4: ("d", 40), 5: ("e", 50)}

    # commit-1's file held keys 3,4 (unmatched): carried by path
    files_v2 = set(t._manifest(2)["files"])
    untouched = [f for f in files_v1 if "commit-" in f and
                 f in files_v2]
    assert untouched, "unmatched data file was rewritten instead of carried"
    # time travel: the pre-merge version still shows the old state
    pre = {r["k"]: r["v"] for r in t.read(spark, version=1).collect()}
    assert pre == {1: 10, 2: 20, 3: 30, 4: 40}

    # idempotent re-apply
    t.merge(spark, upd, keys=["k"], delete_col="is_delete")
    got2 = {r["k"]: (r["name"], r["v"]) for r in t.read(spark).collect()}
    assert got2 == got


def test_warehouse_sink_crashed_job_stages_are_swept(spark, tmp_path):
    """Spark's Python Data Source never calls writer.abort() on a job
    failure (verified on 4.1), so a crashed job strands its staged
    files.  The contract is therefore: (1) the strand is isolated in
    a per-job dir and can NEVER pollute a later commit's file list,
    (2) the warehouse holds no partial table, and (3) the next
    successful commit sweeps stale job dirs past the TTL."""
    import os

    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.warehouse import register_warehouse

    register_warehouse(spark)
    db = str(tmp_path / "abort.duckdb")
    staging = db + ".staging"
    # one poisoned row: the task fails AFTER other tasks staged files
    df = (spark.range(0, 100, 1, 8)
          .withColumn("v", F.expr(
              "CASE WHEN id = 99 THEN raise_error('poison') ELSE id END")))
    try:
        (df.write.format("duckwarehouse")
         .option("path", db).option("table", "t").mode("append").save())
        raise AssertionError("expected the poisoned write to fail")
    except Exception as e:
        assert "poison" in str(e)
    stranded = [d for d in os.listdir(staging)] if os.path.isdir(staging) else []
    assert stranded and all(d.startswith("job-") for d in stranded)

    # the warehouse must not contain a partial table
    import duckdb
    con = duckdb.connect(db)
    tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
    con.close()
    assert "t" not in tables

    # next commit (TTL 0) sweeps the strand and commits only its own rows
    ok = spark.range(5).selectExpr("id AS k", "id AS v")
    (ok.write.format("duckwarehouse")
     .option("path", db).option("table", "t")
     .option("stale_stage_ttl_s", "0").mode("append").save())
    assert not os.path.isdir(staging)   # fully swept and removed
    con = duckdb.connect(db)
    n = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    con.close()
    assert n == 5


def test_versioned_vacuum_collects_crashed_commit_orphans(spark, tmp_path):
    """A commit that crashed between writing data files and publishing
    the manifest leaves unreferenced files; vacuum must delete exactly
    those and leave every referenced file intact."""
    import os

    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "vc"))
    t.commit(spark.range(5).selectExpr("id AS k"))
    # simulate the crash: data files land, no manifest ever appears
    orphan_dir = os.path.join(t.data_dir, "commit-crashed")
    spark.range(100, 105).selectExpr("id AS k").write.parquet(orphan_dir)
    assert os.path.isdir(orphan_dir)

    # grace waived: the "crash" was seconds ago, but this single-writer
    # test wants immediate collection of the orphaned commit dir.
    removed = t.vacuum(retain_last=1, grace_seconds=0)
    assert removed and all("commit-crashed" in p for p in removed)
    assert not os.path.isdir(orphan_dir)
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(5))


def test_wav_decode_handles_16bit_stereo(spark):
    """The real codec must parse format variants, not just the
    synthesizer's own output: a 16-bit stereo WAV built independently
    with the stdlib writer decodes with the right channel count,
    frame count, and signed-PCM amplitude (decoding 16-bit frames as
    bytes would double the frame count and scramble amplitudes)."""
    import io
    import wave as wave_mod

    import numpy as np

    from location_summary_etl_spark.operators.multimodal import decode_audio

    n = 50
    left = np.array([(3 * t) % 2000 - 1000 for t in range(n)], dtype="<i2")
    right = -left
    inter = np.empty(2 * n, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(inter.tobytes())
    media = spark.createDataFrame(
        [(7, buf.getvalue(), None)],
        "doc_id bigint, payload binary, media struct<media_type: string, "
        "width: int, height: int, n_bytes: bigint, sha: string>")
    row = decode_audio(media).collect()[0]
    assert row["n_channels"] == 2
    assert row["sample_rate"] == 16000
    assert row["n_frames"] == n
    assert row["duration_sec"] == n / 16000
    exp = float(np.abs(inter.astype(np.float64)).mean())
    assert abs(row["mean_abs_amplitude"] - exp) < 1e-9


def test_versioned_table_additive_schema_evolution(spark, tmp_path):
    """Appends may add nullable columns (old files read the new column
    as null under the manifest-pinned schema); drops and retypes must
    raise SchemaEvolutionError instead of silently corrupting pinned
    readers."""
    from location_summary_etl_spark.sources.versioned import (
        SchemaEvolutionError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "ev"))
    t.commit(spark.createDataFrame([(1, 10)], "k int, v int"))
    # additive: a new column arrives
    t.commit(spark.createDataFrame([(2, 20, "x")],
                                   "k int, v int, tag string"))
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got == {1: (10, None), 2: (20, "x")}
    # time travel at v0 still reads the original two columns
    assert t.read(spark, version=0).columns == ["k", "v"]

    for bad, why in [
        (spark.createDataFrame([(3,)], "k int"), "drop"),
        (spark.createDataFrame([(3, "oops", "y")],
                               "k int, v string, tag string"), "retype"),
    ]:
        try:
            t.commit(bad)
            raise AssertionError(f"expected SchemaEvolutionError on {why}")
        except SchemaEvolutionError:
            pass


def test_versioned_compact_and_restore(spark, tmp_path):
    """compact() rewrites the snapshot into fewer files with identical
    data (layout-only change; prior versions untouched); restore()
    rolls back by republishing an old version's exact file list
    without rewriting a byte."""
    import os

    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "cr"))
    for lo in range(0, 40, 10):  # 4 appends -> >= 4 files
        t.commit(spark.range(lo, lo + 10).selectExpr("id AS k")
                 .repartition(2), mode="append")
    pre = t._manifest(t.latest_version())
    assert pre["n_files"] >= 4

    v = t.compact(spark, target_files=1)
    post = t._manifest(v)
    assert post["n_files"] == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(40))
    # the pre-compaction version still reads its original files
    assert sorted(r["k"] for r in t.read(spark, version=v - 1).collect()) == \
        list(range(40))

    rv = t.restore(1)  # back to the first two appends
    assert t._manifest(rv)["files"] == t._manifest(1)["files"]  # zero copy
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(20))
    # history intact: the compacted state is still reachable
    assert sorted(r["k"] for r in t.read(spark, version=v).collect()) == \
        list(range(40))
    # vacuum after restore keeps exactly what retained manifests need
    t.vacuum(retain_last=2)
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(20))


def test_versioned_compact_carries_data_skipping_stats(spark, tmp_path):
    """compact() re-records footer stats over the base manifest's stat
    column set (r9): without the carry, one compaction silently turns
    every read(where=...) back into a full scan.  Proven the corrupt-
    file way: after compacting a stats-committed table, a fresh
    disjoint commit's file is corrupted and a where= read over the
    compacted range must not open it."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "cs"))
    for lo in (0, 100):
        t.commit(spark.createDataFrame(
            [(lo + i, i) for i in range(10)], "k int, v int").coalesce(1),
            mode="overwrite" if lo == 0 else "append", stats_columns=["k"])
    v = t.compact(spark, target_files=1)
    m = t._manifest(v)
    assert m.get("stats") and all("k" in per for per in m["stats"].values())
    # a later append in a disjoint range, then corrupt it: skipping
    # over the compacted files' stats must prune it from the scan
    t.commit(spark.createDataFrame(
        [(1000 + i, i) for i in range(10)], "k int, v int").coalesce(1),
        mode="append", stats_columns=["k"])
    m2 = t._manifest(t.latest_version())
    high = [f for f in m2["files"] if m2["stats"][f]["k"][0] == 1000]
    assert len(high) == 1
    with open(high[0], "wb") as fh:
        fh.write(b"junk")
    got = sorted(r["k"] for r in t.read(spark, where=("k", 0, 110))
                 .filter("k <= 110").collect())
    assert got == list(range(10)) + list(range(100, 110))


def test_merge_upsert_partition_stable_shortcut(spark, tmp_path):
    """assume_partition_stable skips the full-table key scan: results
    equal the discovery path when the invariant holds, and only the
    updates' own partitions are rewritten."""
    import os

    from location_summary_etl_spark.sources.writers import merge_upsert

    path = str(tmp_path / "stable")
    base = spark.createDataFrame(
        [(i, f"p{i % 3}", float(i)) for i in range(9)],
        ["k", "part", "v"])
    merge_upsert(spark, base, path, keys=["k"], partition_by="part")

    def mtimes(p):
        d = os.path.join(path, f"part={p}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before_p1, before_p2 = mtimes("p1"), mtimes("p2")
    upd = spark.createDataFrame(
        [(0, "p0", 100.0, False), (3, "p0", 300.0, True)],
        ["k", "part", "v", "is_delete"])
    r = merge_upsert(spark, upd, path, keys=["k"], partition_by="part",
                     delete_col="is_delete", assume_partition_stable=True)
    assert r["partitions"] == 1
    assert mtimes("p1") == before_p1 and mtimes("p2") == before_p2
    got = sorted((row["k"], row["v"]) for row in
                 spark.read.parquet(path).collect())
    assert got == [(0, 100.0), (1, 1.0), (2, 2.0), (4, 4.0), (5, 5.0),
                   (6, 6.0), (7, 7.0), (8, 8.0)]


def test_versioned_commit_check_constraints(spark, tmp_path):
    """CHECK constraints validate during the write (observe metrics,
    no extra scan) and a violation abandons the commit atomically:
    manifest unpublished, table state untouched, orphan files left
    for vacuum."""
    from location_summary_etl_spark.sources.versioned import (
        ConstraintViolationError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "ck"))
    t.commit(spark.createDataFrame([(1, 10.0)], "k int, v double"),
             constraints=["v >= 0", "k IS NOT NULL"])
    assert t.latest_version() == 0

    bad = spark.createDataFrame([(2, 5.0), (3, -1.0), (None, 7.0)],
                                "k int, v double")
    try:
        t.commit(bad, constraints=["v >= 0", "k IS NOT NULL"])
        raise AssertionError("expected ConstraintViolationError")
    except ConstraintViolationError as e:
        assert "v >= 0" in str(e) and "1 row" in str(e)
    # table untouched: still version 0 with the original row
    assert t.latest_version() == 0
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, 10.0)]
    # the abandoned files are gone (cleaned eagerly) or vacuumable
    assert t.vacuum(retain_last=1) == []
    assert [tuple(r) for r in t.read(spark).collect()] == [(1, 10.0)]


def test_versioned_merge_respects_constraints(spark, tmp_path):
    """A MERGE whose rewritten rows violate a CHECK abandons the new
    version atomically -- the pre-merge snapshot stays latest."""
    from location_summary_etl_spark.sources.versioned import (
        ConstraintViolationError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "mc"))
    t.commit(spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                   "k int, v double"))
    bad = spark.createDataFrame([(2, -5.0)], "k int, v double")
    try:
        t.merge(spark, bad, keys=["k"], constraints=["v >= 0"])
        raise AssertionError("expected ConstraintViolationError")
    except ConstraintViolationError:
        pass
    assert t.latest_version() == 0
    assert sorted(map(tuple, t.read(spark).collect())) == \
        [(1, 10.0), (2, 20.0)]
    ok = spark.createDataFrame([(2, 25.0)], "k int, v double")
    t.merge(spark, ok, keys=["k"], constraints=["v >= 0"])
    assert sorted(map(tuple, t.read(spark).collect())) == \
        [(1, 10.0), (2, 25.0)]


def test_versioned_merge_rejects_unknown_columns(spark, tmp_path):
    """MERGE must not silently drop update columns outside the table
    schema -- that is data loss; it raises with the evolve-first
    remedy instead."""
    from location_summary_etl_spark.sources.versioned import (
        SchemaEvolutionError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "mu"))
    t.commit(spark.createDataFrame([(1, 10)], "k int, v int"))
    upd = spark.createDataFrame([(1, 11, "new")], "k int, v int, extra string")
    try:
        t.merge(spark, upd, keys=["k"])
        raise AssertionError("expected SchemaEvolutionError")
    except SchemaEvolutionError as e:
        assert "extra" in str(e)


def test_versioned_data_skipping_prunes_files(spark, tmp_path):
    """Per-file min/max stats from parquet footers drive file-list
    pruning: a range predicate over sorted-batch commits must scan
    only the intersecting files, and the pruned read returns exactly
    the rows a full read + filter would."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "ds"))
    for lo in (0, 100, 200, 300):  # disjoint k-ranges per commit
        t.commit(spark.range(lo, lo + 100).selectExpr("id AS k")
                 .coalesce(1), mode="append", stats_columns=["k"])
    m = t._manifest(t.latest_version())
    assert len(m["files"]) == 4 and len(m["stats"]) == 4

    pruned = t.read(spark, where=("k", 150, 160))
    assert len(pruned.inputFiles()) == 1          # one file intersects
    got = sorted(r["k"] for r in
                 pruned.filter("k BETWEEN 150 AND 160").collect())
    assert got == list(range(150, 161))

    # predicate across a boundary keeps exactly the two spanning files
    assert len(t.read(spark, where=("k", 190, 210)).inputFiles()) == 2
    # a predicate outside every range prunes everything -- skipping is
    # a pure optimization, so the read returns an EMPTY DataFrame with
    # the pinned schema (not an error: callers cannot distinguish
    # "no matching data" from misuse).
    nothing = t.read(spark, where=("k", 5000, 6000))
    assert nothing.columns == ["k"] and nothing.count() == 0
    # files without recorded stats are conservatively kept
    t.commit(spark.range(400, 410).selectExpr("id AS k").coalesce(1),
             mode="append")  # no stats_columns
    assert len(t.read(spark, where=("k", 150, 160)).inputFiles()) == 2


def test_versioned_data_skipping_on_date_column(spark, tmp_path):
    """stats_columns on a DATE column must commit (footer stats arrive
    as datetime.date objects -- the manifest stores them JSON-safe as
    isoformat strings, whose lexicographic order is temporal order)
    and must prune with date-object OR string predicate bounds."""
    import datetime

    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "dsd"))
    for y in (2020, 2021, 2022):
        df = spark.sql(
            f"SELECT sequence(DATE'{y}-01-01', DATE'{y}-12-01',"
            " interval 1 month) AS ds"
        ).selectExpr("explode(ds) AS d")
        t.commit(df.coalesce(1), mode="append", stats_columns=["d"])
    assert len(t._manifest(t.latest_version())["files"]) == 3

    pruned = t.read(spark, where=(
        "d", datetime.date(2021, 3, 1), datetime.date(2021, 6, 1)))
    assert len(pruned.inputFiles()) == 1
    assert pruned.filter("d BETWEEN '2021-03-01' AND '2021-06-01'"
                         ).count() == 4
    # string bounds land in the same stored domain
    assert len(t.read(spark,
                      where=("d", "2020-02-01", "2020-03-01")
                      ).inputFiles()) == 1


def test_png_real_codec_roundtrip(spark):
    """attach_png_images writes genuine PNG files and decode_png really
    parses them: verify one payload's container structure independently
    on the driver (signature, IHDR fields, CRC-checked chunks), check
    the encoder exercised every scanline filter type, and compare the
    whole decode against the pixel formula."""
    import struct
    import zlib

    from location_summary_etl_spark.operators.multimodal import (
        PNG_BASE_H,
        PNG_BASE_W,
        PNG_H_MOD,
        PNG_SIG,
        PNG_W_MOD,
        attach_png_images,
        decode_png,
    )

    ids = (0, 7, 34)  # 34 -> height 7: scanlines cover all 5 filters
    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    media = attach_png_images(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}

    p = payloads[34]
    assert p[:8] == PNG_SIG
    w, h = struct.unpack(">II", p[16:24])
    assert (w, h) == (4 + 34 % PNG_W_MOD, 3 + 34 % PNG_H_MOD)
    # independent scanline-filter audit: inflate the IDAT ourselves and
    # read each row's filter byte -- must be y % 5, so Sub/Up/Average/
    # Paeth are all genuinely decoded, not just the filter-0 fast path
    pos, idat = 8, b""
    while pos < len(p):
        (length,) = struct.unpack(">I", p[pos:pos + 4])
        tag = p[pos + 4:pos + 8]
        if tag == b"IDAT":
            idat += p[pos + 8:pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    assert [raw[y * stride] for y in range(h)] == [y % 5 for y in range(h)]

    decoded = {r["doc_id"]: r for r in decode_png(media).collect()}
    for did in ids:
        ew = PNG_BASE_W + did % PNG_W_MOD
        eh = PNG_BASE_H + did % PNG_H_MOD
        exp = sum((did * 31 + y * 17 + x * 7 + c * 11) % 256
                  for y in range(eh) for x in range(ew) for c in range(3))
        row = decoded[did]
        assert (row["width"], row["height"]) == (ew, eh)
        assert row["color_type"] == 2
        assert row["n_pixels"] == ew * eh
        assert row["sum_rgb"] == exp

    try:
        decode_png(media, backend="pil")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_png_parse_external_fixture_and_corruption():
    """parse_png handles an externally-produced PNG (the ubiquitous
    1x1 RGBA data-URI pixel -- written by a real encoder, not ours) and
    rejects corrupted bytes instead of emitting garbage."""
    import base64

    import pytest as _pytest

    from location_summary_etl_spark.operators.multimodal import parse_png

    fix = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf"
        "DwAChwGA60e6kgAAAABJRU5ErkJggg==")
    w, h, ctype, pixels = parse_png(fix)
    assert (w, h, ctype) == (1, 1, 6)
    assert len(pixels) == 4  # one RGBA pixel

    with _pytest.raises(ValueError, match="signature"):
        parse_png(b"\x89PNX" + fix[4:])
    # flip one IDAT payload byte: the stored CRC must catch it
    bad = bytearray(fix)
    bad[-20] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        parse_png(bytes(bad))


def test_versioned_change_feed_netting(spark, tmp_path):
    """changes(keys=...) nets the file diff to row semantics: identical
    carried rows cancel (including NULL-valued columns, which a
    join-based diff would mishandle under SQL null-equality), duplicate
    rows net by count (bag semantics), and survivors classify as
    update pre/post images, inserts, and deletes."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    cols = ["k", "tag", "v"]
    v0 = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", 30), (3, "c", 30)], cols)
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, None, 25), (3, "c", 30), (4, "d", 40)], cols)
    t.commit(v0, mode="overwrite")
    t.commit(v1, mode="overwrite")

    feed = sorted(
        tuple(r) for r in t.changes(spark, 0, keys=["k"]).collect())
    assert feed == sorted([
        (2, None, 20, "update_preimage"),
        (2, None, 25, "update_postimage"),
        (3, "c", 30, "delete"),   # ONE of the two duplicates went away
        (4, "d", 40, "insert"),
    ])

    # keys=None: the raw file diff -- overwrite removed and re-added
    # every file, so even identical rows surface as delete+insert
    raw = t.changes(spark, 0)
    assert raw.filter("_change_type = 'insert'").count() == 4
    assert raw.filter("_change_type = 'delete'").count() == 4

    # same version on both sides: empty feed, schema intact
    same = t.changes(spark, 1, 1, keys=["k"])
    assert same.count() == 0
    assert same.columns == cols + ["_change_type"]


def test_versioned_change_feed_after_merge(spark, tmp_path):
    """After a file-granular MERGE, the keyed feed contains exactly the
    merge's logical changes -- carried neighbors inside rewritten files
    cancel out."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    rows = [(i, i * 10) for i in range(20)]
    t.commit(spark.createDataFrame(rows, ["k", "v"]), mode="overwrite")
    updates = spark.createDataFrame(
        [(3, 999, False), (25, 250, False), (7, 0, True)],
        ["k", "v", "is_del"])
    t.merge(spark, updates, keys=["k"], delete_col="is_del")

    feed = sorted(tuple(r) for r in t.changes(spark, 0, keys=["k"]).collect())
    assert feed == sorted([
        (3, 30, "update_preimage"),
        (3, 999, "update_postimage"),
        (25, 250, "insert"),
        (7, 70, "delete"),
    ])


def test_merge_discovery_prunes_by_key_stats(spark, tmp_path):
    """Stats-aware MERGE discovery: with footer stats on the merge key,
    files whose key range cannot intersect the updates' range are
    never OPENED by the discovery scan.  Proven behaviorally: the
    out-of-range file is corrupted on disk after commit -- a merge
    that touched it would fail -- and the merge must still succeed,
    carry it by path, and keep its recorded stats for the next merge."""
    from location_summary_etl_spark.sources.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    low = spark.createDataFrame([(i, i * 10) for i in range(10)],
                                "k int, v int")
    high = spark.createDataFrame([(i, i * 10) for i in range(100, 110)],
                                 "k int, v int")
    t.commit(low.coalesce(1), mode="overwrite", stats_columns=["k"])
    t.commit(high.coalesce(1), mode="append", stats_columns=["k"])

    m = t._manifest(1)
    low_files = [f for f in m["files"]
                 if m["stats"][f]["k"][1] is not None
                 and m["stats"][f]["k"][1] < 100]
    assert low_files, "expected a distinct low-range file"
    for f in low_files:
        with open(f, "wb") as fh:
            fh.write(b"not parquet anymore")

    updates = spark.createDataFrame([(105, -1, False), (200, -2, False)],
                                    "k int, v int, d boolean")
    v = t.merge(spark, updates, keys=["k"], delete_col="d")

    m2 = t._manifest(v)
    for f in low_files:
        assert f in m2["files"]                  # carried by path
        assert m2["stats"][f]["k"] == m["stats"][f]["k"]  # stats kept
    # rewritten/appended rows are correct (read only the new files)
    new_files = [f for f in m2["files"] if f not in m["files"]]
    got = {(r["k"], r["v"])
           for r in spark.read.parquet(*new_files).collect()}
    assert (105, -1) in got and (200, -2) in got
    assert (105, 1050) not in got


def test_gif_real_codec_roundtrip(spark):
    """attach_gif_images writes genuine GIF89a files and decode_gif
    really parses them: the LZW here is implemented from the spec
    (variable-width codes, clear/end, KwKwK), so the test audits the
    algorithmic corners directly, verifies the code stream grows past
    9-bit codes, and compares the whole Spark-side decode against the
    pixel/palette formulas."""
    import numpy as np

    from location_summary_etl_spark.operators.multimodal import (
        GIF_BASE_H,
        GIF_BASE_W,
        GIF_H_MOD,
        GIF_W_MOD,
        _lzw_decode,
        _lzw_encode,
        attach_gif_images,
        decode_gif,
    )

    # KwKwK corner (code == next unassigned) and dictionary growth
    assert _lzw_decode(_lzw_encode(b"\x05" * 700)) == b"\x05" * 700
    rng = np.random.default_rng(3)
    blob = rng.integers(0, 256, size=3000).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(blob)) == blob
    # width growth: 3000 novel-ish sequences push the table past 512
    # entries, so a correct decoder MUST have switched to 10-bit codes
    # (a 9-bit-only reader desynchronizes and fails the equality above)

    ids = (0, 7, 113)
    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    media = attach_gif_images(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert payloads[7][:6] == b"GIF89a"

    decoded = {r["doc_id"]: r for r in decode_gif(media).collect()}
    for did in ids:
        w = GIF_BASE_W + did % GIF_W_MOD
        h = GIF_BASE_H + did % GIF_H_MOD
        exp = 0
        for y in range(h):
            for x in range(w):
                p = (did * 37 + y * 13 + x * 5) % 256
                exp += p + (p * 3) % 256 + (p * 7) % 256
        row = decoded[did]
        assert (row["width"], row["height"]) == (w, h)
        assert row["n_pixels"] == w * h
        assert row["sum_rgb"] == exp

    try:
        decode_gif(media, backend="pil")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_gif_parse_external_fixture_and_corruption():
    """parse_gif handles an externally-produced GIF (the classic 1x1
    transparent spacer -- written by a real encoder, with a graphic
    control extension block to skip) and rejects malformed input."""
    import base64

    import pytest as _pytest

    from location_summary_etl_spark.operators.multimodal import parse_gif

    fix = base64.b64decode(
        "R0lGODlhAQABAIAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw==")
    w, h, palette, indices = parse_gif(fix)
    assert (w, h) == (1, 1)
    assert palette[0] == (255, 255, 255) and palette[1] == (0, 0, 0)
    assert list(indices) == [0]

    with _pytest.raises(ValueError, match="signature"):
        parse_gif(b"JIF89a" + fix[6:])
    with _pytest.raises(ValueError):
        parse_gif(fix[:20])  # truncated mid-structure


def test_mixed_modality_decode_dispatch(spark):
    """decode_any routes each row of a heterogeneous payload column to
    the REAL parser its media_type names, in one pass; an unknown
    media type must fail the task, not silently drop."""
    import pytest as _pytest

    from location_summary_etl_spark.operators.multimodal import (
        attach_mixed_media,
        decode_any,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 1, 2, 30, 31, 32)],
                                 ["doc_id"])
    rows = {r["doc_id"]: r for r in
            decode_any(attach_mixed_media(docs)).collect()}
    assert rows[0]["media_type"] == "image/png" and rows[0]["width"] == 4
    assert rows[31]["media_type"] == "image/gif" and rows[31]["width"] == 17
    assert rows[32]["media_type"] == "audio/wav" and rows[32]["width"] == 0
    assert rows[32]["n_units"] == 64 + 32 % 128

    # unknown media type: loud failure inside the Arrow batch
    from pyspark.sql import functions as F
    bad = attach_mixed_media(docs).withColumn(
        "media", F.named_struct(
            F.lit("media_type"), F.lit("video/mp4"),
            F.lit("width"), F.lit(0), F.lit("height"), F.lit(0),
            F.lit("n_bytes"), F.lit(0).cast("bigint"),
            F.lit("sha"), F.lit("x")))
    with _pytest.raises(Exception, match="no decoder"):
        decode_any(bad).collect()


def test_y4m_real_video_container_roundtrip(spark):
    """attach_y4m_video writes genuine YUV4MPEG2 clips and
    decode_video_frames really parses them: verify one payload's
    container structure independently (magic, header tags, FRAME
    markers at computed offsets), then compare the frame fan-out
    against the plane formula."""
    from location_summary_etl_spark.operators.multimodal import (
        VIDEO_BASE_F,
        VIDEO_BASE_H,
        VIDEO_BASE_W,
        VIDEO_F_MOD,
        VIDEO_H_MOD,
        VIDEO_W_MOD,
        attach_y4m_video,
        decode_video_frames,
    )

    ids = (0, 5, 11)
    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    media = attach_y4m_video(docs)
    p = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}[5]
    w, h, n = 4 + 5 % 3, 3 + 5 % 3, 3 + 5 % 4
    header, rest = p.split(b"\n", 1)
    assert header.startswith(b"YUV4MPEG2") and f"W{w}".encode() in header
    assert rest[:6] == b"FRAME\n"
    assert rest.count(b"FRAME\n") == n

    rows = decode_video_frames(media).collect()
    got = {(r["doc_id"], r["frame_no"]): r for r in rows}
    for did in ids:
        w = VIDEO_BASE_W + did % VIDEO_W_MOD
        h = VIDEO_BASE_H + did % VIDEO_H_MOD
        n = VIDEO_BASE_F + did % VIDEO_F_MOD
        assert {f for d, f in got if d == did} == set(range(n))
        for f in range(n):
            exp = sum((did * 19 + f * 29 + c * 41 + y * 7 + x * 3) % 256
                      for c in range(3) for y in range(h) for x in range(w))
            r = got[(did, f)]
            assert (r["width"], r["height"], r["frame_sum"]) == (w, h, exp)

    try:
        decode_video_frames(media, backend="ffmpeg")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_merge_total_deletion_keeps_table_readable(spark, tmp_path):
    """Deleting the LAST row through either merge path must leave a
    READABLE empty table: plain parquet gets a schema-bearing empty
    marker file (zero data files cannot answer a schema inference),
    the versioned table answers from its manifest-pinned schema.
    Regression for the hypothesis-found total-deletion stream."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.sources.versioned import VersionedTable
    from location_summary_etl_spark.sources.writers import merge_upsert

    seed = spark.createDataFrame([(6, 83)], "k int, v int").withColumn(
        "part", (F.col("k") % 2).cast("string"))
    flat = str(tmp_path / "flat")
    seed.write.partitionBy("part").parquet(flat)
    vt = VersionedTable(str(tmp_path / "vt"))
    vt.commit(seed)

    kill = spark.createDataFrame([(6, 0, True)],
                                 "k int, v int, d boolean").withColumn(
        "part", (F.col("k") % 2).cast("string"))
    merge_upsert(spark, kill, flat, keys=["k"], partition_by="part",
                 delete_col="d", collect_metrics=False)
    vt.merge(spark, kill, keys=["k"], delete_col="d")

    flat_back = spark.read.parquet(flat)
    assert flat_back.count() == 0
    assert set(flat_back.columns) == {"k", "v", "part"}
    v_back = vt.read(spark)
    assert v_back.count() == 0
    assert set(v_back.columns) == {"k", "v", "part"}

    # and the table must come back to life on the next merge
    revive = spark.createDataFrame([(1, 11, False)],
                                   "k int, v int, d boolean").withColumn(
        "part", (F.col("k") % 2).cast("string"))
    merge_upsert(spark, revive, flat, keys=["k"], partition_by="part",
                 delete_col="d", collect_metrics=False)
    vt.merge(spark, revive, keys=["k"], delete_col="d")
    assert [(r["k"], r["v"]) for r in
            spark.read.parquet(flat).collect()] == [(1, 11)]
    assert [(r["k"], r["v"]) for r in vt.read(spark).collect()] == [(1, 11)]


def test_pagerank_matches_python_replay(spark):
    """Fixed-iteration PageRank on a small directed graph (a hub, a
    chain, duplicate edges, a dangling sink) equals a dict-based
    replay of the same simplified recurrence."""
    from location_summary_etl_spark.operators.graph import pagerank

    raw = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("a", "b")]
    edges = spark.createDataFrame(raw, "s string, d string")
    got = {r.node: r.rank
           for r in pagerank(edges, "s", "d", iterations=3).collect()}

    dedup = sorted(set(raw))
    nodes = sorted({x for e in dedup for x in e})
    out = {n: sum(1 for s, _ in dedup if s == n) for n in nodes}
    ranks = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(3):
        ranks = {
            n: 0.15 / len(nodes)
            + 0.85 * sum(ranks[s] / out[s] for s, d in dedup if d == n)
            for n in nodes
        }
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - ranks[n]) < 1e-12, (n, got[n], ranks[n])


# ------------------------------------------- n-gram physical-form parity


def test_ngram_prefix_matches_uncapped_aggregate(spark):
    """The prefix-filtered join and the uncapped inverted-index
    aggregate are two physical plans for one exact-Jaccard relation:
    identical rows at a moderate and a high threshold, on near-unique
    grams (the corpus where the prefix form prunes the most) and on
    sliding word windows whose pair Jaccards straddle both thresholds
    (offset d shares 6-d of 6 trigrams: 1.0, 0.71, 0.5, ...)."""
    from location_summary_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    sparse = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(8))) for i in range(40)],
        "doc_id long, text string")
    graded = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 5, i % 5 + 8)))
         for i in range(40)],
        "doc_id long, text string")
    pairs = {}
    for name, docs in (("sparse", sparse), ("graded", graded)):
        for t in (0.5, 0.8):
            a = sorted(str(r) for r in ngram_jaccard_pairs(
                docs, threshold=t, max_df=None).collect())
            b = sorted(str(r) for r in ngram_jaccard_pairs_prefix(
                docs, threshold=t).collect())
            assert a == b, (name, t)
            pairs[name, t] = len(a)
    # the graded corpus exercises both thresholds non-trivially
    assert 0 < pairs["graded", 0.8] < pairs["graded", 0.5], pairs


def test_fixed_point_aggregates_exact_and_order_free(spark):
    # The fixed-point policy's core claim: unit sums equal the exact
    # decimal result bit-for-bit and do not move under repartitioning,
    # where the float sum is partition-order-dependent in principle.
    from decimal import Decimal

    from location_summary_etl_spark.functions.scalars import (
        avg_fixed_point,
        sum_fixed_point,
    )

    vals = [round(((i * 2654435761) % 100000) / 100.0, 2)
            for i in range(1, 4001)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    exact_sum = sum(Decimal(f"{v:.2f}") for v in vals)
    exact_avg = exact_sum / len(vals)

    for parts in (1, 7, 32):
        row = (df.repartition(parts)
               .agg(sum_fixed_point("v", 2, 2).alias("s"),
                    avg_fixed_point("v", 2, 4).alias("a"))
               .collect()[0])
        assert Decimal(f"{row['s']:.2f}") == exact_sum
        assert abs(row["a"] - float(exact_avg)) < 5e-5
        # determinism: byte-identical across partitionings
        if parts == 1:
            base = (row["s"], row["a"])
        else:
            assert (row["s"], row["a"]) == base
