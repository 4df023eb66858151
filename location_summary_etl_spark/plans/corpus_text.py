"""Text-analysis corpus: oracle-paired queries over documents."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from location_summary_etl_spark.functions.texts import STOPWORDS, tokens
from location_summary_etl_spark.operators.textstats import (
    EN_TRIGRAMS,
    doc_fingerprints,
    lang_id,
    token_stats,
    vocab_top_tokens,
)
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.sources.registry import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


_STOP_HITS = " + ".join(
    f"len(list_filter(toks, x -> x = '{w}'))" for w in STOPWORDS
)

register("text_token_stats", text_token_stats, f"""
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
s AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique_tokens,
           CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_len,
           ({_STOP_HITS}) AS stopword_hits
    FROM t
)
SELECT doc_id,
       n_tokens,
       n_unique_tokens,
       round(CAST(avg_len AS DOUBLE), 4) AS avg_token_len,
       stopword_hits,
       round(CAST(stopword_hits AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       round(CAST(50.0 * n_unique_tokens / n_tokens
             + 50.0 * least(n_tokens, 200) / 200.0 AS DOUBLE), 2) AS quality_score
FROM s
""")


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


_TRI_HITS = " + ".join(
    f"len(list_filter(tris, x -> x = '{t}'))" for t in EN_TRIGRAMS
)

register("text_lang_id", text_lang_id, f"""
WITH t AS (
    SELECT doc_id, lang,
           list_transform(generate_series(1, greatest(length(text) - 2, 0)),
                          i -> substr(text, CAST(i AS INT), 3)) AS tris
    FROM documents
),
s AS (
    SELECT doc_id, lang,
           CASE WHEN len(tris) > 0
                THEN CAST(({_TRI_HITS}) AS DOUBLE) / len(tris)
                ELSE 0.0 END AS conf
    FROM t
)
SELECT doc_id,
       lang AS declared_lang,
       round(CAST(conf AS DOUBLE), 4) AS en_confidence,
       CASE WHEN conf >= 0.02 THEN 'en' ELSE 'other' END AS lang_guess
FROM s
""")


def text_vocab_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_top_tokens(_docs(spark, sf_dir), k=20)


register("text_vocab_top20", text_vocab_top20, """
WITH c AS (
    SELECT tok, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ) GROUP BY tok
)
SELECT rk, tok, n FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INT) AS rk, tok, n
    FROM c
)
WHERE rk <= 20
""")


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir), k=8)


register("text_fingerprints", text_fingerprints, """
-- Docs shorter than k chars have no shingles and are dropped, same as
-- the other shingle-based operators (explode semantics in Spark).
-- The distinct count is over shingle STRINGS (the per-doc set the
-- Spark side resolves map-side); the fingerprint is the min hash over
-- that set, identical to the min over the multiset.
WITH s AS (
    SELECT doc_id, substr(text, CAST(i AS INT), 8) AS sh
    FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS t(i)
)
SELECT doc_id,
       MIN(CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT)) AS fingerprint,
       CAST(COUNT(DISTINCT sh) AS INT) AS n_distinct_shingles
FROM s GROUP BY doc_id
""")


# ----------------------------------------------------------- TF-IDF
TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf
    (tf * ln(N / df)) -- the classic keyword/topic extraction pass a
    corpus-analysis pipeline runs.

    Plan shape: one explode -> (doc, tok) count aggregate gives tf; the
    document-frequency table derives FROM the tf relation (one row per
    (doc, tok) already) with a second, vocabulary-sized aggregate, and
    broadcasts back onto tf -- the corpus-wide token stream shuffles
    once, df rides a broadcast.  N is a one-row aggregate broadcast
    in-plan.  Ranking is over ROUNDED scores (6dp) with token
    tie-break, so float noise in ln cannot reorder ranks across
    engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from location_summary_etl_spark.functions.scalars import round_portable
    from location_summary_etl_spark.functions.texts import tokens
    from location_summary_etl_spark.session import ensure_parallelism

    docs = _docs(spark, sf_dir)
    tf = (
        # hash-widened on doc_id (r12): groupBy(doc_id, tok) below
        # reuses the partitioning -- ClusteredDistribution is satisfied
        # by any subset of the keys -- so the tf aggregate's exchange
        # disappears (measured 0.978 -> 0.577 s at sf0.1, interleaved;
        # OPTIMIZATION_r12.md change #1).  r13: width bounded at 64 KB of
        # source per task (the signature-pipeline tiny-task curve,
        # operators/dedup.SIGNATURE_TASK_TARGET_BYTES note): full-width
        # 0.451-0.487 s vs bounded 0.324-0.354 s across settled
        # interleaved rounds -- the explode+count work here is light
        # per byte, so 18 KB tasks pay more fixed cost than they buy.
        ensure_parallelism(docs.select("doc_id", "text"), by="doc_id",
                           target_task_bytes=64 * 1024)
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            round_portable(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "tok", "tfidf")
    )


register("text_tfidf_top_terms", text_tfidf_top_terms, f"""
WITH tf AS (
    SELECT doc_id, tok, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY doc_id, tok
),
df_t AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, tf.tok,
           round(CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DOUBLE), 6)
               AS tfidf
    FROM tf JOIN df_t ON tf.tok = df_t.tok CROSS JOIN n
)
SELECT doc_id, rk, tok, tfidf FROM (
    SELECT doc_id, tok, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS INT) AS rk
    FROM scored
)
WHERE rk <= {TFIDF_TOP_K}
""")


# ----------------------------------------------------------- PII scrub
# The synthetic corpus carries no real PII, so the query PLANTS
# deterministic PII derived from doc_id (same expression in both
# engines), then scrubs and audits it -- exercising the full
# redact-cascade with exact oracle parity.  Patterns are RE2-compatible
# (functions.texts.PII_PATTERNS): no lookaround, so Java regex (Spark)
# and RE2 (DuckDB) agree.
_PII_SYNTH_SPARK = (
    "concat('contact user', cast(doc_id as string), '@example.com"
    " ssn 123-45-', lpad(cast(doc_id % 10000 as string), 4, '0'),"
    " ' ip 10.0.', cast(doc_id % 256 as string), '.',"
    " cast(doc_id % 100 as string),"
    " ' call +1 302 555 ', lpad(cast(doc_id % 10000 as string), 4, '0'),"
    " CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END,"
    " ' ', text)"
)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII audit: plant synthetic email/SSN/IP/phone
    tokens, count matches per kind on the progressively-scrubbed text
    (so the specific kinds win over the broad phone pattern), and
    return the redacted prefix.

    Plan shape: one scan, one codegen'd projection of chained
    ``regexp_replace`` / ``regexp_extract_all`` -- no shuffle, no
    Python; at 100 TB this runs at scan speed inside whatever stage
    already touches the text (the same property corpus_clean relies
    on)."""
    from pyspark.sql import functions as F

    from location_summary_etl_spark.functions.texts import (
        pii_counts,
        scrub_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select("doc_id", F.expr(_PII_SYNTH_SPARK).alias("t"))
    counts = pii_counts("t")
    return synth.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{k}") for k, c in counts.items()],
        F.substring(scrub_pii("t"), 1, 60).alias("clean_prefix"),
    )


def _pii_scrub_sql() -> str:
    """Oracle: the same plant -> count -> scrub cascade, generated from
    the shared PII_PATTERNS/PII_ORDER constants so the two definitions
    cannot drift."""
    from location_summary_etl_spark.functions.texts import (
        PII_ORDER,
        PII_PATTERNS,
    )

    synth = (
        "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
        " ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'"
        " || CAST(doc_id % 100 AS VARCHAR)"
        " || ' call +1 302 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END"
        " || ' ' || text"
    )
    ctes = [f"synth AS (SELECT doc_id, {synth} AS t0 FROM documents)"]
    prev = "synth"
    for i, kind in enumerate(PII_ORDER):
        pat = PII_PATTERNS[kind]
        ctes.append(
            f"s{i} AS (SELECT *,"
            f" CAST(len(regexp_extract_all(t{i}, '{pat}')) AS BIGINT)"
            f" AS n_{kind},"
            f" regexp_replace(t{i}, '{pat}', '<{kind.upper()}>', 'g')"
            f" AS t{i + 1} FROM {prev})"
        )
        prev = f"s{i}"
    n_cols = ", ".join(f"n_{k}" for k in PII_ORDER)
    last = len(PII_ORDER)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {n_cols},"
        f" substr(t{last}, 1, 60) AS clean_prefix FROM {prev}"
    )


register("text_pii_scrub", text_pii_scrub, _pii_scrub_sql())


def text_approx_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory frequent-items via Spark 4's ``approx_top_k``
    sketch aggregate -- the mergeable-sketch path for when an exact
    token groupBy's state would blow past executor memory (each task
    tracks maxItemsTracked counters; partials merge associatively, so
    the shuffle carries one sketch per partition, not one row per
    distinct token).

    Accuracy contract (hardened r6 per the r5 verdict): the OUTPUT row
    is computed from the EXACT aggregate -- engine-version- and
    merge-order-proof -- while the sketch executes on the asserted
    side.  The previous formulation emitted from the sketch and only
    proved each *surfaced* count equaled its exact count, which left a
    hole: under merge-order pressure a sketch can surface a non-top-k
    item whose count is perfectly exact, silently changing
    sum_topk/min_topk.  The in-plan guard now compares the sketch's
    sorted top-k count multiset against the exact top-k's (tie-robust:
    boundary ties have equal counts, so which tied token the sketch
    surfaces cannot change the multiset) and ``raise_error``s the query
    on any divergence.  At corpus scale the guard comes off and the
    error bound is the sketch's documented epsilon."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    k = 20
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    exact_topk = (
        toks.groupBy("tok").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok").limit(k)
    )
    exact_row = exact_topk.agg(
        F.count("*").alias("k_items"),
        F.sum("c").alias("sum_topk"),
        F.min("c").alias("min_topk"),
        F.sort_array(F.collect_list("c")).alias("exact_counts"),
    )
    sketch_row = (
        toks.agg(F.expr(f"approx_top_k(tok, {k}, 10000)").alias("top"))
        .select(F.explode("top").alias("e"))
        .agg(F.sort_array(F.collect_list("e.count")).alias("sketch_counts"))
    )
    return exact_row.crossJoin(sketch_row).select(
        F.when(F.col("exact_counts") == F.col("sketch_counts"),
               F.col("k_items"))
        .otherwise(F.raise_error(
            "approx_top_k top-k count multiset diverged from exact"))
        .alias("k_items"),
        "sum_topk",
        "min_topk",
    )


register("text_approx_topk_sketch", text_approx_topk_sketch, """
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
topk AS (SELECT c FROM counts ORDER BY c DESC, tok LIMIT 20)
SELECT COUNT(*) AS k_items,
       CAST(SUM(c) AS BIGINT) AS sum_topk,
       MIN(c) AS min_topk
FROM topk
""")
