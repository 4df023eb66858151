"""Text analysis operators for LLM-training-data pipelines: language
ID (n-gram heuristic), quality scoring, token counting, and document
fingerprinting (BASELINE.json north star).

Everything is Catalyst expressions over ``split``/higher-order array
functions -- JVM-side, whole-stage-codegen, no Python UDFs -- and every
construct has an exact DuckDB translation for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    portable_hash32,
    round_portable,
)
from location_summary_etl_spark.functions.texts import (
    STOPWORDS,
    char_shingles,
    tokens,
)

# Character trigrams that dominate English text -- the n-gram profile
# for the language-ID heuristic.  (With real multilingual corpora this
# would be a per-language profile table broadcast into the join.)
EN_TRIGRAMS = ["the", "he ", " th", "ing", "and"]


def _count_in_array(arr: Column, value: str) -> Column:
    return F.size(F.filter(arr, lambda x: x == F.lit(value)))


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-doc token statistics + a 0-100 quality score.

    Quality = 50 * unique-token ratio + 50 * capped length ratio --
    a deterministic stand-in for fastText-style quality classifiers,
    with the same plan shape (narrow projection, no shuffle at all).
    """
    # Tokenize ONCE into a column; the dozen downstream expressions then
    # reference the materialized array instead of each re-running split
    # (see functions.texts.ngrams_from_tokens on per-expression
    # re-evaluation).
    from location_summary_etl_spark.session import ensure_parallelism

    base = ensure_parallelism(docs, by=id_col).select(
        F.col(id_col),
        F.length(text_col).alias("_chars"),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    stop_hits = sum(_count_in_array(toks, w) for w in STOPWORDS)
    avg_len = (F.col("_chars") - (n_tokens - 1)) / n_tokens
    quality = (
        F.lit(50.0) * n_unique / n_tokens
        + F.lit(50.0) * F.least(n_tokens, F.lit(200)) / F.lit(200.0)
    )
    return base.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique_tokens"),
        round_portable(avg_len, 4).alias("avg_token_len"),
        stop_hits.alias("stopword_hits"),
        round_portable(stop_hits / n_tokens, 4).alias("stopword_ratio"),
        round_portable(quality, 2).alias("quality_score"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Character-trigram language heuristic: fraction of the doc's
    trigrams that hit the English profile; >= 2% -> 'en'."""
    from location_summary_etl_spark.session import ensure_parallelism

    base = ensure_parallelism(docs, by=id_col).select(
        F.col(id_col), F.col("lang"),
        char_shingles(text_col, 3).alias("_tris"),  # build shingles once
    )
    tris = F.col("_tris")
    hits = sum(_count_in_array(tris, t) for t in EN_TRIGRAMS)
    n = F.size(tris)
    conf = F.when(n > 0, hits / n).otherwise(F.lit(0.0))
    return base.select(
        F.col(id_col),
        F.col("lang").alias("declared_lang"),
        round_portable(conf, 4).alias("en_confidence"),
        F.when(conf >= 0.02, F.lit("en")).otherwise(F.lit("other"))
        .alias("lang_guess"),
    )


def vocab_top_tokens(docs: DataFrame, text_col: str = "text",
                     k: int = 20) -> DataFrame:
    """Global top-k tokens by document frequency (ties broken by token
    text).  The explode->groupBy is partial-aggregated map-side; the
    top-k is ``orderBy().limit(k)`` -> TakeOrderedAndProject, i.e. each
    partition keeps its local top-k and the driver merges k-row heaps --
    no partition ever holds more than k vocab rows (vs a global-window
    row_number, which funnels the whole vocabulary through ONE
    partition).  The rank is then re-derived over just the k survivors.
    """
    from pyspark.sql import Window

    from location_summary_etl_spark.session import ensure_parallelism

    topk = (
        ensure_parallelism(docs)
        .select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(k)
    )
    # Window over <= k rows (post-limit), not the vocabulary.
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select("rk", "tok", "n")
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: the minimum 32-bit hash over all
    k-char shingles (one representative hash per doc; equal fingerprints
    => high overlap candidates), plus the distinct-shingle count.

    The distinct set is PER-DOC, so it never needs a shuffle: a doc's
    shingles all live in its own row, and ``array_distinct`` + ``size``
    resolve the count map-side before the explode.  The exchange then
    carries one partial (min-hash, count) row per (partition, doc) --
    MIN is duplicate-insensitive and combines map-side -- instead of
    the millions of (id, hash) rows a distinct-staged aggregate
    shuffles.  At corpus scale that is the difference between an
    aggregate-sized exchange and re-shuffling the whole shingle stream.

    Shingles explode to scalar rows and are hashed THERE -- md5 on a
    scalar column is whole-stage-codegen'd, while hashing inside an
    array transform lambda runs interpreted per element (measured ~4x
    on this operator: md5 of every k-char window dominates).  The
    distinct count rides the generator input as (shingle, count) pairs
    (arrays_zip), keeping the explode input a NON-attribute and so
    exempt from InferFiltersFromGenerate (see
    operators.dedup._posting_hashes).

    r12: the distinct-shingle array is PROJECTED ONCE below the
    explode instead of inlined three times into the generator input
    (arrays_zip(dsh, array_repeat(size(dsh), size(dsh))) re-ran the
    whole shingle transform + array_distinct per reference --
    GenerateExec evaluates its input without the codegen
    subexpression elimination a Project gets).  CollapseProject
    leaves the alias alone (non-cheap, referenced 3x), and the
    generator input stays a non-attribute (the arrays_zip), so the
    InferFiltersFromGenerate exemption holds.  Measured with the
    hash-partition change below (OPTIMIZATION_r12.md change #2,
    interleaved min-of-8 at sf0.1): inline+round-robin 0.732 s,
    projected+round-robin 0.623 s, projected+hash 0.265 s -- same
    result multiset, one exchange deleted (groupBy(doc_id) reuses the
    ensure_parallelism hash partitioning).
    """
    from location_summary_etl_spark.functions.scalars import portable_hash32
    from location_summary_etl_spark.session import ensure_parallelism

    packed = F.explode(
        F.arrays_zip(
            F.col("_dsh"),
            F.array_repeat(F.size("_dsh"), F.size("_dsh")))
    )
    return (
        ensure_parallelism(docs, by=id_col)
        .select(
            F.col(id_col),
            F.array_distinct(char_shingles(text_col, k)).alias("_dsh"),
        )
        .select(F.col(id_col), packed.alias("_z"))
        .select(
            F.col(id_col),
            portable_hash32(F.col("_z")["_dsh"]).alias("_h"),
            F.col("_z")["1"].alias("_nd"),
        )
        .groupBy(id_col)
        .agg(
            F.min("_h").alias("fingerprint"),
            F.min("_nd").cast("int").alias("n_distinct_shingles"),
        )
    )


def _max_run(sorted_arr: Column) -> Column:
    """Maximum run length in an ALREADY-SORTED string array — i.e. the
    count of the most frequent element, computed in one linear pass.

    The naive per-element count (for each distinct w: size(filter(arr,
    x = w))) is O(n^2) interpreted lambda work per document; sort +
    run-length is O(n log n) with an O(n) fold, which keeps the whole
    operator map-side at any corpus scale (the alternative — explode +
    two-level count aggregate — is exact too but shuffles the entire
    token stream twice).
    """
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc: Column, w: Column) -> Column:
        run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def doc_quality_rules(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_words: int = 20, min_ttr: float = 0.30,
                      max_top_word_frac: float = 0.15,
                      min_mean_len: float = 3.0,
                      max_mean_len: float = 8.0) -> DataFrame:
    """Gopher/C4-style document quality gates: per-doc repetition and
    shape statistics plus the keep/drop verdict a pre-training corpus
    filter applies before dedup.

    Columns: n_words, ttr (type-token ratio), top_word_frac (most
    frequent word's share), top_bigram_frac (most frequent word
    bigram's share — the Gopher duplicate-2-gram fraction),
    mean_word_len, keep.

    Scale design: the entire operator is ONE map-side projection —
    every statistic folds over the doc's own token array (sorted
    run-length for the top-element counts, see :func:`_max_run`), so
    there is no explode, no shuffle, and no aggregate at any corpus
    size; Catalyst fuses it into the scan.  The reference's analogous
    move is pushing row-shaping into the warehouse scan
    (/root/reference/src/main/scala/App.scala:37-40).
    """
    from location_summary_etl_spark.functions.texts import ngrams_from_tokens

    toks = tokens(text_col)
    base = docs.select(F.col(id_col), toks.alias("_toks"))
    n_words = F.size("_toks")
    sum_len = F.aggregate(
        F.col("_toks"), F.lit(0).cast("bigint"),
        lambda a, w: a + F.length(w))
    bigrams = ngrams_from_tokens(F.col("_toks"), 2)
    stats = base.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        round_portable(
            F.size(F.array_distinct("_toks")) / n_words, 4).alias("ttr"),
        round_portable(
            _max_run(F.array_sort("_toks")) / n_words, 4
        ).alias("top_word_frac"),
        F.when(
            F.size(bigrams) > 0,
            round_portable(
                _max_run(F.array_sort(bigrams)) / F.size(bigrams), 4),
        ).alias("top_bigram_frac"),
        round_portable(sum_len / n_words, 4).alias("mean_word_len"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("ttr") >= min_ttr)
        & (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("mean_word_len") >= min_mean_len)
        & (F.col("mean_word_len") <= max_mean_len)
    )
    return stats.withColumn("keep", keep)
