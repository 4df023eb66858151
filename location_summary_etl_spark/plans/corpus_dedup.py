"""Dedup corpus: oracle-paired queries over the documents/embeddings
tables for every dedup family (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine).

The DuckDB oracle SQL is *generated from the same constants*
(MINHASH_COEFFS, MINHASH_PRIME, band layout) as the Spark operators,
so signatures match bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from location_summary_etl_spark.operators.dedup import (
    NGRAM_STAGE_SOURCE_FLOOR,
    DEFAULT_MAX_BUCKET,
    DEFAULT_MAX_DF,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    SIMHASH_BITS,
    embedding_near_dups_pandas,
    exact_dedup,
    minhash_near_dups,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash_near_dups,
    simhash_signatures,
)
from location_summary_etl_spark.plans.corpus import register
from location_summary_etl_spark.sources.registry import load_table

# ------------------------------------------------------------------ SQL
# Shared oracle fragments (DuckDB dialect), built from the operator
# constants.

# Word-3gram shingles (SHINGLE_NGRAM) -- must mirror
# operators.dedup._posting_hashes exactly.
#
# AS MATERIALIZED on the multiply-referenced CTEs (sig x6, bands/tri/
# tri2/cnt/blocks/e x2-3): DuckDB INLINES plain CTEs, so without the
# hint every reference re-runs the whole shingle pipeline (parquet
# scan -> UNNEST -> 150M-row DISTINCT -> minhash aggregate) as its own
# concurrent plan tower.  At sf0.01 that is invisible; at the sf10
# soak tier the six concurrent ~15 GB DISTINCT spills exceeded any
# temp grant the volume could back (measured: >64 GiB and still
# growing, vs 26 s / <20 GB for the identical pipeline evaluated
# once).  The hint is a DuckDB evaluation directive, not a semantic
# change -- results are bitwise identical, driver-gate verified.
_TOKENS_CTE = """
words AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
tok AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tok
        FROM words, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
    )
),
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM tok
)
"""

_MINHASH_AGGS = ",\n           ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS m{i}"
    for i, (a, b) in enumerate(MINHASH_COEFFS)
)

_SIG_CTE = f"""
sig AS MATERIALIZED (
    SELECT doc_id,
           {_MINHASH_AGGS}
    FROM th GROUP BY doc_id
)
"""


def _band_select(side: str) -> str:
    parts = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        parts.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_sig FROM sig"
        )
    return "\nUNION ALL\n".join(parts)


MINHASH_SIG_SQL = f"""
WITH {_TOKENS_CTE}, {_SIG_CTE}
SELECT * FROM sig
"""

_EST_JACCARD = " + ".join(
    f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
    for i in range(len(MINHASH_COEFFS))
)

def minhash_near_dup_sql(threshold: float) -> str:
    """Oracle SQL for minhash_near_dups at ``threshold`` (est Jaccard
    is k/16 -- exact in doubles, so rounded-vs-raw comparison cannot
    straddle the threshold in either engine)."""
    return f"""
WITH {_TOKENS_CTE}, {_SIG_CTE},
bands AS MATERIALIZED (
{_band_select('x')}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(CAST(({_EST_JACCARD}) / {float(len(MINHASH_COEFFS))} AS DOUBLE), 4) AS est_jaccard
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
WHERE ({_EST_JACCARD}) / {float(len(MINHASH_COEFFS))} >= {threshold}
"""


MINHASH_NEAR_DUP_SQL = minhash_near_dup_sql(0.5)

# Skew-cap constants for the *_capped corpus entries.  Values chosen to
# BITE at the correctness-gate scale (sf0.01: trigram df reaches 7,
# so max_df=5 actually drops grams; same for LSH buckets) -- a cap
# that never fires would make the oracle pair vacuous.
NGRAM_MAX_DF = 5
MINHASH_MAX_BUCKET = 5


def minhash_near_dup_capped_sql(threshold: float, max_bucket: int) -> str:
    """Oracle for minhash_near_dups(max_bucket=...): buckets wider than
    ``max_bucket`` are removed before candidate generation -- the df
    filter runs on the SAME banded relation the candidate join uses,
    mirroring the Spark anti-join exactly."""
    return f"""
WITH {_TOKENS_CTE}, {_SIG_CTE},
bands AS MATERIALIZED (
{_band_select('x')}
),
bc AS (
    SELECT band, band_sig, COUNT(*) AS c FROM bands GROUP BY band, band_sig
),
bands2 AS (
    SELECT bands.doc_id, bands.band, bands.band_sig
    FROM bands JOIN bc USING (band, band_sig)
    WHERE bc.c <= {max_bucket}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands2 a JOIN bands2 b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(CAST(({_EST_JACCARD}) / {float(len(MINHASH_COEFFS))} AS DOUBLE), 4) AS est_jaccard
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
WHERE ({_EST_JACCARD}) / {float(len(MINHASH_COEFFS))} >= {threshold}
"""

_VOTES = ",\n           ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SIM_RECON = " + ".join(
    f"CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
)

SIMHASH_SIG_SQL = f"""
WITH {_TOKENS_CTE},
votes AS (
    SELECT doc_id,
           {_VOTES}
    FROM th GROUP BY doc_id
)
SELECT doc_id, CAST({_SIM_RECON} AS BIGINT) AS simhash FROM votes
"""

SIMHASH_NEAR_DUP_SQL = f"""
WITH {_TOKENS_CTE},
votes AS (
    SELECT doc_id,
           {_VOTES}
    FROM th GROUP BY doc_id
),
sim AS (SELECT doc_id, CAST({_SIM_RECON} AS BIGINT) AS simhash FROM votes),
blocks AS MATERIALIZED (
    SELECT doc_id, simhash, blk,
           (simhash >> (8 * blk)) & 255 AS blk_val
    FROM sim, (SELECT unnest([0, 1, 2, 3]) AS blk)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocks a JOIN blocks b
  ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""

def ngram_jaccard_sql(threshold: float) -> str:
    """UNCAPPED n-gram Jaccard oracle at ``threshold`` -- the semantic
    both the uncapped aggregate form and the prefix-filtered form
    emit."""
    return f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
tri AS MATERIALIZED (
    -- Distinct on the gram STRING, then a 60-bit hash, mirroring the
    -- Spark operator exactly (array_distinct on grams map-side, hash
    -- post-explode): the inverted index carries longs in both engines.
    SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g
    FROM (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
    )
),
cnt AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(shared / (ca.n + cb.n - shared) AS DOUBLE), 4) AS jaccard
FROM shared
JOIN cnt ca ON id_a = ca.doc_id
JOIN cnt cb ON id_b = cb.doc_id
WHERE round(CAST(shared / (ca.n + cb.n - shared) AS DOUBLE), 4) >= {threshold}
"""


NGRAM_JACCARD_SQL = ngram_jaccard_sql(0.5)

def ngram_jaccard_capped_sql(threshold: float, max_df: int) -> str:
    """Oracle for ngram_jaccard_pairs(max_df=...): grams with document
    frequency above ``max_df`` leave the gram universe entirely --
    per-doc sizes (cnt) are recomputed over the SURVIVING postings so
    the Jaccard denominator matches the Spark operator's regrouped
    sizes."""
    return f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
tri AS MATERIALIZED (
    SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g
    FROM (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS t(i)
    )
),
df AS (SELECT g, COUNT(*) AS c FROM tri GROUP BY g),
tri2 AS MATERIALIZED (
    SELECT tri.doc_id, tri.g FROM tri JOIN df USING (g) WHERE df.c <= {max_df}
),
cnt AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM tri2 GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM tri2 a JOIN tri2 b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(shared / (ca.n + cb.n - shared) AS DOUBLE), 4) AS jaccard
FROM shared
JOIN cnt ca ON id_a = ca.doc_id
JOIN cnt cb ON id_b = cb.doc_id
WHERE round(CAST(shared / (ca.n + cb.n - shared) AS DOUBLE), 4) >= {threshold}
"""


EMBEDDING_NEAR_DUP_SQL = """
WITH e AS MATERIALIZED (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DOUBLE), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND round(CAST(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS DOUBLE), 6) >= 0.4
"""

EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_digest,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ----------------------------------------------------------- queries
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir), ["text"], "doc_id")


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Default configuration = skew cap ON (DEFAULT_MAX_BUCKET): the
    # 100 TB-safe plan is the headline entry; the oracle mirrors the
    # cap at the same value (it never fires at bench scale -- max
    # organic bucket is 25 at sf0.1 -- so results equal the uncapped
    # form, but the SQL shape is the faithful one).
    return minhash_near_dups(_docs(spark, sf_dir), threshold=0.5)


def dedup_minhash_lsh_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicitly uncapped variant: no bucket census, one fewer pass.
    # Only for pre-exact-deduped corpora with a known gram head.
    return minhash_near_dups(_docs(spark, sf_dir), threshold=0.5,
                             max_bucket=None)


def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_docs(spark, sf_dir))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(_docs(spark, sf_dir), max_hamming=6)


def _ngram_scratch(sf_dir: str) -> int | str:
    """Scratch-stripe gate for the n-gram pair shuffle: a driver-side
    FILE STAT (gates.path_fits -- no Spark job) keeps the exact bench
    plan while the documents source is provably tiny, and switches to
    the census-priced striped mode (operators/dedup.py scratch note:
    measured ~290x pair-shuffle blowup at sf1 growing to ~1000x at
    sf10, where the single-pass plan ENOSPC'd a 252 GB volume) once
    the source crosses the floor.  False/unlistable stats take the
    safe-at-any-size branch, per the gate contract."""
    from location_summary_etl_spark.operators.gates import path_fits
    from location_summary_etl_spark.sources.registry import table_path

    small = path_fits(table_path(sf_dir, "documents"),
                      cap_bytes=NGRAM_STAGE_SOURCE_FLOOR)
    return 1 if small else "auto"


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Default configuration = heavy-gram cap ON (DEFAULT_MAX_DF); the
    # oracle mirrors the cap at the same value (never fires at bench
    # scale, max trigram df is 25 at sf0.1).
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5,
                               scratch_passes=_ngram_scratch(sf_dir))


def dedup_ngram_jaccard_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicitly uncapped: two-exchange plan, no df census (until the
    # source crosses the scratch floor -- then the census prices the
    # FULL quadratic pair volume, ~167 GB at sf10).
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5,
                               max_df=None,
                               scratch_passes=_ngram_scratch(sf_dir))


def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Prefix-filtered set-similarity join: same result set as
    # dedup_ngram_jaccard (verification is exact), same oracle SQL.
    return ngram_jaccard_pairs_prefix(_docs(spark, sf_dir), n=3, threshold=0.5)


NGRAM_AUTO_THRESHOLD = 0.7


def dedup_ngram_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Uncapped aggregate form at t=0.7: ``max_df=None`` pairs it with
    # the uncapped exact-Jaccard oracle.
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3,
                               threshold=NGRAM_AUTO_THRESHOLD, max_df=None,
                               scratch_passes=_ngram_scratch(sf_dir))


def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BITING cap (fires at sf0.01) through the census strategy, so the
    # never-materialize plan stays oracle-tested; the headline entry
    # covers the default filter strategy.
    return minhash_near_dups(
        _docs(spark, sf_dir), threshold=0.5, max_bucket=MINHASH_MAX_BUCKET,
        cap_mode="census")


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Biting heavy-gram cap through the census strategy (see above).
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5, max_df=NGRAM_MAX_DF,
        cap_mode="census", scratch_passes=_ngram_scratch(sf_dir))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The numpy block backend: bit-exact with embedding_near_dups and
    # the oracle (sequential-fold accumulation), ~5x faster per block.
    return embedding_near_dups_pandas(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


register("dedup_exact", dedup_exact, EXACT_DEDUP_SQL)
register("dedup_minhash_signatures", dedup_minhash_signatures, MINHASH_SIG_SQL)
# Headline entries run the default (capped) configuration; their
# oracles carry the SAME cap so the SQL is the semantic mirror, not
# just value-equal at this scale.
register("dedup_minhash_lsh", dedup_minhash_lsh,
         minhash_near_dup_capped_sql(0.5, DEFAULT_MAX_BUCKET))
register("dedup_simhash_signatures", dedup_simhash_signatures, SIMHASH_SIG_SQL)
register("dedup_simhash_pairs", dedup_simhash_pairs, SIMHASH_NEAR_DUP_SQL)
register("dedup_ngram_jaccard", dedup_ngram_jaccard,
         ngram_jaccard_capped_sql(0.5, DEFAULT_MAX_DF))
register("dedup_ngram_jaccard_auto", dedup_ngram_jaccard_auto,
         ngram_jaccard_sql(NGRAM_AUTO_THRESHOLD))
register("dedup_ngram_jaccard_prefix", dedup_ngram_jaccard_prefix,
         NGRAM_JACCARD_SQL)
register("dedup_minhash_lsh_uncapped", dedup_minhash_lsh_uncapped,
         MINHASH_NEAR_DUP_SQL)
register("dedup_ngram_jaccard_uncapped", dedup_ngram_jaccard_uncapped,
         NGRAM_JACCARD_SQL)
register("dedup_minhash_lsh_capped", dedup_minhash_lsh_capped,
         minhash_near_dup_capped_sql(0.5, MINHASH_MAX_BUCKET))
register("dedup_ngram_jaccard_capped", dedup_ngram_jaccard_capped,
         ngram_jaccard_capped_sql(0.5, NGRAM_MAX_DF))
register("dedup_embedding_cosine", dedup_embedding_cosine, EMBEDDING_NEAR_DUP_SQL)
