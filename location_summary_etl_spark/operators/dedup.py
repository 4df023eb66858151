"""Deduplication operators for LLM-training-data pipelines.

Five families (BASELINE.json north star), all pure DataFrame plans --
no UDFs, no driver loops -- so they scale with the cluster:

- **exact**: hash-groupBy on content digest. The shuffle key is
  md5(content), not the content itself, so a 100 TB corpus shuffles
  32-byte keys instead of documents.
- **MinHash + LSH**: shingle -> portable 32-bit hash -> K permutation
  min-hashes -> banded LSH bucket join -> candidate pairs + estimated
  Jaccard. Candidate generation is a self-equi-join on (band, band
  signature): at scale each bucket is tiny, so the join is a sparse
  shuffle, never the O(n^2) cross product.
- **SimHash**: per-token hash bit-vote -> 32-bit signature; near-dup
  candidates via pigeonhole banding on signature blocks + popcount
  (Hamming) filter.
- **n-gram Jaccard**: exact Jaccard over distinct word n-grams for
  pairs sharing at least one n-gram (inverted-index join).
- **embedding cosine**: exact cosine over a blocking key (label /
  cluster id), pairs above threshold.

All hashes go through ``portable_hash32`` (md5-prefix) so the DuckDB
oracle can reproduce every signature bit-for-bit.
"""

from __future__ import annotations

import logging
import math
import os

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import (
    portable_hash32,
    portable_hash60,
    round_portable,
)
from location_summary_etl_spark.functions.texts import (
    ngrams_from_tokens,
    tokens,
)

# Fixed MinHash permutation coefficients (seed=42, hardcoded so Spark
# and the DuckDB oracle share them). h_i(x) = (a_i*x + b_i) mod P with
# a_i,b_i < 2^30 and x < 2^32, so a_i*x < 2^62 never overflows int64.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (686579304, 239081663), (26855093, 590620971), (262950629, 479341423),
    (149827707, 220106707), (726600540, 186699713), (634036507, 906070220),
    (34126397, 63989047), (100604503, 469521477), (249817735, 56985561),
    (602632298, 427000596), (768820205, 900911954), (236696313, 964669077),
    (632719212, 597409992), (869119331, 13955983), (814763203, 342865762),
    (749621471, 907557512),
]
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
SIMHASH_BITS = 32
LSH_BANDS = 4
LSH_ROWS = 4  # bands * rows == len(MINHASH_COEFFS)

# Skew caps are ON BY DEFAULT.  A single ubiquitous shingle / LSH
# mega-bucket otherwise puts an O(k^2) pair expansion on one task --
# the classic way a near-dup job that ran fine in staging dies on the
# first real corpus.  1000 is far above any organic cluster (bench
# corpora peak at df=25) yet bounds any task's expansion at ~500k
# pairs.  Pass ``None`` explicitly to run genuinely uncapped.
DEFAULT_MAX_BUCKET = 1000
DEFAULT_MAX_DF = 1000

# Scratch discipline for the n-gram pair shuffle (r12, after the sf10
# soak died of ENOSPC inside BypassMergeSortShuffleWriter).  The
# pair-count stage shuffles ONE ROW PER (pair, shared gram): measured
# 12.0 B/occurrence at the sf1 tier (1.663 GB shuffle write for 138.4M
# occurrences, monitoring-REST stage metrics), and the occurrence count
# grows QUADRATICALLY in gram document frequency -- x100 per x10 corpus
# when df scales linearly with the corpus (sf1: 2.65M postings ->
# 138.4M occurrences; sf10: 26.5M postings -> 13.95B uncapped / 5.22B
# under the df<=1000 cap, DuckDB census of the tier).  At sf10 that is
# ~63 GB (capped) / ~167 GB (uncapped) of shuffle write from 58 MB of
# compressed parquet -- a three-orders-of-magnitude blowup no fixed
# scratch volume survives, which is exactly how the r11 sf10 soak
# filled a 252 GB disk.  ``scratch_passes="auto"`` therefore prices
# the shuffle EXACTLY (one cheap df-census aggregate, 1-row collect)
# and stripes the pair stage into K passes sized to the budget.
#
# The stripe key is the PAIR'S LOWER DOC ID (pmod of id_a), not a gram
# range.  A first design striped gram ranges and summed per-stripe
# (pair, count) partials; at the sf10 uncapped tier those partials are
# themselves pre-threshold pair sets (O(candidate pairs / K) EACH,
# ~10^9 rows here), and accumulating K of them as localCheckpoint
# blocks heap-OOM'd a 48 GB JVM before any stripe's scratch could be
# reclaimed (r12 sf10 soak, stage-106 Java heap OOM).  Keying on id_a
# fixes the accumulation structurally: every shared gram of a pair
# sits in that pair's one stripe (stripe membership is a function of
# the pair, and each stripe sees ALL buckets), so shared counts are
# COMPLETE within a stripe -- the Jaccard score and threshold apply
# per stripe, and what accumulates across stripes is the FINAL
# filtered relation, not candidate counts.  Each stripe still
# shuffles ~est/K bytes (hash-balanced over ids vs gram ranges'
# size-balanced, same estimate), and its shuffle files become
# GC-reclaimable once its slice is checkpoint-materialized.  Per-pass
# overhead is one linear re-scan of the persisted gram buckets (the
# first explode emits |postings| rows per pass; the stripe filter
# prunes BEFORE the second explode, so pair enumeration still happens
# exactly once across all passes).  K=1 is the byte-identical
# single-pass plan.
BYTES_PER_PAIR_OCC = 14          # 12.0 measured at sf1 + slack
MAX_SCRATCH_PASSES = 64
# Entry-level gate floor (plans/corpus_dedup.py): sources whose
# compressed bytes stay under this can't build a threatening pair
# shuffle (sf1's 5.8 MB -> 1.7 GB measured; the blowup grows with the
# corpus, so the floor is deliberately small), and skip the census to
# keep the bench plan untouched at bench scale.
NGRAM_STAGE_SOURCE_FLOOR = 16 * 1024 * 1024


def _scratch_budget_bytes(spark) -> int:
    """Per-stripe shuffle budget: env ``NGRAM_SCRATCH_BUDGET_GB``, or
    40% of the free space on the shuffle volume (``spark.local.dir``'s
    filesystem -- driver-visible, which equals the executor volume in
    local mode; a real cluster with heterogeneous disks should set the
    env var from its provisioned scratch)."""
    import shutil
    import tempfile

    env = os.environ.get("NGRAM_SCRATCH_BUDGET_GB")
    if env:
        return int(float(env) * 1e9)
    try:
        local = spark.conf.get("spark.local.dir", tempfile.gettempdir())
    except Exception:  # noqa: BLE001
        local = tempfile.gettempdir()
    local = local.split(",")[0]
    if not os.path.isdir(local):
        local = tempfile.gettempdir()
    return int(shutil.disk_usage(local).free * 0.4)


# ngram_jaccard_pairs packs (doc_id, n_grams) into one long so the two
# heavy aggregates (bucket collect_list, pair count) handle 8-byte
# primitives instead of structs: pk = (id << SHIFT) | n_grams.
# Bounds: 0 <= id < 2^42, distinct grams per doc < 2^21 (a 2M-gram doc
# is a multi-MB document; chunk upstream).  Violations raise at run
# time rather than silently corrupting pair identities.
_PACK_SHIFT = 21
_PACK_MASK = (1 << _PACK_SHIFT) - 1
_PACK_MAX_ID = 1 << 42


def _pack_posting(id_col: Column, n_grams: Column) -> Column:
    # cast BEFORE shifting: shiftleft preserves the input's int type, so
    # an IntegerType id would wrap mod 2^32 while the range guard below
    # still passed.
    id64 = id_col.cast("long")
    ok = (id64 >= 0) & (id64 < _PACK_MAX_ID) & (n_grams <= _PACK_MASK)
    return F.when(ok, F.shiftleft(id64, _PACK_SHIFT) + n_grams).otherwise(
        F.raise_error(F.lit(
            "ngram_jaccard_pairs: doc id or per-doc gram count exceeds "
            "the packed-posting bounds (id < 2^42, grams < 2^21)")))


def exact_dedup(df: DataFrame, content_cols: list[str],
                id_col: str) -> DataFrame:
    """Keep the lowest id per distinct content; report group size.

    GroupBy on the md5 digest of the content columns: the shuffle
    carries (digest, id) pairs, never the payload.
    """
    digest = F.md5(F.concat_ws("\x1f", *content_cols))
    return (
        df.select(F.col(id_col), digest.alias("content_digest"))
        .groupBy("content_digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


SHINGLE_NGRAM = 3  # word n-gram size for MinHash/SimHash features

# r13 (guide §2.2/§2.6, OPTIMIZATION_r13.md change #1): width bound for the
# signature pipelines' widening repartition -- one task per ~64 KB of
# source text, cores-capped.  The 3-gram shingle+md5+minhash stage
# measures ~1.5 us/byte of real work, so a 64 KB task carries ~100 ms
# of compute vs the ~4 ms/task fixed cost that made 32 tasks of 18 KB
# SLOWER than 8 tasks of 74 KB (stage executorRunTime 6838 ms at
# width 32 vs 910 ms at width 8 for identical work; query 0.648 ->
# 0.549 s, flat across widths 8-16).  The n-gram Jaccard operators
# measured width-INDIFFERENT (0.934 vs 0.939 -- their cost is the
# pair stage), so they keep the default full width and their plans
# byte-stable; the 8-char-shingle fingerprint pipeline measured the
# OPPOSITE (0.275 at 32 vs 0.533 at 8: ~4x heavier per byte), so this
# constant deliberately does not reach it.  At any real tier
# bytes/64KB far exceeds the core cap and the bound is inert.
SIGNATURE_TASK_TARGET_BYTES = 64 * 1024

# r13: width pin for the n-gram PAIR stage (guide §2.4/§2.6).  AQE
# parallelism-first coalescing sizes the gram-bucket shuffle by BYTES
# (4.4 MB at sf0.1 -> 4 post-shuffle partitions), but the work above
# that exchange is the quadratic in-bucket pair expansion -- REST
# stage metrics measure it at ~1.5 s executorRunTime on 4 tasks while
# 28 cores idle.  Hash-repartitioning the postings by gram BELOW the
# bucket aggregate (REPARTITION_BY_NUM: coalescing-exempt, and
# HashPartitioning(g) satisfies the aggregate's distribution so the
# exchange count is unchanged) runs the expansion data-proportionally
# wide.  None disables the pin (the r12 shape).  Value decided by
# OPTIMIZATION_r13.md change #2: 64 KB (width 10 at sf0.1) measured
# capped 0.863 -> 0.621 s / uncapped 0.674 -> 0.608 s, beating head in
# every interleaved round; 32 KB within noise of 64 KB; 16 KB (full 32
# fan-out) worse -- the same tiny-task fixed-cost curve the signature
# pipelines measured.  The single-phase aggregate ships raw 16 B
# postings (~3x the partial-list bytes locally, where the "network" is
# memory); at any tier with core-wide scans the gate disables the pin
# and the two-phase shape stands.
NGRAM_BUCKET_TASK_TARGET_BYTES: int | None = 64 * 1024


def _tokenized(docs: DataFrame, id_col: str, text_col: str,
               target_task_bytes: int | None = None) -> DataFrame:
    """(id, _toks token-array) -- tokenize once into a projected column
    (see ngrams_from_tokens on why an inlined split re-evaluates per
    n-gram element).  Widened by HASH on the unique doc id (r12): no
    round-robin pre-sort of the text payload, and the per-doc
    aggregates downstream (minhash/simhash signatures, census
    regroups) inherit the partitioning instead of paying their own
    exchange (session.ensure_parallelism ``by`` note).
    ``target_task_bytes`` bounds the width data-proportionally (r13,
    see SIGNATURE_TASK_TARGET_BYTES)."""
    from location_summary_etl_spark.session import ensure_parallelism

    return ensure_parallelism(
        docs, by=id_col, target_task_bytes=target_task_bytes
    ).select(id_col, tokens(text_col).alias("_toks"))


def _posting_hashes(docs: DataFrame, id_col: str, text_col: str,
                    n: int = SHINGLE_NGRAM, bits: int = 32,
                    distinct: bool = False) -> DataFrame:
    """(id, gram hash h) posting relation: one row per word-n-gram
    shingle occurrence, hashed to an md5-prefix long.

    Shingles, not unigrams: with a small vocabulary, unigram token
    *sets* are near-identical across unrelated docs, which makes every
    signature collide and the candidate-pair output quadratic. Word
    3-grams keep signatures discriminative, which is what bounds LSH
    bucket sizes (and therefore the join fan-out) at corpus scale.

    ``distinct=True`` wraps the gram array in ``array_distinct`` BEFORE
    the explode: duplicates only ever occur *within* a doc, so per-doc
    set semantics costs zero shuffles at any corpus size.

    Two hard-won plan-shape rules (each measured ~6x at sf0.1):

    - The hash runs AFTER the explode, on a scalar column, where md5
      is whole-stage-codegen'd; hashing inside an array ``transform``
      lambda evaluates interpreted per element.
    - The gram expression is INLINED into ``explode``: exploding a
      projected alias triggers InferFiltersFromGenerate, whose
      ``size(..) > 0`` filter gets alias-substituted through the
      projections by predicate pushdown and re-executes the entire
      shingle transform (with the tokenizing split re-inlined per
      element) against every input row.  Non-attribute generator
      inputs are exempt from the rule.

    The relation carries longs, not shingle strings, so downstream
    shuffles move numbers; md5 collisions merge shingles identically
    in Spark and the DuckDB oracle.

    THE MD5 FLOOR, proven by measurement (sf0.1, local[32], warm
    min-of-5 on the (doc_id, h) stream these operators consume;
    output-VISIBLE hashes -- MinHash signature values, fingerprints --
    must replay bit-for-bit in the oracle, so they cannot use a
    native hash the way the n-gram inverted index's internal keys
    use ``xxhash64``):

    - shingle explode alone 0.377 s; + codegen'd per-gram md5
      0.511 s; + ``xxhash64`` instead 0.349 s.  The portability tax
      is ~0.15 s per hash pass (~30%), and xxhash64 is cheaper than
      the bare explode baseline's string projection.
    - Cheaper-pair candidates are dead ends: DuckDB ``hash('abc')`` =
      14846292297954449589 vs Spark ``xxhash64('abc')`` =
      1423657621850124518 (different algorithms; DuckDB exposes no
      xxhash64, Spark no DuckDB-hash); neither engine shares
      crc32/sha1 cheaply, and md5 is the only common primitive.
    - Hashing TOKENS once (3x fewer, 3x shorter md5 inputs) and
      combining arithmetically into gram hashes measured 0.619 s --
      SLOWER than per-gram md5, because the token hash must run
      inside an array ``transform`` lambda (interpreted per element;
      a post-explode token hash would need a per-doc re-assembly
      shuffle that costs more than it saves).

    So ~0.15 s/pass at sf0.1 is the irreducible portability floor
    for the signature/fingerprint operators, not a missing
    optimization; in production (no cross-engine replay contract)
    swap ``portable_hash32`` for ``xxhash64`` and the floor
    disappears.
    """
    grams = ngrams_from_tokens(F.col("_toks"), n)
    if distinct:
        grams = F.array_distinct(grams)
    hashf = portable_hash32 if bits == 32 else portable_hash60
    return (
        _tokenized(docs, id_col, text_col,
                   target_task_bytes=SIGNATURE_TASK_TARGET_BYTES)
        .select(F.col(id_col), F.explode(grams).alias("_g0"))
        .select(F.col(id_col), hashf("_g0").alias("h"))
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """One row per doc: m0..m{K-1} permutation min-hashes.

    One narrow shuffle total: MIN is duplicate-insensitive, so no
    distinct SHUFFLE is ever needed, and the groupBy shuffle carries
    one 16-long partial row per (partition, doc).  The posting
    relation still applies the map-side ``array_distinct``: repeats
    within a doc would each pay the 16 multiply-mod aggregate updates,
    and collapsing them in the array first measured ~10% off the
    whole signature stage at sf0.1 (0.578 -> 0.521 s).
    """
    tok = _posting_hashes(docs, id_col, text_col, distinct=True)
    # SQL-text expressions, not nested F.* calls: building these 16
    # aggregates through the Column API costs ~130 ms of py4j round
    # trips per plan construction; one parse-side expr each is ~10 ms
    # total (measured).  Identical Catalyst expressions either way.
    aggs = [
        F.expr(f"min(({a}L * h + {b}L) % {MINHASH_PRIME}L)").alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return tok.groupBy(id_col).agg(*aggs)


def minhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      threshold: float = 0.5,
                      max_bucket: int | None = DEFAULT_MAX_BUCKET,
                      cap_mode: str = "filter") -> DataFrame:
    """Candidate pairs from banded LSH, scored by estimated Jaccard
    (fraction of equal minhashes), filtered at ``threshold``.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    Bucket-local pair generation, not a self-join: the banded rows
    (one ``explode`` fans each doc's signature into its LSH_BANDS
    buckets inside the signature stage) group ONCE by (band, band_sig)
    and each bucket expands its own candidate pairs map-side.  vs the
    join formulation this removes a whole pass over the signature
    relation (join = both sides shuffled + the signature lineage
    persisted or recomputed) and needs no cache: one narrow shuffle of
    (bucket, signature) rows, then pairs are born next to their
    signatures, so est_jaccard is a ``zip_with`` on the spot.

    The expansion is a DOUBLE EXPLODE (explode xs as a, explode xs as
    b, filter a.id < b.id), not nested ``transform``/``slice`` array
    lambdas: generators run inside whole-stage codegen while
    higher-order-function lambdas evaluate interpreted per element --
    on the sibling n-gram operator's 1.3M-pair expansion the lambda
    form measured ~35% slower end-to-end.  The n^2-vs-n^2/2 row count
    is irrelevant next to that constant.

    At 100 TB each bucket's pair expansion is quadratic in its own
    size only; discriminative band signatures (3-gram shingles, 4x32
    bits) keep buckets tiny, and a degenerate mega-bucket (all-equal
    boilerplate docs) is exactly the case to split out via exact dedup
    FIRST -- the pipeline composition corpus_clean already does.

    ``max_bucket`` is the skew hard-stop for corpora where exact dedup
    cannot pre-empt the collision (near-identical boilerplate that is
    not byte-identical).  It is ON by default
    (``DEFAULT_MAX_BUCKET``); pass ``None`` for the uncapped plan.
    Over-cap buckets are DROPPED ENTIRELY before any pair is built --
    standard LSH practice: an over-cap bucket carries no
    discriminative signal, and dropping it trades bounded RECALL (its
    members lose those candidate pairs) for a hard upper bound of
    max_bucket^2/2 on any task's pair expansion.  Pairs that survive
    are scored identically -- precision is untouched.  Both
    ``cap_mode`` physical strategies produce the SAME result:

    - ``"filter"`` (default): the bucket aggregate itself enforces the
      cap (``size(xs) <= max_bucket`` after the collect) -- zero extra
      passes, measured +8% over uncapped at sf0.1 vs +80% for the
      census.  The QUADRATIC expansion is bounded, but an over-cap
      bucket's member list is materialized (then dropped): memory is
      linear in the worst bucket, so a corpus that is one giant
      template (10^7+ docs sharing a band signature, ~GBs in one
      aggregation buffer) wants census mode.
    - ``"census"``: membership is counted first with a map-side-
      combined aggregate (never a collect_list) and over-cap
      (band, band_sig) keys join back as an anti-filter, so neither
      the count nor the filter ever materializes even a linear
      structure per heavy bucket.  Costs a second pass over the
      signature lineage (persisted: the band fan-out is consumed
      twice; reclaimed by ``spark.catalog.clearCache()`` or LRU
      eviction).  AQE turns the anti join into a broadcast at runtime
      when the heavy set is small (no forced hint -- if a
      pathological corpus makes it big, the shuffled anti join is the
      correct fallback, not an OOM).
    """
    if cap_mode not in ("filter", "census"):
        raise ValueError(f"cap_mode must be 'filter' or 'census', got {cap_mode!r}")
    census = max_bucket is not None and cap_mode == "census"
    k = len(MINHASH_COEFFS)
    sig = minhash_signatures(docs, id_col, text_col)
    sigv = sig.select(
        F.col(id_col), F.array(*[f"m{i}" for i in range(k)]).alias("sig")
    )
    if census:
        sigv = sigv.persist(StorageLevel.MEMORY_AND_DISK)
    # One parsed expr for the band fan-out (see minhash_signatures on
    # why SQL text beats Column-API construction here).
    band_structs = ", ".join(
        "named_struct('band', {b}, 'band_sig', md5(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"cast(sig[{b * LSH_ROWS + r}] as string)"
                for r in range(LSH_ROWS)
            ),
        )
        for b in range(LSH_BANDS)
    )
    long_form = sigv.select(
        id_col, "sig", F.expr(f"explode(array({band_structs}))").alias("_bs")
    ).select(id_col, "sig", "_bs.band", "_bs.band_sig")
    if census:
        # Over-cap buckets, counted map-side-combined: the relation is
        # bounded by |banded rows| / max_bucket keys, Zipf-tiny in
        # practice (see cap_mode docstring for the broadcast/anti-join
        # runtime story).
        heavy = (
            long_form.groupBy("band", "band_sig")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > max_bucket)
            .select("band", "band_sig")
        )
        long_form = long_form.join(heavy, ["band", "band_sig"], "left_anti")
    bucketed = (
        long_form.groupBy("band", "band_sig")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "sig")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    if max_bucket is not None and not census:
        # filter-mode cap: enforced on the one aggregate the plan
        # already has -- the census's extra signature pass is the cost
        # this branch deletes.
        bucketed = bucketed.filter(F.size("xs") <= max_bucket)
    pairs = (
        bucketed.select("band", F.explode("xs").alias("a"), "xs")
        .select("band", "a", F.explode("xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
    )
    if max_bucket is None:
        # FIRST-COLLIDING-BAND emission instead of a trailing
        # .distinct(): a pair colliding in several bands would be
        # emitted once per band, but both sigs are in hand, so each
        # bucket checks "does any EARLIER band's slice also match?"
        # and only the first colliding band emits.  Pure codegen'd
        # comparisons replace a whole exchange (measured 0.956 ->
        # 0.866 s at sf0.1, identical output).
        def _band_match(b: int) -> str:
            return "(" + " AND ".join(
                f"a.sig[{b * LSH_ROWS + r}] = b.sig[{b * LSH_ROWS + r}]"
                for r in range(LSH_ROWS)) + ")"

        first_band = "CASE band " + " ".join(
            f"WHEN {b} THEN " + (
                "true" if b == 0
                else "NOT (" + " OR ".join(
                    _band_match(kb) for kb in range(b)) + ")")
            for b in range(LSH_BANDS)) + " END"
        pairs = pairs.filter(F.expr(first_band))
    est = F.expr(
        f"size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), e -> e))"
        f" / {float(k)}"
    )
    out = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        round_portable(est, 4).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)
    if max_bucket is not None:
        # Under bucket capping a signature match in an earlier band no
        # longer implies the pair was emitted there (that bucket may
        # have been dropped), so dedup falls back to a distinct over
        # the (tiny, threshold-filtered) survivor set.
        out = out.distinct()
    return out


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc: for each bit, distinct shingles vote
    +1/-1; the sign becomes the bit.

    The one-vote-per-distinct-shingle set is ``array_distinct`` on the
    doc's gram array, computed MAP-SIDE (duplicates only ever occur
    within a doc -- no distinct shuffle); the 32 vote tallies are
    codegen'd scalar aggregates over the exploded distinct set, one
    narrow groupBy shuffle of 32-int partials.
    """
    tok = _posting_hashes(docs, id_col, text_col, distinct=True)
    # shiftright + AND, not floor(h / 2^b) % 2: the division form routes
    # through doubles (Spark "/" is FP) -- integer bit ops are ~30%
    # cheaper over K bits x all tokens.  SQL-text exprs, not Column-API
    # nesting: 32 vote aggregates + the 32-term reconstruction are
    # hundreds of py4j round trips built the F.* way (see
    # minhash_signatures).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
            " THEN 1 ELSE -1 END)"
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    recon = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN {1 << b}L ELSE 0L END"
        for b in range(SIMHASH_BITS)
    )
    return agg.select(
        F.col(id_col), F.expr(f"cast(({recon}) as bigint)").alias("simhash")
    )


def simhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidates blocked
    on 8-bit signature bytes (pigeonhole: distance <= 6 over 4 blocks
    guarantees >= 1 equal block... distance <= 3 strictly; wider
    distances trade recall, which is the documented LSH compromise).

    Returns (id_a, id_b, hamming).
    """
    sig = simhash_signatures(docs, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    blocks = [
        F.struct(
            F.lit(blk).alias("blk"),
            F.shiftright(F.col("simhash"), 8 * blk)
            .bitwiseAND(F.lit(255)).alias("blk_val"),
        )
        for blk in range(4)
    ]
    longf = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*blocks)).alias("_b")
    ).select(id_col, "simhash", "_b.blk", "_b.blk_val")
    left = longf.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
        "blk", "blk_val",
    )
    right = longf.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
        "blk", "blk_val",
    )
    return (
        left.join(right, ["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _resolve_scratch_passes(postings: DataFrame,
                            scratch_passes: int | str | None,
                            max_df: int | None) -> int:
    """Stripe count for the pair shuffle (module-level scratch note).

    ``None``/1 -> single pass (the unmeasured default: callers gate
    on source size before asking for "auto", see
    ``NGRAM_STAGE_SOURCE_FLOOR``).  An int pins the stripe count
    (tests, operators with external knowledge).  ``"auto"`` prices
    the shuffle EXACTLY with one df-census aggregate -- postings ->
    per-gram df -> sum of d*(d-1)/2 over expanding buckets (under
    filter-mode capping, over-cap buckets never expand pairs, so
    they are excluded; census-mode postings are already filtered) --
    a map-side-combined aggregate ending in a bounded 1-row collect,
    then stripes to the scratch budget."""
    if scratch_passes is None:
        return 1
    if isinstance(scratch_passes, int):
        if scratch_passes < 1:
            raise ValueError(
                f"scratch_passes must be >= 1, got {scratch_passes}")
        return min(scratch_passes, MAX_SCRATCH_PASSES)
    if scratch_passes != "auto":
        raise ValueError(f"scratch_passes must be an int or 'auto', "
                         f"got {scratch_passes!r}")
    d = F.col("_df")
    per_gram = postings.groupBy("g").agg(F.count("*").alias("_df"))
    if max_df is not None:
        per_gram = per_gram.filter(d <= max_df)
    occ = per_gram.agg(
        F.sum(d * (d - F.lit(1)) / F.lit(2.0)).alias("occ")
    ).first()["occ"] or 0.0
    est_bytes = occ * BYTES_PER_PAIR_OCC
    budget = _scratch_budget_bytes(postings.sparkSession)
    k = max(1, min(MAX_SCRATCH_PASSES, math.ceil(est_bytes / max(budget, 1))))
    logging.getLogger(__name__).info(
        "ngram_jaccard_pairs scratch census: %.3g pair occurrences "
        "(~%.1f GB shuffle at %d B/occ) vs budget %.1f GB -> %d pass(es)",
        occ, est_bytes / 1e9, BYTES_PER_PAIR_OCC, budget / 1e9, k)
    return k


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = DEFAULT_MAX_DF,
                        cap_mode: str = "filter",
                        scratch_passes: int | str | None = None) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for pairs sharing at
    least one n-gram (inverted-index self-join -- candidate volume is
    bounded by posting-list sizes, not |docs|^2).

    Returns (id_a, id_b, jaccard >= threshold).

    Scale design: the per-doc distinct gram set and its size are
    computed MAP-SIDE (``array_distinct``/``size`` on the gram array --
    duplicates only occur within a doc), so there is no distinct
    shuffle and no per-doc count aggregation.  Each posting row of the
    inverted index carries its doc's count PACKED INTO THE ID LONG
    (see ``_pack_posting``), so Jaccard is computable directly on the
    pair aggregate with no lookup joins.  Grams are hashed to longs
    post-explode with ``xxhash64`` (codegen; the hash is internal --
    only gram EQUALITY matters downstream, so it needs no cross-engine
    portability, unlike the MinHash signatures), so postings shuffle
    16 B, never n-gram strings.

    Candidate generation is BUCKET-LOCAL (the same shape as the LSH
    path in :func:`minhash_near_dups`): postings group ONCE by gram
    and each posting list expands its own id pairs map-side.  vs the
    inverted-index self-join this removes a whole shuffle (join = both
    sides exchanged) plus the persist the join needed to avoid
    recomputing the shingle lineage per side -- two exchanges total:
    postings -> gram buckets, pairs -> (id_a, id_b) counts.  Pair
    volume is identical to the join's; the skew unit is one posting
    list per task, so a ubiquitous shingle (df in the millions at
    corpus scale) would otherwise put one quadratic posting list on
    one task.

    ``max_df`` is that skew defense: grams whose document frequency
    exceeds it are REMOVED FROM THE GRAM UNIVERSE before any posting
    list is built -- df is counted with a map-side-combined aggregate
    (one row per distinct gram, never a list), over-cap grams join
    back as an anti-filter on the postings, and per-doc sizes are
    RE-derived from the surviving postings so the reported Jaccard is
    exact over the filtered universe (both ``shared`` and ``na``/
    ``nb`` count the same gram set -- a cap that only dropped
    candidates but kept raw sizes would silently under-report the
    score).  Semantics trade, stated plainly: pairs whose similarity
    lives in ubiquitous grams are not found (recall), every emitted
    pair's score is exact for the stop-gram-filtered corpus
    (precision).  A shared-by-every-doc boilerplate shingle at 100 TB
    thus costs one counted row instead of one |corpus|^2/2 pair
    expansion; any surviving bucket is <= max_df wide, bounding every
    task at max_df^2/2 pairs.  Every corpus at scale has a headed
    gram distribution, so the cap is ON by default
    (``DEFAULT_MAX_DF``); pass ``None`` explicitly for the uncapped
    two-exchange plan.  Two ``cap_mode`` physical strategies, same
    result:

    - ``"filter"`` (default): postings carry RAW packed sizes exactly
      like the uncapped plan; the one gram aggregate splits into
      under-cap buckets (pair expansion as usual) and over-cap buckets
      whose postings fold to per-doc DROP COUNTS, and the final
      Jaccard subtracts the drops from the raw sizes -- arithmetic
      identical to recounting over the surviving universe.  When no
      gram is over-cap the drops relation is empty and AQE broadcasts
      it for free, so the common case pays only the split + two
      no-op joins (measured 1.15 s vs 0.96 s uncapped vs 1.57 s
      census at sf0.1).  An over-cap gram's posting list is
      materialized (linear) before folding; its pairs never are.
      The lopsided-pair length pre-filter is NOT applied here: it
      would test against raw sizes, and a pair whose similarity
      concentrates in surviving grams of a heavily-dropped doc could
      be wrongly eliminated (raw sizes overstate the denominator).
    - ``"census"``: grams' document frequencies are counted map-side-
      combined BEFORE any posting list exists, over-cap grams
      anti-join out, and per-doc sizes are re-derived from surviving
      postings -- never materializes even the heavy gram's linear
      list, at the cost of a second pass over the shingle lineage.

    ``scratch_passes`` bounds the pair shuffle's DISK footprint (the
    module-level scratch note carries the measured blowup curve:
    1.663 GB at sf1, ~63 GB capped / ~167 GB uncapped at sf10 -- the
    r11 sf10 ENOSPC): ``"auto"`` prices the shuffle with one exact
    df-census job and stripes the pair stage over disjoint LOWER-ID
    ranges (``pmod(id_a, K)``) sized to ``NGRAM_SCRATCH_BUDGET_GB``
    (default 40% of the shuffle volume's free space); an int pins the
    stripe count; the default 1 is the classic single-shuffle plan.
    Striping is result-identical by construction: stripe membership
    is a function of the pair, each stripe scans every bucket, so a
    pair's shared count is complete within its one stripe and each
    stripe emits its slice of the FINAL thresholded relation (the
    module note records why accumulating anything pre-threshold
    across stripes cannot survive the uncapped tier).

    The in-bucket expansion is a codegen'd DOUBLE EXPLODE, not nested
    ``transform``/``slice`` lambdas: higher-order functions evaluate
    interpreted per element, and at this operator's pair volume (1.3M
    candidates at sf0.1) the lambda form measured 1.58s vs 1.20s
    end-to-end.  (A broadcast self-join measured 0.99s here, but only
    because 260k postings fit a broadcast at bench scale -- at corpus
    scale the build side explodes and the join needs the signature
    lineage twice; the bucket shape keeps one lineage and two
    exchanges at any scale.)
    """
    if cap_mode not in ("filter", "census"):
        raise ValueError(f"cap_mode must be 'filter' or 'census', got {cap_mode!r}")
    census = max_df is not None and cap_mode == "census"
    filter_cap = max_df is not None and not census
    # The count is zipped INTO the generator input (element, n) pairs:
    # a neighbouring size(...) projection would be re-evaluated per
    # exploded OUTPUT row (measured 15x slower), and a BARE
    # projected-alias array as the generator input triggers
    # InferFiltersFromGenerate (see _posting_hashes).  r12: the
    # distinct-gram array is projected ONCE below the explode -- the
    # previous inline form evaluated the shingle transform +
    # array_distinct three times per row inside arrays_zip/
    # array_repeat (GenerateExec gets no codegen subexpression
    # elimination); the alias is non-cheap and referenced 3x, so
    # CollapseProject leaves it alone, and the generator input is
    # still the non-attribute arrays_zip, keeping the
    # InferFiltersFromGenerate exemption.  Measured 1.036 -> 1.000 s
    # uncapped at sf0.1 (OPTIMIZATION_r12.md change #2, parity-anchored
    # to the operator itself); the same fix measured -15% on
    # doc_fingerprints, whose per-doc shingle array is ~4x wider.
    dgrams = F.array_distinct(ngrams_from_tokens(F.col("_toks"), n))
    if not census:
        packed = F.explode(
            F.arrays_zip(
                F.col("_dgs"),
                F.array_repeat(F.size("_dgs"), F.size("_dgs")))
        )
        postings = (
            _tokenized(docs, id_col, text_col)
            .select(F.col(id_col), dgrams.alias("_dgs"))
            .select(F.col(id_col), packed.alias("_z"))
            .select(
                _pack_posting(F.col(id_col), F.col("_z")["1"]).alias("pk"),
                F.xxhash64(F.col("_z")["_dgs"]).alias("g"),
            )
        )
    else:
        # (id, g) postings without sizes -- sizes are only meaningful
        # AFTER the df filter, so they are re-derived from the
        # surviving postings by a per-doc regroup (collect_list output
        # is an attribute, so the explode's neighbouring size() is
        # O(1) on a materialized array, unlike the unfiltered path's
        # expression arrays).  The df aggregate and the regroup each
        # re-run the shingle lineage (map-only work); the heavy set is
        # left unhinted for AQE to broadcast when small (see
        # minhash_near_dups on why no forced hint).
        base = (
            _tokenized(docs, id_col, text_col)
            .select(F.col(id_col), F.explode(dgrams).alias("_g0"))
            .select(F.col(id_col), F.xxhash64("_g0").alias("g"))
        )
        heavy = (
            base.groupBy("g").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("g")
        )
        survived = base.join(heavy, "g", "left_anti")
        arrays = survived.groupBy(id_col).agg(
            F.collect_list("g").alias("_gs"))
        postings = arrays.select(
            _pack_posting(F.col(id_col), F.size("_gs")).alias("pk"),
            F.explode("_gs").alias("g"),
        )
    # Size pre-filter at emission: shared <= min(na, nb), so
    # J <= min/(na+nb-min); a pair whose sets are too lopsided to
    # reach the threshold even under full containment --
    # min*(1+t) < t*(na+nb) -- is dropped BEFORE its occurrences
    # enter the count shuffle.  Exactness untouched (those pairs
    # would fail the final filter anyway); measured ~5% end-to-end
    # on this corpus, and it is the standard length-filter guard
    # whose cut deepens on real corpora with varied doc lengths.
    t = float(threshold)
    na = F.col("ka").bitwiseAND(_PACK_MASK)
    nb = F.col("kb").bitwiseAND(_PACK_MASK)

    # One bucket per gram, built ONCE (stripes reuse it).  Bucket
    # elements are PACKED LONGS, not (id, n_grams) structs: the bucket
    # collect_list and the pair-count aggregate are the two heaviest
    # stages here, and 8-byte primitives cut both the
    # ObjectHashAggregate's per-element allocation and the pair
    # aggregate's key width (struct form measured 1.01 s -> 0.88 s
    # end-to-end at sf0.1, same session).
    if NGRAM_BUCKET_TASK_TARGET_BYTES is not None:
        # Pin the pair-expansion width (see the constant's note): the
        # explicit gram repartition replaces the aggregate's own
        # ENSURE_REQUIREMENTS exchange (same count, coalescing-exempt)
        # and the aggregate runs single-phase above it.  File-gated
        # through ensure_parallelism: inert at any tier whose scans
        # are already core-wide.
        from location_summary_etl_spark.session import ensure_parallelism

        postings = ensure_parallelism(
            postings, by="g",
            target_task_bytes=NGRAM_BUCKET_TASK_TARGET_BYTES)
    groups = postings.groupBy("g").agg(F.collect_list("pk").alias("xs"))
    buckets = groups.filter(F.size("xs") >= 2)
    drops = None
    if filter_cap:
        # filter-mode cap: over-cap grams leave the pair path here and
        # fold to per-doc drop counts; AQE reuses the one gram-shuffle
        # stage for both branches at runtime.  Empty when no gram is
        # over-cap -- the common case's two joins in _finish are
        # broadcast no-ops.
        buckets = buckets.filter(F.size("xs") <= max_df)
        drops = (
            groups.filter(F.size("xs") > max_df)
            .select(F.explode("xs").alias("pk"))
            .select(F.shiftright("pk", _PACK_SHIFT).alias("_did"))
            .groupBy("_did").agg(F.count("*").alias("_d"))
        )

    def _pair_counts(stripe: int | None = None, passes: int = 1) -> DataFrame:
        """Packed (ka, kb, shared) counts over the bucket relation.
        The ordered-pk filter on the double explode emits each
        unordered pair exactly once per shared gram.  With ``stripe``
        set, the FIRST explode is filtered to lower ids hashing into
        the stripe before the second explode runs -- the stripe
        enumerates and shuffles only its own pairs, and because
        stripe membership is a function of the pair (its lower id)
        while the stripe scans every bucket, its counts are COMPLETE,
        never partial."""
        e1 = buckets.select(F.explode("xs").alias("ka"), "xs")
        if stripe is not None:
            e1 = e1.filter(
                F.pmod(F.shiftright("ka", _PACK_SHIFT), F.lit(passes))
                == F.lit(stripe))
        prs = (
            e1.select("ka", F.explode("xs").alias("kb"))
            # pk order == (id, n_grams) order and n_grams is a function
            # of id, so comparing packed values compares ids.
            .filter(F.col("ka") < F.col("kb"))
        )
        if not filter_cap:
            # Lopsided-pair length pre-filter (see docstring; unsafe
            # under filter-mode capping where packed sizes are raw).
            prs = prs.filter(F.least(na, nb) * (1.0 + t) >= t * (na + nb))
        # Group on the packed keys themselves: na/nb are bit-functions
        # of the key, so no min() carry-alongs and the aggregate hashes
        # two longs.
        return prs.groupBy("ka", "kb").agg(F.count("*").alias("shared"))

    def _finish(shared: DataFrame) -> DataFrame:
        """Unpack ids, cap-adjust sizes, score, threshold.  Applied to
        the one complete relation in the single-pass plan, and PER
        STRIPE in the striped plan (counts are complete there, so the
        threshold prunes each stripe to final rows before anything
        accumulates)."""
        out = shared.select(
            F.shiftright("ka", _PACK_SHIFT).alias("id_a"),
            F.shiftright("kb", _PACK_SHIFT).alias("id_b"),
            na.alias("na"), nb.alias("nb"), "shared",
        )
        if filter_cap:
            # Subtract each doc's dropped-gram count from its raw size:
            # arithmetically identical to recounting sizes over the
            # surviving gram universe (what census mode and the oracle
            # SQL do), without a second pass over the shingle lineage.
            da = drops.select(F.col("_did").alias("id_a"),
                              F.col("_d").alias("_da"))
            db = drops.select(F.col("_did").alias("id_b"),
                              F.col("_d").alias("_db"))
            out = (
                out.join(da, "id_a", "left").join(db, "id_b", "left")
                .select(
                    "id_a", "id_b", "shared",
                    (F.col("na") - F.coalesce("_da", F.lit(0))).alias("na"),
                    (F.col("nb") - F.coalesce("_db", F.lit(0))).alias("nb"),
                )
            )
        jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        return out.select(
            "id_a", "id_b", round_portable(jac, 4).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)

    passes = _resolve_scratch_passes(postings, scratch_passes, max_df)
    if passes <= 1:
        return _finish(_pair_counts())
    # SCRATCH-STRIPED pair counting (module-level scratch note): each
    # stripe shuffles ~est/passes of the pair occurrences and emits
    # its slice of the FINAL thresholded relation -- the only thing
    # checkpoint-materialized across stripes is result rows (the
    # gram-range design this replaced accumulated pre-threshold count
    # partials and heap-OOM'd at the sf10 uncapped tier).  The gram
    # buckets persist once so the shingle lineage and the collect_list
    # shuffle are not recomputed per stripe.
    spark = postings.sparkSession
    groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
    parts: list[DataFrame] = []
    for k in range(passes):
        parts.append(
            _finish(_pair_counts(k, passes)).localCheckpoint(eager=True))
        try:  # nudge ContextCleaner so stripe k's shuffle files are
            # deleted while stripe k+1 runs, keeping peak scratch at
            # ~est/passes instead of est
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass
    groups.unpersist()
    out = parts[0]
    for p_k in parts[1:]:
        out = out.unionByName(p_k)
    return out


def ngram_jaccard_pairs_prefix(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """:func:`ngram_jaccard_pairs` semantics through a PREFIX-FILTERED
    set-similarity join (Chaudhuri/Bayardo prefix filtering): identical
    result set, candidate volume cut by ~(prefix/n)^2.

    Theory: order each doc's distinct gram set by a fixed total order
    (ascending 60-bit hash).  If J(A,B) >= t then the overlap o
    satisfies o >= ceil(t*|A|), so at least one shared gram must land
    in A's first |A| - ceil(t*|A|) + 1 grams (ditto B) -- posting ONLY
    those prefix grams still surfaces every qualifying pair.
    Candidates are then verified EXACTLY against the full sorted hash
    arrays (``array_intersect``), so recall is 1.0 by construction,
    not a tuning claim -- the oracle SQL is the same as the
    unfiltered operator's.

    Plan shape (3 exchanges, each smaller than the last):

    1. explode -> hash (codegen, scalar -- never inside an array
       lambda) -> groupBy(id): one sorted hash array + count per doc.
       This relation is aggregate-sized (doc count, not gram count)
       and serves both the prefix posting (map-side ``slice``) and
       verification (via ``broadcast_if_small``; at warehouse scale
       the verify join shuffles on id instead -- still candidate-
       bounded).
    2. prefix postings groupBy(gram): bucket-local double-explode
       pair expansion (see ngram_jaccard_pairs).
    3. distinct candidate pairs -> join arrays -> exact Jaccard.

    When it wins -- and when it doesn't (measured): prefix filtering
    pays off when candidates are SELECTIVE (real corpora: most doc
    pairs share no rare gram, so the candidate set is a sliver and the
    per-pair ``array_intersect`` verify is cheap in total).  On this
    synthetic corpus the vocabulary is ~40 words, gram sets overlap
    broadly at sub-threshold Jaccard, and 568k of ~12.5M possible
    pairs survive the prefix at sf0.1 -- the per-pair verify then
    costs more than the count-sharing aggregate of
    :func:`ngram_jaccard_pairs`, which amortizes verification across
    pair occurrences inside one partial-aggregated shuffle (1.2s vs
    4.4s end-to-end).  Both stay in the corpus: selectivity, not
    asymptotics, picks the winner.  The r8 grid (OPTIMIZATION_r14.md,
    "Dual-form selectors retired") found one prefix win, -10 % at
    t=0.8 on a near-unique gram universe; the aggregate form won every
    other cell.

    SKEW POSTURE: this formulation carries NO df cap -- a ubiquitous
    gram that lands in many documents' prefixes still builds one
    quadratic posting list.  Prefix filtering mitigates (only grams in
    the first ~(1-t)|A|+1 of each doc's sorted set post at all, so a
    boilerplate gram must also hash LOW to be hot), but does not
    bound.  It exists as the alternate physical strategy under the
    exact-Jaccard oracle; the production default for skewed corpora is
    :func:`ngram_jaccard_pairs`, whose ``max_df`` cap is on by
    default.
    """
    from location_summary_etl_spark.session import broadcast_if_small

    grams = ngrams_from_tokens(F.col("_toks"), n)
    exploded = (
        _tokenized(docs, id_col, text_col)
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("_g0"))
        .select(F.col(id_col), portable_hash60("_g0").alias("h"))
    )
    # aggregate-sized (one row per doc) and consumed three times
    # (prefix postings + both verify sides): persist, or every
    # broadcast build re-runs the explode+hash lineage (measured 3.4x).
    # LIFETIME: the persist cannot be unpersisted here -- the returned
    # DataFrame is lazy and still references it.  It is reclaimed by
    # ``spark.catalog.clearCache()`` (bench/tests call it between
    # queries) or LRU-evicted under memory pressure (MEMORY_AND_DISK);
    # long-lived sessions embedding this operator should clearCache()
    # after consuming the result.
    arrays = exploded.groupBy(id_col).agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count("*").alias("n_grams"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # prefix length: n - ceil(t*n) + 1 elements of the sorted set
    t = float(threshold)
    prefix_len = (
        F.col("n_grams") - F.ceil(F.col("n_grams") * F.lit(t)) + F.lit(1)
    ).cast("int")
    postings = arrays.select(
        F.col(id_col), F.explode(F.slice("hs", 1, prefix_len)).alias("g")
    )
    buckets = (
        postings.groupBy("g")
        .agg(F.collect_list(F.col(id_col)).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    cand = (
        buckets.select(F.explode("xs").alias("id_a"), "xs")
        .select("id_a", F.explode("xs").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    a = arrays.select(
        F.col(id_col).alias("_a_id"), F.col("hs").alias("_a_hs"),
        F.col("n_grams").alias("na"),
    )
    b = arrays.select(
        F.col(id_col).alias("_b_id"), F.col("hs").alias("_b_hs"),
        F.col("n_grams").alias("nb"),
    )
    verified = (
        cand.join(broadcast_if_small(a), F.col("id_a") == F.col("_a_id"))
        .join(broadcast_if_small(b), F.col("id_b") == F.col("_b_id"))
        .withColumn(
            "shared", F.size(F.array_intersect("_a_hs", "_b_hs"))
        )
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return verified.select(
        "id_a", "id_b", round_portable(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        block_col: str = "label",
                        threshold: float = 0.4) -> DataFrame:
    """Cosine near-duplicates within a blocking key.

    The block column (a label, cluster id, or LSH bucket) bounds the
    pair count; within a block the dot product runs as a Catalyst
    higher-order function (zip_with + aggregate), JVM-side.
    Returns (id_a, id_b, cosine >= threshold).
    """
    from location_summary_etl_spark.functions.vectors import cosine, l2_norm
    from location_summary_etl_spark.session import ensure_parallelism

    # r13: width bounded data-proportionally (the signature-pipeline
    # tiny-task curve, see SIGNATURE_TASK_TARGET_BYTES): per-vector
    # norm + blocked HOF dot products are light per byte, the same
    # class as the 3-gram posting work.  No corpus entry routes here
    # (the benched twin is embedding_near_dups_pandas, whose
    # partitioning is partition_for_python_scan), so this aligns the
    # library path with the measured policy rather than claiming its
    # own bench delta.
    emb = ensure_parallelism(emb, by=id_col,
                             target_task_bytes=SIGNATURE_TASK_TARGET_BYTES)
    base = emb.select(
        F.col(id_col), F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("nrm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # scan + norm once, not per side
    a = base.select(
        F.col(id_col).alias("id_a"), "blk",
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), "blk",
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    cos = cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", round_portable(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_pandas(emb: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               block_col: str = "label",
                               threshold: float = 0.4) -> DataFrame:
    """:func:`embedding_near_dups` through an Arrow-batched numpy
    backend -- the throughput path, in two stages per block:

    1. **BLAS candidate prefilter**: a row-chunked gram matmul
       (``v[i0:i1] @ v.T``, no n x n matrix ever materialized) keeps
       only pairs whose BLAS cosine clears ``threshold - 1e-4``.  The
       margin is generous by orders of magnitude: the matmul and the
       sequential fold agree to ~1e-12 on doubles, and
       round_portable's half-up boundary sits 5e-7 below the
       threshold, so no true pair can be lost at the filter.
    2. **Exact rescore of candidates only**: the surviving pairs' dots
       accumulate with a loop over DIMENSIONS (vectorized across
       pairs), the same sequential left fold as ``F.aggregate`` /
       ``list_dot_product`` -- no BLAS reordering in anything emitted
       -- and rounding replays round_portable's exact double
       arithmetic.  Output is therefore bit-exact with the expression
       backend AND the DuckDB oracle, at matmul speed: the r7 rewrite
       took the 21.8k-row sf10 block from ~64 full n x n outer-product
       passes to one gram sweep + a candidate-sized fold (measured
       ~40x on that block; the old dimension-loop dots matrix was
       memory-bandwidth-bound at 3.8 GB per pass).

    Scale: one task per block; a block must fit one executor's memory
    (~chunk x n_block doubles for the gram slab + the candidate set).
    Blocks at 100 TB come from a clustering/LSH pass sized
    accordingly.
    """
    import numpy as np
    import pandas as pd

    p = float(10 ** 6)
    eps = 1e-4
    chunk = 1024

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n, dim = v.shape
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []}
            ).astype({"id_a": np.int64, "id_b": np.int64,
                      "cosine": np.float64})
        nrm2 = np.zeros(n)
        for j in range(dim):  # dimension loop == sequential left fold
            c = v[:, j]
            nrm2 += c * c
        nrm = np.sqrt(nrm2)
        safe = np.where(nrm > 0, nrm, 1.0)
        cand_a, cand_b = [], []
        for i0 in range(0, n, chunk):  # stage 1: BLAS prefilter
            i1 = min(i0 + chunk, n)
            g = v[i0:i1] @ v.T
            g /= np.outer(safe[i0:i1], safe)
            ia, ib = np.nonzero(g >= threshold - eps)
            ia = ia + i0
            keep = (ib > ia) & (nrm[ia] > 0) & (nrm[ib] > 0)
            cand_a.append(ia[keep])
            cand_b.append(ib[keep])
        ia = np.concatenate(cand_a)  # ids sorted -> id_a < id_b
        ib = np.concatenate(cand_b)
        dots = np.zeros(len(ia))
        for j in range(dim):  # stage 2: exact sequential-fold rescore
            dots += v[ia, j] * v[ib, j]
        cos = dots / (nrm[ia] * nrm[ib])
        cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
        keep = cos >= threshold
        return pd.DataFrame({
            "id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosine": cos[keep],
        })

    return (
        emb.select(F.col(id_col), F.col(vec_col), F.col(block_col))
        .groupBy(block_col)
        .applyInPandas(block, "id_a bigint, id_b bigint, cosine double")
    )
