"""Exact duplicated-substring spans across the corpus (Lee et al. style).

"Deduplicating Training Data Makes Language Models Better" (Lee et
al. 2022, arXiv:2107.06499, public) removes exact substrings that
recur across documents, found with a suffix array. A distributed
suffix array is the wrong tool on Spark; the same spans are found at
token-k-gram granularity with three keyed shuffles:

1. every k-token gram of every document, hashed (map-only transform
   pass, one explode — the winnowing extraction shape);
2. grams occurring in >= 2 *distinct* documents (distinct + count —
   the duplicated-gram set);
3. a **semi-join** of gram occurrences against that set — fanout is
   bounded by the occurrence count itself, never pairwise: a
   boilerplate gram shared by a million documents costs a million
   flag rows, not 10^12 pairs (the structural advantage over the
   pair-joining near-dup family for this task);
4. per-document span merge: overlapping/adjacent flagged grams
   coalesce under one (doc_id) window — gram at ``pos`` covers tokens
   ``[pos, pos+K-1]``, so hits chain while ``pos <= prev + K``.

Any duplicated substring of >= K tokens is covered exactly (all its
grams are flagged, and they chain into one span); shorter duplicates
are below the detection floor by design — K is the span-granularity
knob, exactly the suffix-array length threshold of the paper.

The reference engine has nothing comparable (SURVEY.md §2.4); this is
north-star LLM-pipeline surface beside ``operators/dedup.py``.

At 100 TB: stage 1 is scan-bound; stages 2-3 shuffle (gram_hash) keyed
rows ~= token count; stage 4 shuffles each doc's flagged positions
once. No stage is quadratic in documents or grams.

Gram hashes are 48-bit md5 prefixes via the engine-portable
``conv(substring(md5(..)))`` / ``CAST(concat('0x',..))`` pattern
(operators/winnow.py) so the whole pipeline reproduces in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col, tokens_sql
from ..sources.tables import load_table

SPAN_K = 8  # tokens per gram == minimum duplicated-span length
MIN_DOCS = 2  # gram is "duplicated" when in >= MIN_DOCS distinct docs


def dedup_substring_spans(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
    min_docs: int = MIN_DOCS,
) -> DataFrame:
    """(doc_id, span_id, span_start, span_end, span_tokens) — maximal
    merged token spans of cross-document duplicated k-grams, the rows
    a span-level dedup pass would cut (or a loss-masking pass would
    down-weight) from each document.
    """
    docs = load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
    return substring_spans_from(docs, k=k, min_docs=min_docs)


def _gram_occurrences(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gh) — every k-token gram hash of every document.
    Deliberately NOT persisted by callers that consume it twice — at
    one row per corpus token it is the largest frame in the pipeline,
    and re-deriving it is one map-only pass over the scan (cheaper
    than caching it at 100 TB)."""
    toked = (
        docs.select("doc_id", tokens_col("text").alias("toks"))
        .filter(F.size("toks") >= k)
    )
    # one transform pass materializes every gram hash, then a single
    # posexplode — the gram text itself never leaves the projection
    ghs = (
        f"transform(sequence(0, size(toks) - {k}), i -> "
        f"cast(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, {k}))), "
        f"1, 12), 16, 10) as bigint))"
    )
    return toked.select(
        "doc_id", F.posexplode(F.expr(ghs)).alias("pos", "gh")
    )


def duplicated_grams(
    docs: DataFrame, k: int = SPAN_K, min_docs: int = MIN_DOCS
) -> DataFrame:
    """(gh) — gram hashes occurring in >= ``min_docs`` distinct
    documents: the corpus-level duplication evidence, factored (r14)
    so the stored cycle can ship it as an artifact the way the
    winnow/decontamination families ship their fingerprint
    registries."""
    return (
        _gram_occurrences(docs, k)
        .select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .count()
        .filter(F.col("count") >= min_docs)
        .select("gh")
    )


def substring_spans_from(
    docs: DataFrame, k: int = SPAN_K, min_docs: int = MIN_DOCS
) -> DataFrame:
    """Library-level span finder over any (doc_id, text) frame — the
    body of :func:`dedup_substring_spans`, factored so tests can drive
    it with hand-crafted corpora."""
    return substring_spans_against(
        docs, duplicated_grams(docs, k, min_docs), k
    )


def substring_spans_against(
    docs: DataFrame, dup: DataFrame, k: int = SPAN_K
) -> DataFrame:
    """Spans of ``docs`` whose grams hit the given duplicated-gram
    set — the shared lower half of the online and stored paths (one
    definition, so they cannot drift; the _decontam_flags
    convention)."""
    occ = _gram_occurrences(docs, k)
    hits = occ.join(dup, "gh", "leftsemi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "ns",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + k),
            1,
        ).otherwise(0),
    ).withColumn("span_id", F.sum("ns").over(w))
    return (
        flagged.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_id").cast("long").alias("span_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


_T = tokens_sql("text")

DEDUP_SUBSTRING_SPANS_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {_T} AS toks FROM documents
),
occ AS (
  SELECT doc_id, p.pos AS pos,
         CAST(concat('0x', substr(md5(array_to_string(
           list_slice(toks, p.pos + 1, p.pos + {SPAN_K}), ' ')), 1, 12))
           AS BIGINT) AS gh
  FROM toked, unnest(generate_series(0, len(toks) - {SPAN_K})) AS p(pos)
  WHERE len(toks) >= {SPAN_K}
),
dup AS (
  SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM occ)
  GROUP BY gh HAVING count(*) >= {MIN_DOCS}
),
hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (gh)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {SPAN_K} THEN 1 ELSE 0 END AS ns
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
spans AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flagged
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {SPAN_K} - 1 AS INT) AS span_end,
       CAST(max(pos) + {SPAN_K} - min(pos) AS INT) AS span_tokens
FROM spans
GROUP BY doc_id, span_id
"""


def dedup_substring_cut(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
    min_docs: int = MIN_DOCS,
) -> DataFrame:
    """(doc_id, n_tokens, n_cut, cleaned_text) — the corpus REWRITE
    the span finder exists for: every cross-document duplicated span
    (:func:`dedup_substring_spans`) is cut from every document and
    the surviving tokens are reassembled in order. Lee et al. 2022
    (arXiv:2107.06499) measure the LM-quality win from retraining on
    exactly this output; ``dedup_substring_spans`` reports what WOULD
    be cut, this operator materializes the cleaned corpus a training
    run actually consumes.

    Semantics: ALL occurrences of a duplicated span are removed (the
    mask/down-weight convention — deterministic and
    order-independent, where Lee et al.'s keep-one-arbitrary-copy is
    not). Whole-document retention decisions belong to the doc-level
    dedup family (``dedup_keep_best``); a document whose every token
    is duplicated cleans to the empty string here and would be
    dropped by the funnel's dedup stage anyway.

    At 100 TB: the span pipeline keeps its shuffle story (module
    docstring); the rewrite adds ONE aggregation of flagged spans per
    doc and ONE doc_id join of span lists back onto the tokenized
    corpus — AQE broadcasts the span side when the duplicated set is
    small, shuffle-joins otherwise; the rewrite itself is a map-only
    array filter (no per-token rows ever shuffle). r14 library
    surface; queued for registration behind the r15/r16 split."""
    docs = load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
    return substring_cut_from(docs, k=k, min_docs=min_docs)


def substring_cut_from(
    docs: DataFrame, k: int = SPAN_K, min_docs: int = MIN_DOCS
) -> DataFrame:
    """Library-level corpus rewrite over any (doc_id, text) frame —
    the body of :func:`dedup_substring_cut`, factored for seeded
    tests (the :func:`substring_spans_from` convention)."""
    return _cut_with_spans(
        docs, substring_spans_from(docs, k=k, min_docs=min_docs)
    )


def _cut_with_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """The rewrite itself over any (doc_id, text) frame and any
    (doc_id, span_start, span_end) span frame — ONE definition shared
    by the online and stored cut paths (they cannot drift)."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toked = docs.select("doc_id", tokens_col("text").alias("toks"))
    kept = (
        "filter(transform(toks, (t, i) -> struct(i AS i, t AS t)), "
        "s -> spans IS NULL OR NOT exists(spans, "
        "sp -> s.i BETWEEN sp.span_start AND sp.span_end))"
    )
    return (
        toked.join(per_doc, "doc_id", "left")
        .withColumn("kept", F.expr(kept))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).alias("n_cut"),
            F.expr(
                "concat_ws(' ', transform(kept, s -> s.t))"
            ).alias("cleaned_text"),
        )
    )


def substring_write_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = SPAN_K,
    min_docs: int = MIN_DOCS,
) -> None:
    """Materialize the corpus's duplicated-gram hash set to parquet —
    the ship-once artifact of the substring family (the
    winnow_write_index / media_eval_write_index rationale: the
    duplication evidence changes when the reference corpus changes,
    incoming batches arrive daily, so the corpus-wide gram count is
    never re-paid per batch)."""
    docs = load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
    (
        duplicated_grams(docs, k, min_docs)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/dup_grams")
    )


def substring_cut_from_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    k: int = SPAN_K,
) -> DataFrame:
    """Serve the corpus rewrite from a STORED duplicated-gram index:
    one gram-hash pass over the documents + the semi-join against the
    read-back set — the corpus-wide duplication aggregate is never
    recomputed. Cuts spans duplicated AGAINST THE INDEXED CORPUS (the
    ``dedup_incremental`` convention — duplicates internal to a new
    batch and absent from the index are the online pass's job)."""
    docs = load_table(spark, sf_dir, "documents", wide_scan=True).select("doc_id", "text")
    dup = spark.read.parquet(f"{index_dir}/dup_grams")
    return _cut_with_spans(docs, substring_spans_against(docs, dup, k))


def dedup_substring_cut_stored(
    spark: SparkSession,
    sf_dir: str,
    k: int = SPAN_K,
    min_docs: int = MIN_DOCS,
) -> DataFrame:
    """The full stored-index cut cycle as ONE query: duplicated grams
    -> parquet -> read back -> rewrite the corpus. Gram hashes are
    int64 and survive parquet losslessly, so the roundtrip is
    bit-identical to :func:`dedup_substring_cut` and ONE oracle gates
    both paths (the registered-cycle pattern of the bpe/pq/winnow/
    media families). Scratch: per-application overwrite-in-place
    (``sources.tables._artifact_dir``)."""
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, "substring_dup_grams")
    substring_write_index(spark, sf_dir, d, k, min_docs)
    return substring_cut_from_index(spark, sf_dir, d, k)


# the stored roundtrip is bit-identical, so one oracle gates both paths



DEDUP_SUBSTRING_CUT_ORACLE = f"""
WITH spans AS MATERIALIZED ({DEDUP_SUBSTRING_SPANS_ORACLE}),
toked AS MATERIALIZED (
  SELECT doc_id, {_T} AS toks FROM documents
),
pos AS (
  SELECT doc_id, g.i AS i, toks[g.i] AS tok
  FROM toked, unnest(generate_series(1, len(toks))) AS g(i)
),
kept AS (
  SELECT p.doc_id, p.i, p.tok
  FROM pos p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id
      AND p.i - 1 BETWEEN s.span_start AND s.span_end
  )
)
SELECT t.doc_id,
       CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(len(t.toks) - count(k.i) AS INT) AS n_cut,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS cleaned_text
FROM toked t
LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, len(t.toks)
"""
DEDUP_SUBSTRING_CUT_STORED_ORACLE = DEDUP_SUBSTRING_CUT_ORACLE
