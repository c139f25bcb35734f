"""BPE tokenizer APPLICATION — the encode half of the tokenizer story
(:mod:`bpe` trains the merges; this applies them to the corpus).

Encoding rule (Sennrich et al. 2016): wrap a word's characters as
one-char symbols and apply each learned merge in rank order as a
greedy-leftmost literal replace — the identical ``|a||b|`` wrapped
representation and replace semantics as training (bpe.py module
docstring), so a word encodes to exactly the symbols training left it
with.

100 TB plan shape — encode the VOCABULARY, not the corpus: the merge
applications run over the distinct-word frame (|vocab| rows, however
big the corpus), producing a (word -> n_subword_tokens) map that is
megabytes for any real tokenizer; that map then BROADCAST-joins onto
the corpus token stream, so the 100 TB side is one scan + map-side
join + one per-source aggregate. No corpus row is ever re-tokenized
per merge, and nothing corpus-sized shuffles.

Output: per-source (source, n_words, n_bpe_tokens, n_chars,
chars_per_token) — the fertility/compression dashboard a tokenizer
change is judged by. All counts are exact integers; the single final
division produces the identical IEEE double in both engines.

The DuckDB oracle re-derives the WHOLE pipeline — training included —
by unrolling the merge loop with the original word carried alongside
the evolving symbol string (a widened twin of
``bpe.bpe_train_merges_oracle``), then joining the encoded vocabulary
back to the unnested corpus: a full second implementation from the
raw table, no baked merge literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.text import tokens_col, tokens_sql
from ..sources.sinks import write_parquet_parallel
from ..sources.tables import _artifact_dir, load_table
from .bpe import (
    _SEP,
    _SYMS_CACHE,
    _syms,
    _wrap_chars,
    BPE_MERGES,
    MERGES_SCHEMA,
    bpe_train_merges_list,
)


def _sym_ids_fold(words, merges: list) -> dict[str, int]:
    """(sym -> sym_id) — sorted corpus alphabet at 0..B-1, merged
    symbols at B + rank - 1, min-id on string collisions: the single
    Python fold shared by :func:`_sym_id_table` (JVM-collected
    alphabet) and the driver-local vocab path (alphabet from the
    collected words). Python's code-point sort equals Spark's
    UTF8String binary order (UTF-8 preserves code-point order)."""
    alphabet = sorted({ch for w in words for ch in w})
    ids: dict[str, int] = {}
    for i, sym in enumerate(alphabet):
        ids[sym] = i
    n_base = len(alphabet)
    for i, (a, b) in enumerate(merges):
        sym = a + b
        sid = n_base + i
        if sym not in ids or sid < ids[sym]:
            ids[sym] = sid
    return ids


def _word_ids_rows(
    syms_map: dict[str, list[str]],
    sym_ids: dict[str, int],
    unk: int | None = None,
) -> list[tuple[str, list[int]]]:
    """(word, ids) rows from the trainer's word->syms memo and a
    symbol-id dict — the driver-local mirror of
    :func:`_word_ids_table` (inner-join semantics when ``unk`` is
    None: every symbol is in the table by construction on the
    training-corpus path; stored-tokenizer callers pass ``unk`` so
    out-of-vocabulary symbols map to the UNK id)."""
    if unk is None:
        return [(w, [sym_ids[s] for s in syms]) for w, syms in syms_map.items()]
    return [
        (w, [sym_ids.get(s, unk) for s in syms])
        for w, syms in syms_map.items()
    ]


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Train ``n_merges`` BPE merges, encode the corpus, report
    per-source token statistics."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_stats_from(
        spark, docs, n_merges=n_merges, cache_key=sf_dir
    )


def bpe_encode_stats_from(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    cache_key: str | None = None,
) -> DataFrame:
    """Library-level body over any (source, text) frame — factored for
    golden tests on hand-built corpora. ``cache_key`` opts into the
    build-once merge-table memo (bpe._MERGES_CACHE)."""
    merges = [
        (left, right)
        for _rank, left, right, _cnt in bpe_train_merges_list(
            spark, docs, n_merges=n_merges, cache_key=cache_key
        )
    ]
    # r18: the local trainer's word->syms memo serves the per-word
    # token counts directly (driver-local, zero extra jobs — see
    # _doc_token_ids); len() == F.length for these words because the
    # tokenizer emits [a-z0-9_]+ only (and the memo is only populated
    # for separator-free vocabularies).
    syms_map = (
        _SYMS_CACHE.get(memo.key(spark, cache_key, tuple(merges)))
        if cache_key is not None
        else None
    )
    if syms_map is not None:
        word_toks = spark.createDataFrame(
            [(w_, len(syms), len(w_)) for w_, syms in syms_map.items()],
            "word string, n_toks int, n_chars_w int",
        )
    else:
        words = (
            docs.select(F.explode(tokens_col("text")).alias("word")).distinct()
        )
        w = _wrap_chars(F.col("word"))
        for a, b in merges:  # rank order; each is greedy-leftmost replace
            w = F.replace(
                w,
                F.lit(f"{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}"),
                F.lit(f"{_SEP}{a}{b}{_SEP}"),
            )
        word_toks = words.select(
            "word",
            F.size(_syms(w)).alias("n_toks"),
            F.length("word").alias("n_chars_w"),
        )
    stream = docs.select(
        "source", F.explode(tokens_col("text")).alias("word")
    )
    return (
        stream.join(F.broadcast(word_toks), "word")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.sum("n_chars_w").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            (
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


_T = tokens_sql("text")


def bpe_encode_stats_oracle(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin: the training unroll of ``bpe_train_merges_oracle``
    widened to carry the original word through every round (pairs are
    still counted over the evolving symbol strings weighted by word
    frequency), then the round-N vocabulary joins the unnested corpus
    stream. MATERIALIZED CTEs for the same exponential-inlining reason
    as the training oracle."""
    parts = [
        f"""
WITH vocab_0 AS MATERIALIZED (
  SELECT word,
         '{_SEP}' || array_to_string(regexp_split_to_array(word, ''),
                                     '{_SEP}{_SEP}') || '{_SEP}' AS w,
         count(*) AS cnt
  FROM (SELECT unnest({_T}) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f""",
pairs_{i} AS MATERIALIZED (
  SELECT syms[j] AS a, syms[j + 1] AS b, sum(cnt) AS total
  FROM (SELECT string_split(trim(w, '{_SEP}'), '{_SEP}{_SEP}') AS syms, cnt
        FROM vocab_{p}),
       unnest(generate_series(1, len(syms) - 1)) AS t(j)
  GROUP BY 1, 2
),
top_{i} AS MATERIALIZED (
  SELECT a, b FROM pairs_{i} ORDER BY total DESC, a ASC, b ASC LIMIT 1
),
vocab_{i} AS MATERIALIZED (
  SELECT word,
         replace(w,
                 '{_SEP}' || (SELECT a FROM top_{i}) || '{_SEP}{_SEP}'
                          || (SELECT b FROM top_{i}) || '{_SEP}',
                 '{_SEP}' || (SELECT a || b FROM top_{i}) || '{_SEP}') AS w,
         cnt
  FROM vocab_{p}
)"""
        )
    parts.append(
        f""",
word_toks AS MATERIALIZED (
  SELECT word,
         len(string_split(trim(w, '{_SEP}'), '{_SEP}{_SEP}')) AS n_toks,
         length(word) AS n_chars_w
  FROM vocab_{n_merges}
),
stream AS (SELECT source, unnest({_T}) AS word FROM documents)
SELECT stream.source,
       count(*) AS n_words,
       CAST(sum(word_toks.n_toks) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(word_toks.n_chars_w) AS BIGINT) AS n_chars,
       CAST(sum(word_toks.n_chars_w) AS DOUBLE)
         / CAST(sum(word_toks.n_toks) AS DOUBLE) AS chars_per_token
FROM stream JOIN word_toks ON stream.word = word_toks.word
GROUP BY stream.source"""
    )
    return "".join(parts)


BPE_ENCODE_STATS_ORACLE = bpe_encode_stats_oracle()


# ------------------------------------------ token-ID sequences (r7)


def bpe_encode_ids(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Train merges, then emit each document's actual BPE TOKEN-ID
    sequence — the tokenize-for-training step itself, completing the
    tokenizer story (train -> fertility stats -> id sequences).

    Vocabulary ids are assigned the standard way (HF BPE): the sorted
    corpus alphabet takes ids 0..B-1, merged symbols take
    B + merge_rank - 1; if two different merges ever produce the same
    symbol string, encoding uses the smaller id (min-id dedup,
    mirrored in the oracle).

    Output: (doc_id, n_tokens, ids_digest) — the digest is md5 over
    the comma-joined id sequence, covering every id in order with a
    canon-safe scalar (the array itself is order-sensitive data the
    driver's order-insensitive row hash can't gate directly).

    100 TB shape: everything vocabulary-sized (encode chain, symbol
    table, word->ids map) happens on the distinct-word frame and
    BROADCASTS; the corpus contributes one positional token explode,
    a map-side join, and one per-doc ordered flatten — text never
    shuffles, and no corpus row is touched per merge.
    """
    return bpe_encode_ids_from(
        load_table(spark, sf_dir, "documents"),
        spark=spark,
        n_merges=n_merges,
        cache_key=sf_dir,
    )


def bpe_encode_ids_from(
    docs: DataFrame,
    spark: SparkSession,
    n_merges: int = BPE_MERGES,
    cache_key: str | None = None,
) -> DataFrame:
    flat = _doc_token_ids(docs, spark, n_merges, cache_key=cache_key)
    return _digest_select(flat)


def _digest_select(flat: DataFrame) -> DataFrame:
    return flat.select(
        "doc_id",
        F.size("fl").cast("bigint").alias("n_tokens"),
        F.md5(
            F.concat_ws(",", F.transform("fl", lambda x: x.cast("string")))
        ).alias("ids_digest"),
    )


# word -> id-array maps are vocab-sized build-once artifacts too,
# memoized per n_merges (policy in memo.py).
_WORD_IDS_CACHE: dict[tuple, DataFrame] = memo.store()


def _doc_token_ids(
    docs: DataFrame,
    spark: SparkSession,
    n_merges: int = BPE_MERGES,
    cache_key: str | None = None,
) -> DataFrame:
    """(doc_id, fl): each document's full token-id array — the shared
    body of :func:`bpe_encode_ids` and :func:`pack_token_ids`."""
    word_ids = (
        _word_ids(docs, spark, n_merges, None)
        if cache_key is None
        else memo.get_or_build(
            _WORD_IDS_CACHE,
            memo.key(spark, cache_key, n_merges),
            lambda: _word_ids(docs, spark, n_merges, cache_key),
        )
    )
    return _ids_stream_join(docs, word_ids)


def _word_ids(
    docs: DataFrame, spark: SparkSession, n_merges: int, cache_key: str | None
) -> DataFrame:
    """(word, ids): the encoded vocabulary of ``docs``."""
    merges = [
        (left, right)
        for _rank, left, right, _cnt in bpe_train_merges_list(
            spark, docs, n_merges=n_merges, cache_key=cache_key
        )
    ]
    # r18 (guide §1.2, §5): when the driver-local trainer ran, its
    # end state IS the encoded vocabulary (word -> final syms), so the
    # whole word->ids table — vocab-sized, broadcast downstream either
    # way — assembles on the driver with zero extra jobs, skipping the
    # replace-chain codegen compile, the alphabet-collect job and the
    # posexplode+join+groupBy+localCheckpoint id-map job. Corpora the
    # local trainer didn't cover (vocab above the cap, or a word
    # containing the separator) stay on the JVM pipeline below.
    syms_map = (
        _SYMS_CACHE.get(memo.key(spark, cache_key, tuple(merges)))
        if cache_key is not None
        else None
    )
    if syms_map is not None:
        rows = _word_ids_rows(syms_map, _sym_ids_fold(syms_map, merges))
        return spark.createDataFrame(rows, "word string, ids array<bigint>")
    word_syms = _encode_word_syms(docs, merges)
    return _word_ids_table(word_syms, _sym_id_table(word_syms, merges, spark))


def _encode_word_syms(docs: DataFrame, merges: list) -> DataFrame:
    """(word, syms): the distinct-word frame encoded with the merge
    chain (rank-order greedy-leftmost replaces), persisted — callers
    MUST route it through :func:`_word_ids_table`, which unpersists
    after materializing the id map."""
    words = docs.select(F.explode(tokens_col("text")).alias("word")).distinct()
    w = _wrap_chars(F.col("word"))
    for a, b in merges:
        w = F.replace(
            w, F.lit(f"{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}"), F.lit(f"{_SEP}{a}{b}{_SEP}")
        )
    return words.select("word", _syms(w).alias("syms")).persist()


def _sym_id_table(
    word_syms: DataFrame, merges: list, spark: SparkSession
) -> DataFrame:
    """(sym, sym_id): sorted corpus alphabet at 0..B-1, merged symbols
    at B + rank - 1, min-id on string collisions.

    r17: the alphabet is BOUNDED (distinct characters of the token
    stream — dozens of rows at any corpus size), so it is collected
    once and the whole id table is assembled on the driver as a local
    relation; the old plan ran a separate count job plus a global
    row_number window plus a union+groupBy just to number it. Ordering
    is unchanged: Python's code-point sort equals Spark's UTF8String
    binary order (UTF-8 preserves code-point order), and the min-id
    collision rule is the same dict fold."""
    base = (
        word_syms.select(F.explode(F.split("word", "")).alias("sym"))
        .filter(F.col("sym") != "")
        .distinct()
    )
    alphabet = [r["sym"] for r in base.collect()]  # bounded rows
    ids = _sym_ids_fold(alphabet, merges)
    return spark.createDataFrame(
        sorted(ids.items()), "sym string, sym_id bigint"
    )


UNK_ID = -1  # id for symbols outside a STORED tokenizer's vocabulary


def _word_ids_table(
    word_syms: DataFrame, sym_ids: DataFrame, unk: int | None = None
) -> DataFrame:
    """(word, ids): per-word ordered id arrays, localCheckpoint'd
    (vocab-sized, survives clearCache); unpersists ``word_syms``.
    ``unk=None`` (training-corpus path) inner-joins — every symbol is
    in the table by construction; a STORED tokenizer applied to a new
    corpus passes ``unk=UNK_ID`` so out-of-vocabulary symbols map to
    the UNK id instead of silently dropping."""
    exploded = word_syms.select("word", F.posexplode("syms").alias("pos", "sym"))
    if unk is None:
        joined = exploded.join(F.broadcast(sym_ids), "sym").select(
            "word", "pos", "sym_id"
        )
    else:
        joined = (
            exploded.join(F.broadcast(sym_ids), "sym", "left")
            .select(
                "word",
                "pos",
                F.coalesce(F.col("sym_id"), F.lit(unk)).alias("sym_id"),
            )
        )
    word_ids = (
        joined.groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym_id"))),
                lambda t: t["sym_id"],
            ).alias("ids")
        )
        # eager materialization: vocab-sized, survives clearCache
        .localCheckpoint()
    )
    word_syms.unpersist()
    return word_ids


def _ids_stream_join(docs: DataFrame, word_ids: DataFrame) -> DataFrame:
    """(doc_id, fl): broadcast the word->ids map onto the positional
    token stream and flatten per doc in order — the corpus-sized half
    of the ids pipeline, shared by fresh and memo-hit paths."""
    stream = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("tpos", "word")
    )
    return (
        stream.join(F.broadcast(word_ids), "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "ids"))),
                    lambda t: t["ids"],
                )
            ).alias("fl")
        )
    )


def _ids_chain_sql(n_merges: int = BPE_MERGES) -> str:
    """The shared train->encode->per-doc-id-array CTE chain, ending in
    ``flat(doc_id, fl)`` — composed by the ids oracle and the packing
    oracle (same factoring as pq._pq_chain_sql)."""
    parts = [
        f"""
WITH vocab_0 AS MATERIALIZED (
  SELECT word,
         '{_SEP}' || array_to_string(regexp_split_to_array(word, ''),
                                     '{_SEP}{_SEP}') || '{_SEP}' AS w,
         count(*) AS cnt
  FROM (SELECT unnest({_T}) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f""",
pairs_{i} AS MATERIALIZED (
  SELECT syms[j] AS a, syms[j + 1] AS b, sum(cnt) AS total
  FROM (SELECT string_split(trim(w, '{_SEP}'), '{_SEP}{_SEP}') AS syms, cnt
        FROM vocab_{p}),
       unnest(generate_series(1, len(syms) - 1)) AS t(j)
  GROUP BY 1, 2
),
top_{i} AS MATERIALIZED (
  SELECT a, b FROM pairs_{i} ORDER BY total DESC, a ASC, b ASC LIMIT 1
),
vocab_{i} AS MATERIALIZED (
  SELECT word,
         replace(w,
                 '{_SEP}' || (SELECT a FROM top_{i}) || '{_SEP}{_SEP}'
                          || (SELECT b FROM top_{i}) || '{_SEP}',
                 '{_SEP}' || (SELECT a || b FROM top_{i}) || '{_SEP}') AS w,
         cnt
  FROM vocab_{p}
)"""
        )
    mtab = " UNION ALL ".join(
        f"SELECT {i} AS rnk, a || b AS sym FROM top_{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append(
        f""",
word_syms AS MATERIALIZED (
  SELECT word, string_split(trim(w, '{_SEP}'), '{_SEP}{_SEP}') AS syms
  FROM vocab_{n_merges}
),
base AS (
  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS sym_id
  FROM (
    SELECT DISTINCT ch AS sym
    FROM (SELECT unnest(regexp_split_to_array(word, '')) AS ch FROM vocab_0)
    WHERE ch <> ''
  )
),
mtab AS ({mtab}),
sym_ids AS (
  SELECT sym, min(sym_id) AS sym_id FROM (
    SELECT sym, sym_id FROM base
    UNION ALL
    SELECT sym, (SELECT count(*) FROM base) + rnk - 1 AS sym_id FROM mtab
  ) GROUP BY sym
),
word_ids AS MATERIALIZED (
  SELECT word, list(sym_id ORDER BY ord) AS ids
  FROM (SELECT word, syms[j] AS sym, j AS ord
        FROM word_syms, unnest(generate_series(1, len(syms))) AS t(j))
  JOIN sym_ids USING (sym)
  GROUP BY word
),
stream AS (
  SELECT doc_id, toks[j] AS word, j AS ord
  FROM (SELECT doc_id, {_T} AS toks FROM documents),
       unnest(generate_series(1, len(toks))) AS t(j)
),
flat AS (
  SELECT doc_id, flatten(list(ids ORDER BY ord)) AS fl
  FROM stream JOIN word_ids USING (word)
  GROUP BY doc_id
)"""
    )
    return "".join(parts)


def bpe_encode_ids_oracle(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin: the stats oracle's word-carrying training unroll,
    extended with the symbol-id table (sorted alphabet, then merges by
    rank, min-id on string collisions), per-word ordered id lists, and
    the per-doc ordered flatten + digest."""
    return (
        _ids_chain_sql(n_merges)
        + """
SELECT doc_id, CAST(len(fl) AS BIGINT) AS n_tokens,
       md5(array_to_string(fl, ',')) AS ids_digest
FROM flat"""
    )


BPE_ENCODE_IDS_ORACLE = bpe_encode_ids_oracle()


# ------------------------------------------ packed training rows (r7)


def pack_token_ids(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The end of the training-data pipeline: pack each document's
    ACTUAL token-id sequence (:func:`bpe_encode_ids`'s arrays) into
    fixed-budget training rows — the literal batches a trainer reads.

    Packing mirrors ``pack_sequences``' parallel-deterministic scheme
    (md5-bucketed independent streams, per-stream (doc_id)-ordered
    prefix sum, bin = floor(prefix_before / PACK_BUDGET); a bin may
    overshoot by less than one document — the straddler is not split,
    as documented there). The difference is the payload: each bin
    carries the md5 digest of its concatenated id sequence in stream
    order, so the oracle gates the exact CONTENT of every training
    row, not just its token count.

    100 TB shape: ids ride the same vocab-broadcast plan as
    bpe_encode_ids; packing adds one bucket-keyed shuffle and a
    per-stream window — bucket count is the parallelism knob.

    Output: (bucket, bin_id, n_docs, bin_tokens, ids_digest).
    """
    from pyspark.sql import Window

    from .text_analysis import PACK_BUDGET, pack_bucket_col

    docs = load_table(spark, sf_dir, "documents")
    ids = _doc_token_ids(docs, spark, n_merges, cache_key=sf_dir).select(
        "doc_id", "fl", F.size("fl").cast("bigint").alias("n_toks")
    )
    bucket = pack_bucket_col(F.col("doc_id"))
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = ids.withColumn("bucket", bucket).withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_toks").over(w), F.lit(0)) / PACK_BUDGET).cast(
            "bigint"
        ),
    )
    return binned.groupBy("bucket", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("bin_tokens"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.flatten(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("doc_id", "fl"))),
                            lambda t: t["fl"],
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("ids_digest"),
    )


def pack_token_ids_oracle(n_merges: int = BPE_MERGES) -> str:
    from .text_analysis import PACK_BUCKETS, PACK_BUDGET

    return (
        _ids_chain_sql(n_merges)
        + f""",
bucketed AS (
  SELECT doc_id, fl, len(fl) AS n_toks,
         CAST(CAST(concat('0x', substr(md5(concat('pk|', CAST(doc_id AS VARCHAR))), 1, 15))
                   AS BIGINT) % {PACK_BUCKETS} AS INT) AS bucket
  FROM flat
),
binned AS (
  SELECT bucket, doc_id, fl, n_toks,
         CAST(floor(coalesce(sum(n_toks) OVER (
                 PARTITION BY bucket ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {PACK_BUDGET}) AS BIGINT) AS bin_id
  FROM bucketed
)
SELECT bucket, bin_id, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
       md5(array_to_string(flatten(list(fl ORDER BY doc_id)), ',')) AS ids_digest
FROM binned
GROUP BY bucket, bin_id"""
    )


PACK_TOKEN_IDS_ORACLE = pack_token_ids_oracle()


# ---------------------------------- persisted tokenizer (r7)


def bpe_write_tokenizer(
    spark: SparkSession, sf_dir: str, tokenizer_dir: str, n_merges: int = BPE_MERGES
) -> None:
    """Materialize the trained tokenizer to storage: the merge table
    (rank order) AND the symbol-id vocabulary as parquet — the
    artifact a production pipeline trains once and ships everywhere
    (HF tokenizer.json's moral equivalent). Storing the vocabulary is
    what makes token ids stable across corpora: re-deriving ids from
    an encode-time alphabet would shift every id the moment the
    target corpus's character set differs (round-7 review finding).
    The in-session memos cover repeat queries; this covers repeat
    sessions and other consumers."""
    docs = load_table(spark, sf_dir, "documents")
    merge_rows = bpe_train_merges_list(
        spark, docs, n_merges=n_merges, cache_key=sf_dir
    )
    merges = [(left, right) for _rank, left, right, _cnt in merge_rows]
    # r18: the symbol-id vocabulary derives from (alphabet chars,
    # merges) only — with the local trainer's word memo on hand the
    # whole table assembles on the driver (the exact rows
    # _sym_id_table produces: it already builds from a collected
    # alphabet + the same fold).
    syms_map = _SYMS_CACHE.get(memo.key(spark, sf_dir, tuple(merges)))
    if syms_map is not None:
        sym_ids = spark.createDataFrame(
            sorted(_sym_ids_fold(syms_map, merges).items()),
            "sym string, sym_id bigint",
        )
        word_syms = None
    else:
        word_syms = _encode_word_syms(docs, merges)
        sym_ids = _sym_id_table(word_syms, merges, spark)
    # r18: merge table and vocabulary are independent frames — overlap
    # their write jobs (guide §2.6)
    write_parquet_parallel(
        (
            spark.createDataFrame(merge_rows, MERGES_SCHEMA),
            f"{tokenizer_dir}/merges",
        ),
        (sym_ids, f"{tokenizer_dir}/vocab"),
    )
    if word_syms is not None:
        word_syms.unpersist()


def bpe_encode_ids_with(
    spark: SparkSession, sf_dir: str, tokenizer_dir: str
) -> DataFrame:
    """Encode a corpus with a PERSISTED tokenizer — no training: the
    stored merge table drives the encode chain and the STORED
    vocabulary supplies the ids, so the same word always gets the same
    token ids whatever corpus it appears in. Symbols outside the
    stored vocabulary (characters the training corpus never saw) map
    to ``UNK_ID`` instead of silently dropping. Identical output to
    :func:`bpe_encode_ids` when applied to the training corpus
    (roundtrip pytest); id-stability across corpora has its own
    pytest."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in spark.read.parquet(f"{tokenizer_dir}/merges")
        .orderBy("merge_rank")
        .collect()
    ]
    sym_ids = spark.read.parquet(f"{tokenizer_dir}/vocab")
    # r18: when the stored merge table is exactly a trajectory the
    # local trainer memoized for THIS corpus (the registered stored
    # cycle re-encodes the training corpus), the trainer's word->syms
    # end state applies verbatim: the word->ids map assembles on the
    # driver from the STORED vocabulary (collected — it is vocab-sized
    # and broadcast downstream either way), UNK semantics included.
    # Any other (corpus, tokenizer) pairing stays on the JVM path.
    syms_map = _SYMS_CACHE.get(memo.key(spark, sf_dir, tuple(merges)))
    if syms_map is not None:
        stored_ids = {
            r["sym"]: r["sym_id"] for r in sym_ids.collect()
        }  # vocab-sized
        rows = _word_ids_rows(syms_map, stored_ids, unk=UNK_ID)
        word_ids = spark.createDataFrame(rows, "word string, ids array<bigint>")
    else:
        word_syms = _encode_word_syms(docs, merges)
        word_ids = _word_ids_table(word_syms, sym_ids, unk=UNK_ID)
    return _digest_select(_ids_stream_join(docs, word_ids))


def bpe_encode_ids_stored(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The full cross-session tokenizer cycle as ONE registered query:
    train -> :func:`bpe_write_tokenizer` (merge table + vocabulary to
    parquet) -> :func:`bpe_encode_ids_with` reading ONLY the stored
    artifact. Output is identical to :func:`bpe_encode_ids` on the
    training corpus (the roundtrip is bit-identical, pinned by
    pytest), so the same end-to-end DuckDB oracle hash-gates the
    write/read-back path — this query exists so the persisted-artifact
    surface carries a hard driver stamp, not just pytest evidence
    (round-7 verdict, "What's missing" #2).

    100 TB shape: unchanged from the online path — the artifact is
    vocabulary-sized (megabytes), written once and broadcast-joined
    onto the corpus token stream; the corpus never shuffles.
    """
    d = _artifact_dir(spark, sf_dir, f"tokenizer_{n_merges}m")
    bpe_write_tokenizer(spark, sf_dir, d, n_merges=n_merges)
    return bpe_encode_ids_with(spark, sf_dir, d)


# same digest contract as bpe_encode_ids; the stored roundtrip is
# bit-identical on the training corpus, so the train+encode oracle
# re-derives the artifact + application end-to-end
BPE_ENCODE_IDS_STORED_ORACLE = BPE_ENCODE_IDS_ORACLE
