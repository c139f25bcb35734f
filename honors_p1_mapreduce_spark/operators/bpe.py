"""Distributed BPE merge training over the document corpus.

Byte-pair encoding (Sennrich, Haddow, Birch 2016, arXiv:1508.07909,
public) learns a subword vocabulary by repeatedly merging the most
frequent adjacent symbol pair — the tokenizer-training step of every
LLM data pipeline. The classic efficiency structure is kept: training
runs over the WORD-FREQUENCY table (unique word, count), not the raw
corpus, so each round's pair count aggregates |vocab|·avg_word_len
rows no matter how big the corpus is — the corpus is scanned exactly
once, to build the vocabulary.

Symbol-sequence representation (shared with the oracle): a word's
symbols are kept as a delimiter-wrapped string ``|s1||s2||...|``.
Tokens are ``[a-z0-9_]`` (functions/text.py), so ``|`` can't occur in
a symbol, and applying a merge is ONE literal string replace:
``replace(w, '|a||b|', '|ab|')`` — leftmost non-overlapping greedy,
which is exactly BPE's merge-application rule, with identical
semantics in Spark and DuckDB (verified: ``'|a||a||a|'`` merges to
``'|aa||a|'`` in both).

Pair counts are DELTA-MAINTAINED across rounds (the production BPE
trainer structure — what HuggingFace tokenizers/sentencepiece do
in-memory, expressed as dataflow): the full |vocab|·avg_word_len
pair explode runs ONCE to seed the count frame, and each merge round
then touches only the words that actually CONTAIN the merged pair —
adjacency in the wrapped representation is exactly the substring
``|a||b|``, so the touched set is one literal `contains` filter.
The round subtracts those words' old pair multiset, adds their
post-replace pair multiset, and sum-merges the deltas into the
maintained frame (invariant: untouched words contribute identical
pairs, so counts stay exact). At a production 32 K-merge run this is
the difference between 32 K full-vocab shuffles and 32 K
touched-fraction-sized ones — late rounds touch a vanishing slice of
the vocabulary (measured in round 6, git history). Below
``BPE_INCREMENTAL_MIN_VOCAB`` words the trainer falls back to full
per-round recompute: on a toy vocab the delta machinery's extra
per-round jobs cost more than the explode they avoid, and the two
strategies are trajectory-identical either way.

Each round is: deterministic argmax over the maintained counts
(count DESC, pair ASC) → one-row collect to the driver → literal
replace over the touched slice → delta merge. The per-round
single-row collect is the same justified driver scalar as
``dedup_clusters``' convergence checksum; the vocab and count frames
are localCheckpoint'd per round so the iterative lineage stays flat.
Ties and counts are exact integers — fully deterministic, and the
DuckDB oracle unrolls the loop as CTE chains recomputing ALL pair
counts from scratch each round (no baked literals), so the
incremental maintenance is hash-checked end to end against a
full-recompute twin; tests/test_bpe.py adds a second independent
full-recompute reference (pure-Python Counter) under hypothesis.

Output: (merge_rank, merge_left, merge_right, pair_count) — the
learned merge table in order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_col, tokens_sql
from ..sources.tables import corpus_token, load_table

BPE_MERGES = 10  # merge rounds to learn

_SEP = "|"


def _wrap_chars(word) -> F.Column:
    """'abc' -> '|a||b||c|' (initial one-char symbols, wrapped)."""
    return F.concat(
        F.lit(_SEP),
        F.array_join(F.split(word, ""), _SEP + _SEP),
        F.lit(_SEP),
    )


def _syms(wrapped) -> F.Column:
    return F.split(F.btrim(wrapped, F.lit(_SEP)), r"\|\|")


def _memo_key(spark: SparkSession, cache_key: str, params) -> tuple:
    """The (application, corpus dir, corpus snapshot, params) key of
    every BPE memo: ``params`` is ``n_merges`` for the merge tables
    and bpe_encode._WORD_IDS_CACHE, and the rank-ordered (left, right)
    merge pairs for the word->syms memo."""
    return (
        spark.sparkContext.applicationId,
        cache_key,
        corpus_token(cache_key),
        params,
    )


# Learned merge tables are build-once tokenizer artifacts (same
# argument as pq._CODEBOOK_CACHE): train once per (application,
# corpus, corpus snapshot token, n_merges), serve every downstream
# encode/pack query from the
# memoized merge list. The cached value is a tiny driver-side Python
# list, training is deterministic, so a hit reproduces bit-identical
# outputs and every oracle is unmoved.
_MERGES_CACHE: dict[tuple, list] = {}

# Companion memo (r18): word -> final symbol list, the LOCAL trainer's
# end state (every accepted merge applied in rank order to every vocab
# word) — exactly what the encode side's replace chain recomputes per
# word, so encode consumers that share the training corpus build their
# vocab-sized word->ids table on the driver with ZERO extra jobs (and
# skip the replace-chain codegen compile). Populated only when the
# driver-local trainer ran AND no word contains the separator (a word
# containing _SEP is ambiguous in the wrapped representation, so those
# corpora stay on the JVM path end to end — the standard tokenizer
# [a-z0-9_]+ can never produce one). Keyed by the tuple of (left,
# right) merge pairs whose end state it holds, so a consumer holding a
# merge list — trained or read back from a stored tokenizer — finds it
# in one lookup; same reset discipline as _MERGES_CACHE
# (registry.reset_memos clears it).
_SYMS_CACHE: dict[tuple, dict[str, list[str]]] = {}


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges_from(
        spark, docs, n_merges=n_merges, cache_key=sf_dir
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, total) count-weighted adjacent-pair aggregate of a
    (w, cnt) vocab frame — the explode that the incremental trainer
    runs once over the full vocab and then only over touched slices."""
    syms = _syms(F.col("w"))
    return (
        vocab.select(
            F.explode(
                F.when(
                    F.size(syms) < 2,
                    F.array().cast("array<struct<a:string,b:string>>"),
                ).otherwise(
                    F.zip_with(
                        F.slice(syms, 1, F.size(syms) - 1),
                        F.slice(syms, 2, F.size(syms) - 1),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("total"))
    )


# below this vocab size the delta machinery's extra per-round jobs
# (touched filter, two small aggregates, a second checkpoint) cost
# more than just re-exploding the whole tiny vocab — measured at the
# driver corpus's ~31-word vocab, full recompute is ~2-4x faster per
# round, while at 100 K+ words the explode dominates and delta wins
# (both corpora measured in round 6, git history)
BPE_INCREMENTAL_MIN_VOCAB = 4096

# Sequential greedy BPE launches >= 1 Spark job per merge round (the
# argmax's 1-row collect) — at a production 32 K merges that is 32 K
# job launches regardless of how cheap delta maintenance made each
# round (round-6 verdict #4; the distributed rounds/second bound was
# measured in round 7, git history). The standard fix is
# the one every production trainer uses: the corpus-sized work (scan
# + word-frequency aggregate) stays distributed, and the MERGE LOOP —
# whose working set is only the distinct-word vocab — runs
# driver-local once that vocab fits in memory. _local_bpe below is a
# heap + inverted-index trainer over the identical wrapped-symbol
# representation with the identical (count DESC, pair ASC) argmax and
# the identical leftmost non-overlapping replace (Python str.replace
# == Spark/DuckDB replace for these patterns), so trajectories are
# bit-identical (pinned by tests + the full-recompute DuckDB oracle).
# Threshold derivation (MEASURED, advisor r7 — the earlier "~100 B/
# word" estimate ignored the pair Counter + pair->word-index sets'
# Python object overhead): tracemalloc peak over _local_bpe on a
# 50k-word random vocab (3-12 chars, 200 merges) is 59 MB ≈ 1.2 KB
# per word, so the working set is ~1.2 GB per MILLION words. 400k
# words ≈ 0.5 GB — comfortable inside a typical 4-8 GB driver while
# leaving headroom for the collected rows themselves; corpora whose
# DISTINCT-WORD vocab exceeds this fall back to the distributed
# incremental loop, which has no driver-side working set.
BPE_LOCAL_FINISH_MAX_VOCAB = 400_000


def _local_pairs(w: str) -> list[tuple[str, str]]:
    syms = w.strip(_SEP).split(_SEP + _SEP)
    return list(zip(syms, syms[1:]))


def _local_bpe(
    rows: list[tuple[str, int]], n_merges: int, return_words: bool = False
):
    """Driver-local BPE merge loop: lazy-deletion heap for the argmax,
    inverted pair->word index so each round touches only words that
    contain the merged pair — the in-memory mirror of the dataflow
    loop's delta maintenance. ~30k merges/s on a 30k-word vocab
    (probe script), vs ~1.5 rounds/s for the per-round Spark jobs.

    ``return_words=True`` additionally returns the FINAL wrapped word
    strings (aligned with ``rows``) — each is the input word with
    every accepted merge applied in rank order, i.e. exactly what the
    encode side's rank-order greedy-leftmost replace chain
    (bpe_encode._encode_word_syms) recomputes per word. Returning it
    lets the encode consumers skip that recompute (r18, guide §1.2:
    don't compute things twice)."""
    import heapq
    from collections import Counter, defaultdict

    words = [w for w, _ in rows]
    cnts = [int(c) for _, c in rows]
    counts: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for i, w in enumerate(words):
        for p in _local_pairs(w):
            counts[p] += cnts[i]
            index[p].add(i)
    heap = [(-t, a, b) for (a, b), t in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = None
        while heap:
            negt, a, b = heap[0]
            if -negt > 0 and counts.get((a, b), 0) == -negt:
                top = (a, b, -negt)
                break
            heapq.heappop(heap)  # stale (count changed or dead pair)
        if top is None:
            break
        a, b, total = top
        merges.append((rank, a, b, total))
        pat = f"{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}"
        new = f"{_SEP}{a}{b}{_SEP}"
        changed: set = set()
        for i in sorted(index[(a, b)]):
            w, c = words[i], cnts[i]
            old_p = _local_pairs(w)
            w2 = w.replace(pat, new)
            new_p = _local_pairs(w2)
            words[i] = w2
            for p in old_p:
                counts[p] -= c
                changed.add(p)
                index[p].discard(i)
            for p in new_p:
                counts[p] += c
                changed.add(p)
                index[p].add(i)
        for p in changed:
            t = counts[p]
            if t > 0:
                heapq.heappush(heap, (-t, p[0], p[1]))
            else:
                counts.pop(p, None)
                index.pop(p, None)
    if return_words:
        return merges, words
    return merges


MERGES_SCHEMA = (
    "merge_rank int, merge_left string, merge_right string, "
    "pair_count bigint"
)


def bpe_train_merges_from(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    incremental: bool | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """Library-level trainer over any (doc_id, text) frame — the body
    of :func:`bpe_train_merges`, factored for golden tests on
    hand-built corpora. DataFrame wrapper over
    :func:`bpe_train_merges_list`."""
    return spark.createDataFrame(
        bpe_train_merges_list(
            spark, docs, n_merges, incremental=incremental, cache_key=cache_key
        ),
        MERGES_SCHEMA,
    )


def bpe_train_merges_list(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    incremental: bool | None = None,
    cache_key: str | None = None,
) -> list[tuple[int, str, str, int]]:
    """The merge table as rank-ordered DRIVER rows (merge_rank,
    merge_left, merge_right, pair_count) — the trainer's natural
    output: both strategies end with a Python list (the driver-local
    loop computes it directly; the distributed loop appends one row
    per round). The r17 pre-optimization shape returned only a
    DataFrame, so every encode-side consumer paid a
    createDataFrame -> orderBy -> collect py4j roundtrip (~1-2.7 s
    cold at sf0.1) to get back the list the trainer already held.

    ``incremental=None`` (the default) picks the strategy by vocab
    size: DRIVER-LOCAL merge loop (``_local_bpe`` — corpus scan and
    word-frequency aggregate stay distributed, the vocab-sized merge
    loop collects once) up to ``BPE_LOCAL_FINISH_MAX_VOCAB`` words,
    else the distributed delta-maintained loop. ``incremental=True``
    / ``False`` force the two distributed strategies (delta-maintained
    vs full per-round recompute) for probes and differentials. All
    three produce bit-identical trajectories (probe + hypothesis
    differential + the full-recompute DuckDB oracle); only the
    per-round execution differs. ``cache_key`` (the corpus dir) opts
    into the build-once merge-table memo above; forced-strategy calls
    (probes, differentials) leave it unset and always retrain.
    """
    key = None
    if cache_key is not None and incremental is None:
        key = _memo_key(spark, cache_key, n_merges)
        hit = _MERGES_CACHE.get(key)
        if hit is not None:
            # shallow copy of tuples (advisor r17): a caller mutating
            # the returned list (sort, append) must not corrupt the
            # memo for every later consumer in the session
            return list(hit)
    vocab = (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select("word", _wrap_chars(F.col("word")).alias("w"), "cnt")
        .localCheckpoint()
    )
    if incremental is None:
        n_vocab = vocab.count()
        if n_vocab <= BPE_LOCAL_FINISH_MAX_VOCAB:
            collected = vocab.collect()
            local, final_words = _local_bpe(
                [(r["w"], r["cnt"]) for r in collected],
                n_merges,
                return_words=True,
            )
            if key is not None:
                _MERGES_CACHE[key] = list(local)
                orig = [r["word"] for r in collected]
                if all(_SEP not in w for w in orig):
                    pairs = tuple((lf, rt) for _rk, lf, rt, _c in local)
                    _SYMS_CACHE[_memo_key(spark, cache_key, pairs)] = {
                        w: fw.strip(_SEP).split(_SEP + _SEP)
                        for w, fw in zip(orig, final_words)
                    }
            return local
        incremental = True
    vocab = vocab.select("w", "cnt")
    counts = _pair_counts(vocab).localCheckpoint() if incremental else None
    # union below is narrow (n + n partitions) — without this coalesce
    # target the vocab frame would DOUBLE its partition count every
    # round (32 -> 32·2^rounds tiny partitions by the checkpoints)
    n_parts = vocab.rdd.getNumPartitions()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        src = counts if incremental else _pair_counts(vocab)
        row = (
            src.orderBy(F.desc("total"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not row:  # vocabulary fully merged — stop early
            break
        a, b, total = row[0]["a"], row[0]["b"], row[0]["total"]
        merges.append((rank, a, b, int(total)))
        replace_expr = F.expr(
            f"replace(w, '{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}', "
            f"'{_SEP}{a}{b}{_SEP}')"
        ).alias("w")
        if not incremental:
            vocab = vocab.select(replace_expr, "cnt").localCheckpoint()
            continue
        # adjacency == the literal substring |a||b| (symbols can't
        # contain the separator), so this filter is exactly the set of
        # words whose pair multiset changes this round
        pat = f"{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}"
        touched = vocab.filter(F.col("w").contains(pat))
        merged = touched.select(replace_expr, "cnt")
        delta = _pair_counts(touched).select(
            "a", "b", (-F.col("total")).alias("total")
        ).unionAll(_pair_counts(merged))
        counts = (
            counts.unionAll(delta)
            .groupBy("a", "b")
            .agg(F.sum("total").alias("total"))
            .filter(F.col("total") > 0)
            .localCheckpoint()
        )
        vocab = (
            vocab.filter(~F.col("w").contains(pat))
            .unionAll(merged)
            .coalesce(n_parts)
            .localCheckpoint()
        )
    if key is not None:
        _MERGES_CACHE[key] = list(merges)
    return merges


_T = tokens_sql("text")


def bpe_train_merges_oracle(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin: the merge loop unrolled — each round recomputes
    its own top pair from the previous vocab (scalar subqueries into
    the literal replace), so the oracle re-derives the entire training
    trajectory rather than replaying baked answers. Every CTE is
    MATERIALIZED: without it DuckDB inlines the chain and the three
    scalar subqueries per round re-evaluate all prior rounds — an
    exponential blowup that exhausted file handles at 10 rounds."""
    parts = [
        f"""
WITH vocab_0 AS MATERIALIZED (
  SELECT '{_SEP}' || array_to_string(regexp_split_to_array(word, ''),
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
  SELECT {i} AS merge_rank, a, b, total
  FROM pairs_{i} ORDER BY total DESC, a ASC, b ASC LIMIT 1
),
vocab_{i} AS MATERIALIZED (
  SELECT replace(w,
                 '{_SEP}' || (SELECT a FROM top_{i}) || '{_SEP}{_SEP}'
                          || (SELECT b FROM top_{i}) || '{_SEP}',
                 '{_SEP}' || (SELECT a || b FROM top_{i}) || '{_SEP}') AS w,
         cnt
  FROM vocab_{p}
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST(merge_rank AS INT) AS merge_rank, a AS merge_left, "
        f"b AS merge_right, CAST(total AS BIGINT) AS pair_count FROM top_{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append(f"\n{selects}")
    return "".join(parts)


BPE_TRAIN_MERGES_ORACLE = bpe_train_merges_oracle()
