"""Golden tests for distributed BPE merge training (operators/bpe.py;
oracle parity for the full 10-round trajectory runs via the registry
sweep in test_reference_parity.py)."""

from __future__ import annotations

from honors_p1_mapreduce_spark.operators.bpe import bpe_train_merges_from


def test_bpe_classic_merges(spark):
    """The Sennrich et al. worked example: on {low x5, lower x2,
    newest x6, widest x3} the first merge is (e,s) with count 9 (tie
    with (s,t) broken lexicographically) and the second is (es,t)."""
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    out = bpe_train_merges_from(spark, docs, n_merges=3).collect()
    got = [(r["merge_rank"], r["merge_left"], r["merge_right"], r["pair_count"]) for r in out]
    assert got[0] == (1, "e", "s", 9)
    assert got[1] == (2, "es", "t", 9)
    assert len(got) == 3


def test_bpe_greedy_nonoverlap(spark):
    """'aaaa' x3: pair (a,a) counts every adjacent slot (3 per word),
    and applying the merge left-to-right greedily yields (aa)(aa), so
    the next round's top pair is (aa,aa)."""
    docs = spark.createDataFrame([(1, "aaaa aaaa aaaa")], ["doc_id", "text"])
    out = bpe_train_merges_from(spark, docs, n_merges=2).collect()
    got = [(r["merge_left"], r["merge_right"], r["pair_count"]) for r in out]
    assert got[0] == ("a", "a", 9)   # 3 adjacent pairs x 3 occurrences
    assert got[1] == ("aa", "aa", 3)


def test_bpe_incremental_matches_full_recompute(spark):
    """The delta-maintained pair-count path (auto-selected only above
    BPE_INCREMENTAL_MIN_VOCAB words in production) must produce the
    bit-identical merge trajectory to full per-round recompute —
    forced here on the classic corpus plus a tie-heavy one."""
    for text in [
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),
        "aaaa aaab abab baba aa ab ba bb aaaa abab",
    ]:
        docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        inc = bpe_train_merges_from(spark, docs, n_merges=6, incremental=True)
        full = bpe_train_merges_from(spark, docs, n_merges=6, incremental=False)
        assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in full.collect()]


def test_bpe_stops_when_fully_merged(spark):
    """A single repeated 2-char word merges once, then no pairs
    remain — the trainer stops early instead of erroring."""
    docs = spark.createDataFrame([(1, "ab ab ab")], ["doc_id", "text"])
    out = bpe_train_merges_from(spark, docs, n_merges=5).collect()
    assert [(r["merge_left"], r["merge_right"]) for r in out] == [("a", "b")]


# ---- hypothesis differential vs a pure-Python reference ------------
# the DuckDB oracle runs the same dataflow in SQL; this is an
# independent reimplementation (Counter + list rewrite) so a shared
# misconception cannot pass both.

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORD = st.text(alphabet="abc", min_size=1, max_size=6)
CORPUS = st.lists(WORD, min_size=1, max_size=12)


def _expected_merges(words: list[str], n_merges: int):
    vocab = Counter(words)
    syms = {w: list(w) for w in vocab}
    out = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for w, cnt in vocab.items():
            s = syms[w]
            for j in range(len(s) - 1):
                counts[(s[j], s[j + 1])] += cnt
        if not counts:
            break
        # tie-break: count DESC, then pair ASC lexicographically
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        (a, b), total = top
        out.append((rank, a, b, total))
        for w in syms:
            s, new, j = syms[w], [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                    new.append(a + b)
                    j += 2
                else:
                    new.append(s[j])
                    j += 1
            syms[w] = new
    return out


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(CORPUS)
def test_bpe_matches_python_reference(spark, corpus):
    docs = spark.createDataFrame([(1, " ".join(corpus))], ["doc_id", "text"])
    got = [
        (r["merge_rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_train_merges_from(spark, docs, n_merges=4).collect()
    ]
    assert got == _expected_merges(corpus, 4)


def test_bpe_encode_classic_golden(spark):
    """Encoding the Sennrich corpus with its own 3 trained merges:
    after (e,s), (es,t), (est,?) every 'newest'/'widest' compresses
    by the merged subwords; verify exact per-source token counts via
    an independent pure-Python encode of the same merge list."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_stats_from,
    )

    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame(
        [(1, " ".join(words), "s1")], ["doc_id", "text", "source"]
    )
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in __import__(
            "honors_p1_mapreduce_spark.operators.bpe", fromlist=["x"]
        ).bpe_train_merges_from(spark, docs, n_merges=3).collect()
    ]

    def py_encode(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            i = 0
            out = []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    expect_tokens = sum(py_encode(w) for w in words)
    out = bpe_encode_stats_from(spark, docs, n_merges=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_words"] == len(words)
    assert r["n_bpe_tokens"] == expect_tokens
    assert r["n_chars"] == sum(len(w) for w in words)
    # merges strictly compress: fewer tokens than chars
    assert r["n_bpe_tokens"] < r["n_chars"]


def test_bpe_encode_token_count_bounds(spark, sf_dir):
    """On the driver corpus: every word encodes to between 1 and
    len(word) tokens, so corpus-wide n_words <= n_bpe_tokens <=
    n_chars; and n_words equals the corpus token-stream count."""
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.functions.text import tokens_col
    from honors_p1_mapreduce_spark.operators.bpe_encode import bpe_encode_stats
    from honors_p1_mapreduce_spark.sources.tables import load_table

    rows = bpe_encode_stats(spark, sf_dir).collect()
    n_words = sum(r["n_words"] for r in rows)
    n_toks = sum(r["n_bpe_tokens"] for r in rows)
    n_chars = sum(r["n_chars"] for r in rows)
    assert n_words <= n_toks <= n_chars
    stream_total = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col("text")))
        .count()
    )
    assert n_words == stream_total


def test_bpe_local_finish_matches_distributed(spark):
    """The driver-local merge loop (the auto default once the vocab
    fits BPE_LOCAL_FINISH_MAX_VOCAB) must produce the bit-identical
    trajectory to BOTH distributed strategies — same argmax
    tie-break, same leftmost non-overlapping replace."""
    from honors_p1_mapreduce_spark.operators.bpe import _local_bpe

    for text in [
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),
        "aaaa aaab abab baba aa ab ba bb aaaa abab",
        "xy xyz zyx yx xxyy yyxx xy",
    ]:
        docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        local = [
            tuple(r) for r in bpe_train_merges_from(spark, docs, n_merges=8).collect()
        ]
        inc = [
            tuple(r)
            for r in bpe_train_merges_from(
                spark, docs, n_merges=8, incremental=True
            ).collect()
        ]
        full = [
            tuple(r)
            for r in bpe_train_merges_from(
                spark, docs, n_merges=8, incremental=False
            ).collect()
        ]
        assert local == inc == full


def test_bpe_encode_ids_golden_vs_python(spark):
    """Token-id sequences vs a fully independent Python encoder on the
    Sennrich corpus: train merges with the Counter reference, assign
    ids (sorted alphabet, then merges by rank), encode each doc, and
    compare digests and counts exactly."""
    import hashlib

    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_ids_from,
    )

    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    texts = [(0, " ".join(corpus[:8])), (1, " ".join(corpus[8:]))]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    n_merges = 4

    merges = _expected_merges(
        [w for _, t in texts for w in t.split()], n_merges
    )  # reference trainer
    merge_syms = [a + b for _, a, b, _ in merges]
    alphabet = sorted({c for _, t in texts for c in t.replace(" ", "")})
    ids = {c: i for i, c in enumerate(alphabet)}
    for j, m in enumerate(merge_syms):
        ids.setdefault(m, len(alphabet) + j)  # min-id on collision

    def encode_word(word):
        syms = list(word)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return [ids[s] for s in syms]

    expect = {}
    for doc_id, t in texts:
        seq = [i for w in t.split() for i in encode_word(w)]
        expect[doc_id] = (
            len(seq),
            hashlib.md5(",".join(map(str, seq)).encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_tokens"], r["ids_digest"])
        for r in bpe_encode_ids_from(docs, spark=spark, n_merges=n_merges).collect()
    }
    assert got == expect


def test_pack_token_ids_conserves_tokens(spark, sf_dir):
    """Packing must conserve every token: bin token totals equal the
    per-doc totals from bpe_encode_ids, every doc lands in exactly one
    bin, and the packing is run-to-run deterministic."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_ids,
        pack_token_ids,
    )

    sf = sf_dir
    per_doc = bpe_encode_ids(spark, sf).collect()
    bins = pack_token_ids(spark, sf).collect()
    assert sum(r["bin_tokens"] for r in bins) == sum(
        r["n_tokens"] for r in per_doc
    )
    assert sum(r["n_docs"] for r in bins) == len(per_doc)
    bins2 = pack_token_ids(spark, sf).collect()
    assert sorted(map(tuple, bins)) == sorted(map(tuple, bins2))


def test_persisted_tokenizer_roundtrip(spark, sf_dir, tmp_path):
    """Write merges + vocab to storage, re-encode with the stored
    tokenizer: output must be bit-identical to the train-and-encode
    query on the training corpus."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_ids,
        bpe_encode_ids_with,
        bpe_write_tokenizer,
    )

    sf = sf_dir
    tok = str(tmp_path / "tokenizer")
    bpe_write_tokenizer(spark, sf, tok)
    online = sorted(map(tuple, bpe_encode_ids(spark, sf).collect()))
    stored = sorted(map(tuple, bpe_encode_ids_with(spark, sf, tok).collect()))
    assert online == stored


def test_persisted_tokenizer_ids_stable_across_corpora(spark, tmp_path):
    """The stored vocabulary makes ids corpus-independent: a word seen
    at train time encodes to the SAME ids when the tokenizer is
    applied to a different corpus whose alphabet differs, and symbols
    the training corpus never saw map to UNK_ID instead of dropping."""
    from honors_p1_mapreduce_spark.operators import bpe_encode as bx

    train_dir = tmp_path / "train_corpus"
    target_dir = tmp_path / "target_corpus"
    spark.createDataFrame(
        [(1, "abc abd bcd abc abd"), (2, "abc bcd")], ["doc_id", "text"]
    ).write.parquet(str(train_dir / "documents.parquet"))
    spark.createDataFrame(
        [(1, "abc xyz"), (2, "abd qq")], ["doc_id", "text"]
    ).write.parquet(str(target_dir / "documents.parquet"))
    tok = str(tmp_path / "tokenizer")
    bx.bpe_write_tokenizer(spark, str(train_dir), tok, n_merges=3)

    merges = [
        (r["merge_left"], r["merge_right"])
        for r in spark.read.parquet(f"{tok}/merges").orderBy("merge_rank").collect()
    ]
    sym_ids = spark.read.parquet(f"{tok}/vocab")

    def word_id_map(corpus_dir):
        docs = bx.load_table(spark, str(corpus_dir), "documents")
        ws = bx._encode_word_syms(docs, merges)
        return {
            r["word"]: list(r["ids"])
            for r in bx._word_ids_table(ws, sym_ids, unk=bx.UNK_ID).collect()
        }

    train_ids = word_id_map(train_dir)
    target_ids = word_id_map(target_dir)
    # shared words: identical ids regardless of corpus alphabet
    for w in set(train_ids) & set(target_ids):
        assert train_ids[w] == target_ids[w], w
    # unknown characters map to UNK, never drop
    assert bx.UNK_ID in {i for ids in (target_ids["xyz"], target_ids["qq"]) for i in ids}
    assert len(target_ids["qq"]) > 0


def test_bpe_encode_ids_stored_registered_query_matches_online(spark, sf_dir):
    """The registered read-back query (write tokenizer to the
    per-application scratch dir, encode from the stored artifact) must
    equal the online train-and-encode query — this is the entry the
    driver hash-stamps (r7 verdict #4)."""
    from honors_p1_mapreduce_spark.operators.bpe_encode import (
        bpe_encode_ids,
        bpe_encode_ids_stored,
    )

    online = sorted(map(tuple, bpe_encode_ids(spark, sf_dir).collect()))
    stored = sorted(map(tuple, bpe_encode_ids_stored(spark, sf_dir).collect()))
    assert online == stored


def test_driver_local_word_ids_match_jvm_pipeline(spark, sf_dir):
    """r18: the driver-local word->ids table (assembled from the local
    trainer's word->syms end state, bpe._SYMS_CACHE) must equal the
    JVM pipeline (_encode_word_syms -> _sym_id_table ->
    _word_ids_table) word for word and id for id — the equality the
    bpe_encode_ids/pack/stored digests rest on."""
    from honors_p1_mapreduce_spark import registry
    from honors_p1_mapreduce_spark.operators import bpe, bpe_encode as bx

    registry.reset_memos()
    docs = bx.load_table(spark, sf_dir, "documents")
    merges = [
        (left, right)
        for _rk, left, right, _c in bpe.bpe_train_merges_list(
            spark, docs, n_merges=bx.BPE_MERGES, cache_key=sf_dir
        )
    ]
    key = bpe._memo_key(spark, sf_dir, tuple(merges))
    syms_map = bpe._SYMS_CACHE.get(key)
    assert syms_map is not None, "local trainer path did not run"
    local = {
        w: [int(i) for i in ids]
        for w, ids in bx._word_ids_rows(
            syms_map, bx._sym_ids_fold(syms_map, merges)
        )
    }
    word_syms = bx._encode_word_syms(docs, merges)
    sym_ids = bx._sym_id_table(word_syms, merges, spark)
    jvm = {
        r["word"]: list(r["ids"])
        for r in bx._word_ids_table(word_syms, sym_ids).collect()
    }
    assert local == jvm
    registry.reset_memos()
