"""Winnowing fingerprint properties (oracle parity is covered by
test_reference_parity via the registry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from honors_p1_mapreduce_spark.operators import winnow as wn


def _fps(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return wn.winnow_fingerprints_from(df)


def test_winnowing_match_guarantee(spark):
    # Schleimer et al.: a shared substring of length >= W + K - 1
    # guarantees at least one shared fingerprint. The two docs share a
    # long middle run with different prefixes/suffixes.
    shared = "the quick brown fox jumps over the lazy dog again and again"
    fps = _fps(
        spark,
        [(1, f"alpha beta {shared} gamma delta"), (2, f"zeta eta {shared} theta")],
    )
    a = {r["fp_hash"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    b = {r["fp_hash"] for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b


def test_winnowing_density(spark):
    # expected fingerprint density ~ 2/(W+1) of gram positions; allow
    # a wide band (the bound is asymptotic, text is small)
    text = " ".join(f"token{i} filler words here" for i in range(200))
    fps = _fps(spark, [(1, text)])
    n_fp = fps.count()
    n_grams = len("".join(c for c in text.lower() if c.isalnum())) - wn.K + 1
    density = n_fp / n_grams
    assert 0.5 * 2 / (wn.W + 1) <= density <= 2.5 * 2 / (wn.W + 1)


def test_short_docs_emit_nothing(spark):
    # fewer normalized chars than one full window -> no fingerprints
    fps = _fps(spark, [(1, "tiny doc"), (2, "x" * (wn.K + wn.W - 2))])
    assert fps.count() == 0


def test_oversized_docs_truncate_to_prefix(spark, monkeypatch):
    # docs longer than the pos-encoding capacity are deterministically
    # truncated to the prefix, never fingerprinted with corrupted
    # (pos-bleeds-into-hash) encodings. Shrink the cap to keep the
    # test cheap; the arithmetic is scale-independent.
    long_text = "".join(f"word{i} " for i in range(400))  # ~2.8k normalized chars
    cap = 100
    monkeypatch.setattr(wn, "_MAX_NORM_CHARS", cap)
    capped = {
        (r["fp_hash"], r["fp_pos"])
        for r in _fps(spark, [(1, long_text)]).collect()
    }
    # manually pre-truncated doc must produce the identical set
    norm_prefix = "".join(c for c in long_text.lower() if c.isalnum())[:cap]
    manual = {
        (r["fp_hash"], r["fp_pos"])
        for r in _fps(spark, [(1, norm_prefix)]).collect()
    }
    assert capped == manual
    assert capped  # prefix is long enough to emit fingerprints
    # every pos fits the (shrunk) prefix
    assert all(pos <= cap - wn.K for _, pos in capped)


def test_neardup_agrees_with_minhash_family(spark, sf_dir):
    # winnowing's near-dup verdicts should largely coincide with the
    # n-gram Jaccard detector on the same corpus
    from honors_p1_mapreduce_spark.operators import dedup as dd

    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    win = {
        (r["doc_a"], r["doc_b"])
        for r in wn.winnow_neardup(spark, sf_dir).collect()
    }
    if not jac:
        return
    overlap = len(jac & win) / len(jac)
    assert overlap >= 0.6, f"winnow/jaccard overlap {overlap:.2f}"


def test_chunked_equals_unchunked_under_cap(spark, sf_dir):
    """For docs under the cap the chunked path must be bit-identical
    to the zero-shuffle capped path — including with a tiny
    chunk_grams that forces real multi-chunk geometry, which proves
    the window-partition property (stride G-W+1 => every window in
    exactly one chunk, union of chunk minima == whole-doc minima)."""
    docs = wn.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = {
        tuple(r) for r in wn.winnow_fingerprints_from(docs).collect()
    }
    whole = {
        tuple(r) for r in wn.winnow_fingerprints_chunked_from(docs).collect()
    }
    multi = {
        tuple(r)
        for r in wn.winnow_fingerprints_chunked_from(docs, chunk_grams=64).collect()
    }
    assert base == whole == multi
    assert base  # corpus emits fingerprints


def test_chunked_finds_post_cap_match_the_capped_path_misses(
    spark, monkeypatch
):
    """Round-6 verdict #6 golden: a doc pair sharing a long substring
    AFTER the truncation point — the capped path provably misses it,
    the chunked path must surface shared fingerprints. The cap is
    monkeypatch-shrunk (same pattern as the truncation test): the
    whole-doc capped path is O(n^2) in doc length (Spark substring
    walks UTF-8 from char 0), so running it at the real 1M cap is
    exactly the pathology chunking removes — the real->cap scale run
    lives in test_chunked_fingerprints_megadoc below."""
    import random

    rng = random.Random(3)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    cap = 20_000
    monkeypatch.setattr(wn, "_MAX_NORM_CHARS", cap)
    shared_tail = "".join(rng.choice(alpha) for _ in range(2000))
    docs = [
        (i, "".join(rng.choice(alpha) for _ in range(cap + 3000)) + shared_tail)
        for i in (1, 2)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def shared_hashes(fps):
        a = {r["fp_hash"] for r in fps.filter("doc_id = 1").collect()}
        b = {r["fp_hash"] for r in fps.filter("doc_id = 2").collect()}
        return a & b

    capped_shared = shared_hashes(wn.winnow_fingerprints_from(df))
    chunked_shared = shared_hashes(wn.winnow_fingerprints_chunked_from(df))
    assert not capped_shared  # tail truncated away: no shared fingerprints
    # guarantee: any >= W+K-1-char shared substring shares >= 1
    # fingerprint; a 2000-char shared tail shares many
    assert len(chunked_shared) >= 2000 * 2 // (wn.W + 1) // 4


def test_chunked_fingerprints_megadoc(spark):
    """A real 1.1M-char doc (beyond the 2^POS_BITS cap) fingerprints
    end-to-end through the chunked path in seconds (the whole-doc
    path would be ~40 min of quadratic substring walks), and emits
    fingerprints at positions past the cap."""
    import random

    rng = random.Random(5)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    text = "".join(rng.choice(alpha) for _ in range(1_100_000))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    fps = wn.winnow_fingerprints_chunked_from(df)
    past_cap = fps.filter(fps.fp_pos > wn._POS_BASE).count()
    assert past_cap > 1000  # tail beyond the old cap is fingerprinted


def test_decontaminate_neardup_seeded_golden(spark):
    """An eval doc's near-copy planted in the training split must be
    flagged; an unrelated training doc must not. Eval ids are
    doc_id % EVAL_MOD == EVAL_RESIDUE."""
    import random

    rng = random.Random(9)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    eval_text = "".join(rng.choice(alpha) for _ in range(400))
    # near-copy: eval text with a small edit in the middle
    leaked = eval_text[:180] + " EDITED SPAN " + eval_text[200:]
    clean = "".join(rng.choice(alpha) for _ in range(400))
    docs = spark.createDataFrame(
        [
            (wn.EVAL_RESIDUE, eval_text),       # the eval doc
            (1, leaked),                        # train: leaked near-copy
            (2, clean),                         # train: unrelated
        ],
        ["doc_id", "text"],
    )
    import honors_p1_mapreduce_spark.operators.winnow as w

    fps = w.winnow_fingerprints_from(docs).select("doc_id", "fp_hash").distinct()
    is_eval = fps.doc_id % w.EVAL_MOD == w.EVAL_RESIDUE
    eval_fps = fps.filter(is_eval).select("fp_hash").distinct()
    hits = {
        r["doc_id"]: r["shared_fps"]
        for r in fps.filter(~is_eval)
        .join(eval_fps, "fp_hash")
        .groupBy("doc_id")
        .agg(wn.F.count("*").alias("shared_fps"))
        .collect()
    }
    assert hits.get(1, 0) >= wn.CONTAM_MIN_SHARED  # leak flagged
    assert hits.get(2, 0) < wn.CONTAM_MIN_SHARED  # clean doc passes


def test_chunked_rejects_bad_chunk_grams(spark):
    import pytest

    df = spark.createDataFrame([(1, "abcdefghij" * 10)], ["doc_id", "text"])
    for bad in (0, wn.W - 1, wn._POS_BASE + 1):
        with pytest.raises(ValueError, match="chunk_grams"):
            wn.winnow_fingerprints_chunked_from(df, chunk_grams=bad)
    # the minimum legal value works (stride 1)
    assert wn.winnow_fingerprints_chunked_from(df, chunk_grams=wn.W).count() > 0


def test_winnow_stored_index_roundtrip(spark, sf_dir, tmp_path):
    """Write the fingerprint index to parquet, decontaminate from the
    stored index: output must be bit-identical to the online
    memo-backed query (r7 verdict #5)."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        decontaminate_from_index,
        decontaminate_neardup,
        winnow_write_index,
    )

    idx = str(tmp_path / "winnow_index")
    winnow_write_index(spark, sf_dir, idx)
    online = sorted(map(tuple, decontaminate_neardup(spark, sf_dir).collect()))
    stored = sorted(
        map(tuple, decontaminate_from_index(spark, idx).collect())
    )
    assert online == stored


def test_decontaminate_stored_registered_query_matches_online(spark, sf_dir):
    """The registered read-back cycle (write index to the
    per-application scratch dir, decontaminate from it) must equal the
    online query — the entry the driver hash-stamps."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        decontaminate_neardup,
        decontaminate_stored,
    )

    online = sorted(map(tuple, decontaminate_neardup(spark, sf_dir).collect()))
    stored = sorted(map(tuple, decontaminate_stored(spark, sf_dir).collect()))
    assert online == stored


def test_fp_memo_detects_in_place_corpus_rewrite(spark, tmp_path):
    """Rewriting the corpus under the same directory within one
    application must NOT serve stale memoized fingerprints: the memo
    key folds a parquet size+mtime snapshot token (advisor r7)."""
    import shutil

    from honors_p1_mapreduce_spark.operators.winnow import (
        winnow_fingerprints,
    )

    d = str(tmp_path / "corpus")
    (tmp_path / "corpus").mkdir()

    def write_docs(texts):
        shutil.rmtree(d + "/documents.parquet", ignore_errors=True)
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")

    write_docs(["the quick brown fox jumps over the lazy dog " * 4])
    first = winnow_fingerprints(spark, d).count()
    write_docs(
        [
            "a completely different document body with new words " * 4,
            "and a second document to change the fingerprint count " * 4,
        ]
    )
    second = winnow_fingerprints(spark, d).count()
    assert second != first  # stale memo would return `first` again


def test_dedup_incremental_attributes_planted_duplicate(spark, tmp_path):
    """Plant a batch doc (id % 10 == 3) that near-dups one index doc:
    it must be flagged and attributed to exactly that doc; an
    unrelated batch doc must pass."""
    from honors_p1_mapreduce_spark.operators import winnow as wn

    base = (
        "the committee on data curation met quarterly to review the "
        "deduplication thresholds and fingerprinting window settings "
        "used across the ingestion services "
    ) * 3
    other = (
        "completely unrelated prose about sailing boats across calm "
        "lakes under a cold clear morning sky with no shared phrases "
    ) * 3
    rows = [
        (10, base),                      # index doc: the original
        (23, base + " with a short appended editorial note"),  # batch near-dup
        (33, other),                     # batch doc, genuinely new
        (40, other[::-1]),               # index noise
    ]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in wn.dedup_incremental(spark, d).collect()
    }
    assert 23 in out and out[23]["dup_of"] == 10
    assert out[23]["shared_fps"] >= wn.MIN_SHARED
    assert 33 not in out  # new content passes
    assert all(k % wn.BATCH_MOD == wn.BATCH_RESIDUE for k in out)


def test_dedup_incremental_split_invariants(spark, sf_dir):
    from honors_p1_mapreduce_spark.operators import winnow as wn

    rows = wn.dedup_incremental(spark, sf_dir).collect()
    for r in rows:
        assert r["doc_id"] % wn.BATCH_MOD == wn.BATCH_RESIDUE
        assert r["dup_of"] % wn.BATCH_MOD != wn.BATCH_RESIDUE
        assert r["shared_fps"] >= wn.MIN_SHARED


# ------------------------------------ takedown / retract cycle (r10)


def test_winnow_retract_equals_rebuild(spark, sf_dir, tmp_path):
    """retract(index(corpus), R) must equal index(corpus minus R)
    frame-for-frame — the right-to-erasure invariant; and retracting
    an empty set is the identity."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        RETRACT_MOD,
        RETRACT_RESIDUE,
        winnow_fingerprints_chunked_from,
        winnow_retract_index,
        winnow_write_index,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    full_d, rtr_d, empty_d = (
        str(tmp_path / n) for n in ("full", "rtr", "empty")
    )
    winnow_write_index(spark, sf_dir, full_d)
    docs = load_table(spark, sf_dir, "documents")
    removed = docs.select("doc_id").filter(
        f"doc_id % {RETRACT_MOD} = {RETRACT_RESIDUE}"
    )
    winnow_retract_index(spark, full_d, rtr_d, removed)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{rtr_d}/fingerprints").collect()
    )
    want = sorted(
        tuple(r)
        for r in winnow_fingerprints_chunked_from(
            docs.filter(
                f"doc_id % {RETRACT_MOD} <> {RETRACT_RESIDUE}"
            ).select("doc_id", "text")
        ).collect()
    )
    assert got == want and len(got) > 0

    # empty removal set -> identity
    winnow_retract_index(
        spark, full_d, empty_d, removed.filter("doc_id < 0")
    )
    full_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{full_d}/fingerprints").collect()
    )
    empty_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{empty_d}/fingerprints").collect()
    )
    assert full_rows == empty_rows


def test_winnow_index_retract_matches_oracle(spark, sf_dir):
    from honors_p1_mapreduce_spark.operators.winnow import (
        WINNOW_INDEX_RETRACT_ORACLE,
        winnow_index_retract,
    )

    from .oracle import compare_query

    compare_query(
        spark, sf_dir, winnow_index_retract, WINNOW_INDEX_RETRACT_ORACLE
    )


def test_winnow_retract_drops_docs_from_answer(spark, sf_dir):
    """Removed doc_ids must vanish from the served drop list, and a
    kept doc's shared count can only shrink (the eval fingerprint set
    lost its removed members)."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        RETRACT_MOD,
        RETRACT_RESIDUE,
        decontaminate_neardup,
        winnow_index_retract,
    )

    before = {
        r["doc_id"]: r["shared_fps"]
        for r in decontaminate_neardup(spark, sf_dir).collect()
    }
    after = {
        r["doc_id"]: r["shared_fps"]
        for r in winnow_index_retract(spark, sf_dir).collect()
    }
    for doc_id, shared in after.items():
        assert doc_id % RETRACT_MOD != RETRACT_RESIDUE
        if doc_id in before:
            assert shared <= before[doc_id]


def test_scan_parallelize_layout_trigger(spark, sf_dir):
    """r17 under-parallel-scan fix (tables._scan_parallelize): the
    round-robin repartition fires ONLY when the file layout cannot
    split into >= defaultParallelism scan tasks — never as a local
    constant — and, for documents, only at call sites that opt in
    with wide_scan=True (measured heavy-per-row consumers; cheap
    consumers keep the bare scan). Arms: (1) the driver corpora are
    single-row-group parquet, so a wide_scan read carries the
    exchange sized to the session's parallelism while the default
    documents read does not; (2) the wide-scan rows are exactly the
    bare read's rows; (3) with maxPartitionBytes shrunk so the byte
    estimate yields >= parallelism tasks — the 100 TB condition —
    the plan is untouched."""
    from honors_p1_mapreduce_spark.sources.tables import load_table

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents", wide_scan=True)
    p1 = plan(docs)
    assert p1.count("Exchange RoundRobinPartitioning") == 1
    assert f"RoundRobinPartitioning({par})" in p1
    assert docs.rdd.getNumPartitions() == par
    # non-opted consumers keep the bare scan (wide_scan is strictly
    # opt-in — measured winners only)
    bare = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in plan(bare)
    assert "Exchange" not in plan(load_table(spark, sf_dir, "embeddings"))

    assert sorted(map(tuple, docs.collect())) == sorted(
        map(tuple, bare.collect())
    )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        split_enough = load_table(spark, sf_dir, "documents", wide_scan=True)
        assert "Exchange" not in plan(split_enough)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
