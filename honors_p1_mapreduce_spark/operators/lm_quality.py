"""Bigram language-model fluency scoring over the document corpus.

The classic n-gram-LM quality filter of LLM data pipelines (CCNet,
Wenzek et al. 2020, arXiv:1911.00359, public): score each document by
how predictable its token stream is under a language model trained on
the corpus itself, then drop the tail. A full KenLM is out of scope
for a SQL-parity gate, so the model here is the exact corpus bigram
MLE — P(w2 | w1) = count(w1 w2) / count(w1 ·) — and a document's
score is its mean conditional probability. Low scores mark
token-salad documents; high scores mark formulaic/templated ones —
both standard curation cut points.

Determinism (the oracle-gate constraint): probabilities are computed
in INTEGER arithmetic — parts-per-million via ``div(cnt * 1000000,
ctx)`` (floor division, identical in Spark and DuckDB on positive
ints) — summed exactly as bigints, and only the final mean is one
IEEE double division of two exact integers, which both engines
round identically.

Plan shape (the part that must survive 100 TB): the bigram SCORE
TABLE is built once — bigram counts (one keyed shuffle over distinct
bigrams) joined to context counts (a re-aggregation of the same
frame) — and documents' bigram occurrences then join the score table
on the bigram key. The occurrence frame feeds BOTH the model build
and the scoring join, so it is ``persist()``-ed (round-7 fix; the
round-6 plan re-derived it from the parquet scan per consumer — 2-3
full corpus reads instead of 1): the parquet scan + regex tokenize —
the dominant cost — runs once and each consumer reads the cached
columnar frame (InMemoryTableScan, pinned by
tests/test_plan_shapes.py). MEMORY_AND_DISK: at 100 TB the exploded
occurrences (~2x corpus text) spill to local disk, the same
disk-for-rescan trade a shuffle materialization makes. Cleanup is
the caller's, per the repo cache policy (perfbench / CLI clearCache).
Shuffle volume is O(corpus bigram occurrences) for the occurrence
join and O(|bigram vocab|) for the model build; the corpus is never
joined to itself and nothing is collected to the driver. At 100 TB
the score table (bigram vocab) is orders of magnitude smaller than
the corpus and AQE picks broadcast for it when it fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.text import bigrams_from_tokens, tokens_col, tokens_sql
from ..sources.sinks import write_parquet_parallel
from ..sources.tables import load_table

PPM = 1_000_000  # probability fixed-point scale (parts per million)

# Read-path persisted frames. lm_bigram_score / lm_interp_score return
# LAZY plans whose persisted intermediates (occurrence + tokenized-array
# frames) the CALLER materializes, so the functions themselves cannot
# unpersist — the writer/retract paths materialize internally and were
# fixed in r10/r11, but the r11 advisor flagged that the read path
# still leaked one cached frame per invocation until a session-level
# clearCache. Each read-path call enrolls its frames in this memo
# store, and ``registry.reset_memos()`` unpersists and clears them with
# the other memos (memo.py). The CLI invokes it after materializing
# each query, perfbench at the start of each pass, and the pytest
# session fixture at teardown (tests/conftest.py). (The alternative —
# eagerly localCheckpoint-ing the result — would store a
# corpus-doc-count-sized frame and break the pinned lazy single-scan
# plan shape, tests/test_plan_shapes.py.)
_READ_FRAMES_CACHE: dict[int, DataFrame] = memo.store()


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional probability (ppm).

    Output: (doc_id, n_bigrams, mean_prob_ppm) for documents with at
    least one bigram. mean_prob_ppm is the mean over the document's
    bigram occurrences of floor(1e6 · P(w2|w1)) under the corpus MLE.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg"),
    ).persist()
    _READ_FRAMES_CACHE[id(occ)] = occ  # released by registry.reset_memos
    # model: corpus bigram counts, then context totals by re-aggregating
    # the counts frame (not the corpus — one corpus scan total)
    bg_counts = occ.groupBy("bg").agg(F.count("*").alias("cnt"))
    ctx_counts = (
        bg_counts.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("cnt").alias("ctx"))
    )
    scores = (
        bg_counts.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(ctx_counts, "w1")
        .select("bg", F.expr(f"div(cnt * {PPM}, ctx)").alias("p_ppm"))
    )
    return (
        occ.join(scores, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum("p_ppm").cast("double") / F.count("*")
            ).alias("mean_prob_ppm"),
        )
    )


_T = tokens_sql("text")
_BG_SQL = (
    f"list_transform(generate_series(1, len({_T}) - 1), "
    f"i -> {_T}[i] || ' ' || {_T}[i + 1])"
)

LM_BIGRAM_SCORE_ORACLE = f"""
WITH occ AS (
  SELECT doc_id, unnest({_BG_SQL}) AS bg FROM documents
),
bg_counts AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY bg),
ctx_counts AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(cnt) AS ctx
  FROM bg_counts GROUP BY 1
),
scores AS (
  SELECT bg, (cnt * {PPM}) // ctx AS p_ppm
  FROM bg_counts JOIN ctx_counts ON split_part(bg, ' ', 1) = w1
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(p_ppm) AS DOUBLE) / count(*) AS mean_prob_ppm
FROM occ JOIN scores USING (bg)
GROUP BY doc_id
"""


# ------------------------------------- interpolated (Jelinek-Mercer)

LM_LAMBDA_NUM = 9  # lambda = 9/10 on the bigram term
LM_LAMBDA_DEN = 10


def lm_interp_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated LM score: per-document mean of
    lambda*P(w2|w1) + (1-lambda)*P(w2) in integer ppm — the standard
    smoothing that keeps rare-context bigrams from collapsing to the
    raw MLE (Jelinek & Mercer 1980; the CCNet-style filter usually
    runs a smoothed model, not the pure MLE of
    :func:`lm_bigram_score`).

    Same one-scan model build as the MLE variant plus one unigram
    aggregate (re-aggregating the bigram-count frame would miss each
    doc's first token, so unigrams count from the token stream); the
    corpus-total scalar rides a 1-row broadcast. Interpolation is
    floor-integer — div(9*p_bi + p_uni, 10) — so both engines agree
    on every ppm.

    Round-7 single-scan fix: the tokenized array projection is
    persisted and BOTH the unigram stream and the bigram occurrences
    derive from it, and the occurrence frame (2 consumers: model
    build + scoring join) is persisted too — one parquet scan + one
    regex tokenize total, where the round-6 plan paid three (module
    docstring has the 100 TB memory/disk rationale).
    """
    occ, scores, tok_arr = _interp_occ_scores(spark, sf_dir)
    # r11 advisor: the read path used to drop tok_arr on the floor —
    # both persisted frames now enroll for reset_memos release
    _READ_FRAMES_CACHE[id(occ)] = occ
    _READ_FRAMES_CACHE[id(tok_arr)] = tok_arr
    return _score_occurrences(occ, scores)


def _lm_count_frames(
    spark: SparkSession, sf_dir: str, pred: F.Column | None = None
):
    """(persisted bigram-occurrence frame, unigram counts, bigram
    counts, persisted tokenized-array frame) over the documents table
    (optionally ``pred``-filtered — the retract path counts the
    REMOVED split alone). The count frames are the
    trainable/mergeable/RETRACTABLE form of the model: integer counts
    subtract exactly, derived ratios don't. BOTH persisted frames are
    returned so terminal callers (the writer/retract paths, which
    materialize the counts before returning) can unpersist them —
    r10 advisor note: dropping tok_arr on the floor leaked one cached
    frame per call (two per retract cycle)."""
    docs = load_table(spark, sf_dir, "documents")
    if pred is not None:
        docs = docs.filter(pred)
    return _lm_count_frames_from(docs)


def _lm_count_frames_from(docs: DataFrame):
    """:func:`_lm_count_frames` over an ARBITRARY (doc_id, text)
    frame — factored r17 so the snapshot-refresh delta passes can
    count the leaving docs under their OLD text and the entering docs
    under their NEW text (frames a table-plus-predicate cannot
    express). NOTE: this factoring moved the code path of
    lm_interp_score / lm_score_stored / lm_model_retract — they are
    r18 ``--force`` restamps (the media_image_neardup precedent;
    recorded in the registry ROUND-18 plan)."""
    tok_arr = docs.select("doc_id", tokens_col("text").alias("tk")).persist()
    toks = tok_arr.select(F.explode("tk").alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("ucnt"))
    occ = tok_arr.select(
        "doc_id",
        F.explode(bigrams_from_tokens(F.col("tk"))).alias("bg"),
    ).persist()
    bg_counts = occ.groupBy("bg").agg(F.count("*").alias("cnt"))
    return occ, uni, bg_counts, tok_arr


def _interp_scores_from_counts(uni: DataFrame, bg_counts: DataFrame) -> DataFrame:
    """(bg, pi_ppm) interpolated score table from count frames —
    context totals re-aggregate the bigram counts, the corpus-total
    scalar rides a 1-row broadcast. Pure integer arithmetic, so
    scores from SUBTRACTED counts equal scores retrained from the
    filtered corpus bit-for-bit."""
    tot = uni.agg(F.sum("ucnt").alias("t"))
    p_uni = uni.join(F.broadcast(tot)).select(
        F.col("w").alias("w2"), F.expr(f"div(ucnt * {PPM}, t)").alias("pu_ppm")
    )
    ctx_counts = (
        bg_counts.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("cnt").alias("ctx"))
    )
    return (
        bg_counts.withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(ctx_counts, "w1")
        .join(p_uni, "w2")
        .select(
            "bg",
            F.expr(
                f"div({LM_LAMBDA_NUM} * div(cnt * {PPM}, ctx) + pu_ppm, "
                f"{LM_LAMBDA_DEN})"
            ).alias("pi_ppm"),
        )
    )


def _interp_occ_scores(spark: SparkSession, sf_dir: str):
    """(persisted bigram-occurrence frame, interpolated per-bigram
    score table, persisted tokenized-array frame) — the shared build
    of :func:`lm_interp_score` and :func:`lm_write_model`."""
    occ, uni, bg_counts, tok_arr = _lm_count_frames(spark, sf_dir)
    return occ, _interp_scores_from_counts(uni, bg_counts), tok_arr


def _score_occurrences(occ: DataFrame, scores: DataFrame) -> DataFrame:
    """Per-document mean interpolated probability from a bigram
    occurrence frame and a (bg, pi_ppm) score table. Bigrams absent
    from the score table are dropped by the inner join — on the
    training corpus there are none; scoring NEW text against a stored
    model treats them as out-of-vocabulary (a production model ships
    a smoothed backoff instead)."""
    return (
        occ.join(scores, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("pi_ppm").cast("double") / F.count("*")).alias(
                "mean_interp_ppm"
            ),
        )
    )


def lm_write_model(spark: SparkSession, sf_dir: str, model_dir: str) -> None:
    """Train the interpolated bigram model and persist the SHIPPED
    artifact — the (bg, pi_ppm) score table — to parquet. This is the
    train-once / score-everywhere LM the CCNet-style filter deploys:
    consumers never redo the model build (the two corpus-wide
    aggregations), they read |bigram vocab| rows."""
    occ, scores, tok_arr = _interp_occ_scores(spark, sf_dir)
    scores.write.mode("overwrite").parquet(f"{model_dir}/bigram_scores")
    occ.unpersist()
    tok_arr.unpersist()


def lm_score_with(
    spark: SparkSession, sf_dir: str, model_dir: str
) -> DataFrame:
    """Score a corpus against a STORED bigram model: one tokenize +
    explode pass over the documents, one join against the parquet
    score table — no training aggregations at all. Bit-identical to
    :func:`lm_interp_score` on the training corpus (ppm scores are
    exact integers, so the parquet roundtrip is lossless)."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg"),
    )
    scores = spark.read.parquet(f"{model_dir}/bigram_scores")
    return _score_occurrences(occ, scores)


def lm_score_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the full stored-model LM cycle — train ->
    :func:`lm_write_model` (parquet score table) -> read back ->
    score. Same end-to-end oracle as :func:`lm_interp_score` (the
    roundtrip is bit-identical), so the driver hash-stamps the
    write/read-back path — the same registered-cycle pattern as
    bpe_encode_ids_stored / pq_search_stored / decontaminate_stored.
    Scratch: per-application overwrite-in-place
    (``sources.tables._artifact_dir``), rewritten every call."""
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, "lm_model")
    lm_write_model(spark, sf_dir, d)
    return lm_score_with(spark, sf_dir, d)


def _lm_interp_oracle(pred: str = "") -> str:
    """DuckDB twin of the interpolated-LM pipeline. ``pred`` (e.g.
    " WHERE doc_id % 13 <> 5") restricts the corpus — the retract
    oracle RETRAINS on the kept docs, hash-gating that count
    subtraction equals retraining."""
    return f"""
WITH toks AS (SELECT unnest({_T}) AS w FROM documents{pred}),
uni AS (SELECT w, count(*) AS ucnt FROM toks GROUP BY w),
tot AS (SELECT sum(ucnt) AS t FROM uni),
p_uni AS (
  SELECT w AS w2, (ucnt * {PPM}) // t AS pu_ppm FROM uni CROSS JOIN tot
),
occ AS (
  SELECT doc_id, unnest({_BG_SQL}) AS bg FROM documents{pred}
),
bg_counts AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY bg),
ctx_counts AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(cnt) AS ctx
  FROM bg_counts GROUP BY 1
),
scores AS (
  SELECT bg,
         ({LM_LAMBDA_NUM} * ((cnt * {PPM}) // ctx) + pu_ppm)
           // {LM_LAMBDA_DEN} AS pi_ppm
  FROM bg_counts
  JOIN ctx_counts ON split_part(bg, ' ', 1) = w1
  JOIN p_uni ON split_part(bg, ' ', 2) = w2
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(pi_ppm) AS DOUBLE) / count(*) AS mean_interp_ppm
FROM occ JOIN scores USING (bg)
GROUP BY doc_id
"""


LM_INTERP_SCORE_ORACLE = _lm_interp_oracle()


LM_SCORE_STORED_ORACLE = LM_INTERP_SCORE_ORACLE


# ------------------------------------ model takedown / retract (r10)

# The LM member of the stored-artifact retract cycle (winnow.py has
# the lifecycle rationale; the removal split is SHARED with
# winnow_index_retract — one takedown event reconciles every
# dependent artifact). Unlike the fingerprint index, the LM's shipped
# score table is a table of RATIOS and cannot be reconciled by row
# deletion — which is exactly why the trainable artifact a production
# pipeline stores is the COUNT tables (bigram + unigram): integer
# counts subtract exactly, so a takedown costs one tokenize pass over
# the REMOVED split (takedown-sized) plus a vocab-sized join — never
# a full retrain. KenLM's own .arpa intermediate is count-based for
# the same mergeability reason.


def lm_write_counts(spark: SparkSession, sf_dir: str, model_dir: str) -> None:
    """Persist the RETRACTABLE model form: raw bigram + unigram count
    tables (both |vocab|-sized; the corpus-total unigram scalar is
    their sum, so it needs no separate file). The serving score table
    of :func:`lm_write_model` derives from these in one vocab-sized
    pass."""
    occ, uni, bg_counts, tok_arr = _lm_count_frames(spark, sf_dir)
    # r18: the two count frames are independent once tok_arr/occ are
    # built — overlap their write jobs (guide §2.6)
    write_parquet_parallel(
        (bg_counts, f"{model_dir}/bigram_counts"),
        (uni, f"{model_dir}/unigram_counts"),
    )
    occ.unpersist()
    tok_arr.unpersist()


def lm_model_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the full LM takedown cycle — train + persist
    the count artifact (:func:`lm_write_counts`), tokenize ONLY the
    removed split for its count deltas, SUBTRACT (exact integer count
    subtraction; entries whose count reaches zero leave the
    vocabulary), re-derive the score table from the reconciled
    counts, and score the kept corpus. The oracle retrains from the kept docs, so the driver
    hash-gates retract == rebuild — the ``pq_search_appended`` proof
    pattern in reverse; pytest additionally pins
    retract(full, removed) == train(kept) at the count-frame level
    and retract(nothing) == identity.

    Scale shape: the stored counts are vocab-sized; the delta pass
    scans the removed split only (takedown-sized in production; the
    demo split is the deterministic ~8% shared with
    winnow_index_retract); the final scoring is the standard one
    tokenize pass + vocab-sized join. The full corpus is re-read only
    to SCORE it, never to retrain.

    Measured honestly (r10, sf0.1, reconciliation stage only —
    scoring is common to both paths): subtract ~1.0 s vs retrain
    ~0.97 s — a TIE at this scale, because the modulo demo predicate
    cannot push down, so the delta pass scans the whole parquet to
    read its 8% split, and a 54 MB corpus's bigram aggregation costs
    about one scan anyway. The subtract path's win is a 100 TB
    property, not a toy-scale one: (a) a real takedown list
    semi-joins an id-clustered corpus, so the delta pass reads
    takedown-sized data, not corpus-sized; (b) retraining's
    occurrence shuffle grows with the KEPT corpus (~everything) while
    the subtract path's joins stay vocab-sized. What this cycle
    proves at driver scale is the CORRECTNESS contract — retract ==
    rebuild, hash-gated — and the plan shape that makes the 100 TB
    claim mechanical."""
    from ..sources.tables import _artifact_dir

    d = _artifact_dir(spark, sf_dir, "lm_counts")
    lm_write_counts(spark, sf_dir, d)
    return lm_retract_with(spark, sf_dir, d)


def lm_retract_with(
    spark: SparkSession, sf_dir: str, counts_dir: str
) -> DataFrame:
    """The takedown half of :func:`lm_model_retract` against an
    already-persisted count artifact: delta-count the removed split,
    subtract, re-derive scores, score the kept corpus. Factored so
    a timing run can attribute train_write vs retract+serve
    separately.

    The reconciled count tables are MATERIALIZED here (eager
    localCheckpoint — they are vocab-sized, the whole point of the
    count-artifact design) so the delta pass's persisted tokenize
    frames can be released before returning (r10 advisor leak note).
    The checkpoint also subsumes the stored-count scans: the serving
    plan reads exactly ONE parquet scan — the kept corpus — plus the
    checkpointed count rows; stored tables and the removed-split
    tokenize run once at reconciliation, never per serve
    (plan-pinned)."""
    from .winnow import RETRACT_MOD, RETRACT_RESIDUE

    removed_pred = F.col("doc_id") % RETRACT_MOD == RETRACT_RESIDUE
    occ_r, uni_r, bg_r, tok_r = _lm_count_frames(
        spark, sf_dir, pred=removed_pred
    )
    stored_bg = spark.read.parquet(f"{counts_dir}/bigram_counts")
    stored_uni = spark.read.parquet(f"{counts_dir}/unigram_counts")
    # eager: the first checkpoint populates the shared tokenize cache,
    # the second reuses it — then both cached frames are released
    runi = retract_counts(stored_uni, uni_r, "w", "ucnt").localCheckpoint()
    rbg = retract_counts(stored_bg, bg_r, "bg", "cnt").localCheckpoint()
    occ_r.unpersist()
    tok_r.unpersist()
    scores = _interp_scores_from_counts(runi, rbg)
    kept = load_table(spark, sf_dir, "documents").filter(~removed_pred)
    occ_kept = kept.select(
        "doc_id",
        F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg"),
    )
    return _score_occurrences(occ_kept, scores)


def retract_counts(
    stored: DataFrame, delta: DataFrame, key: str, cnt: str
) -> DataFrame:
    """stored counts MINUS delta counts on ``key``: left join (keys
    absent from the delta keep their count), exact integer
    subtraction, zero-count rows dropped (a key whose occurrences all came
    from removed docs leaves the vocabulary). Both frames are
    vocab-sized, so this is never a corpus-scale operation."""
    d = delta.select(key, F.col(cnt).alias("__d"))
    return (
        stored.join(d, key, "left")
        .select(
            key,
            (
                F.col(cnt) - F.coalesce(F.col("__d"), F.lit(0).cast("bigint"))
            ).alias(cnt),
        )
        .filter(F.col(cnt) > 0)
    )


def _retract_pred_sql() -> str:
    from .winnow import RETRACT_MOD, RETRACT_RESIDUE

    return f" WHERE doc_id % {RETRACT_MOD} <> {RETRACT_RESIDUE}"


LM_MODEL_RETRACT_ORACLE = _lm_interp_oracle(pred=_retract_pred_sql())


# ------------------------------------- snapshot-driven count refresh

# The LM member of the snapshot-delta lifecycle (r16 verdict #6
# completed across all three artifact families: winnow index r16-17,
# PQ codes r17, LM counts r17). The count tables are the
# trainable/MERGEABLE form of the model (the retract section's
# rationale): integer counts subtract AND add exactly, so a recrawl
# refresh is
#   counts(new) = counts(old)
#               - counts(removed+changed docs, OLD text)
#               + counts(added+changed docs, NEW text)
# — two churn-sized tokenize passes plus vocab-sized joins, never a
# corpus retrain. refresh == retrain-on-NEW bit-for-bit because the
# arithmetic is exact and unchanged docs contribute identical counts
# to both sides; the oracle retrains from the NEW snapshot corpus so
# its oracle test hash-gates exactly that claim.


def merge_counts(
    stored: DataFrame, delta: DataFrame, key: str, cnt: str
) -> DataFrame:
    """stored counts PLUS delta counts on ``key`` — the additive
    mirror of :func:`retract_counts`: full outer join (keys new to
    the delta enter the vocabulary), exact integer addition. Both
    frames are vocab-sized."""
    d = delta.select(key, F.col(cnt).alias("__d"))
    zero = F.lit(0).cast("bigint")
    return (
        stored.join(d, key, "full_outer")
        .select(
            key,
            (
                F.coalesce(F.col(cnt), zero) + F.coalesce(F.col("__d"), zero)
            ).alias(cnt),
        )
        .filter(F.col(cnt) > 0)
    )


def lm_model_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library function, gated by its oracle test (not in
    ``registry.QUERIES``): the full snapshot-refresh cycle for the LM
    count store — persist the OLD snapshot's count artifact (the
    pre-existing artifact; on disk from the previous cycle in
    production), diff the snapshots
    (:func:`..curation_ext.snapshot_diff` on content hashes),
    delta-count the LEAVING docs under their OLD text and the ENTERING
    docs under their NEW text (both churn-sized tokenize passes — a
    changed doc leaves under its old text and re-enters under its new
    text), subtract/add against the stored counts (vocab-sized joins,
    the retract machinery plus its additive mirror), re-derive the
    score table, and score the NEW snapshot.

    The oracle retrains the interpolated model from the NEW snapshot
    corpus from scratch (the winnow/PQ refresh proof pattern), so the
    oracle test hash-gates refresh == retrain; pytest additionally
    pins the reconciled count frames against a from-scratch recount
    of the NEW snapshot."""
    from ..sources.tables import _artifact_dir
    from .curation_ext import _snapshot_frames, snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old_docs, new_docs, old_h, new_h = _snapshot_frames(docs)
    d = _artifact_dir(spark, sf_dir, "lm_snap_counts")
    occ_o, uni_o, bg_o, tok_o = _lm_count_frames_from(old_docs)
    write_parquet_parallel(
        (bg_o, f"{d}/bigram_counts"), (uni_o, f"{d}/unigram_counts")
    )
    occ_o.unpersist()
    tok_o.unpersist()

    diff = snapshot_diff(old_h, new_h)
    leave = diff.filter(F.col("status") != "added").select("doc_id")
    enter = diff.filter(F.col("status") != "removed").select("doc_id")
    occ_l, uni_l, bg_l, tok_l = _lm_count_frames_from(
        old_docs.join(leave, "doc_id")
    )
    occ_e, uni_e, bg_e, tok_e = _lm_count_frames_from(
        new_docs.join(enter, "doc_id")
    )
    stored_bg = spark.read.parquet(f"{d}/bigram_counts")
    stored_uni = spark.read.parquet(f"{d}/unigram_counts")
    runi = merge_counts(
        retract_counts(stored_uni, uni_l, "w", "ucnt"), uni_e, "w", "ucnt"
    ).localCheckpoint()
    rbg = merge_counts(
        retract_counts(stored_bg, bg_l, "bg", "cnt"), bg_e, "bg", "cnt"
    ).localCheckpoint()
    for f in (occ_l, tok_l, occ_e, tok_e):
        f.unpersist()

    scores = _interp_scores_from_counts(runi, rbg)
    occ_new = new_docs.select(
        "doc_id",
        F.explode(bigrams_from_tokens(tokens_col("text"))).alias("bg"),
    )
    return _score_occurrences(occ_new, scores)


def _refresh_oracle_lm() -> str:
    """Retrain-on-NEW oracle: the interp chain with its corpus source
    textually swapped to the NEW-snapshot CTE (the winnow
    _refresh_oracle substitution pattern — the chain reads FROM
    documents exactly twice, asserted so drift breaks loudly)."""
    from .curation_ext import (
        SNAP_CHANGE_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_RESIDUE,
        SNAP_ROT,
    )

    chain = _lm_interp_oracle()
    assert chain.count("FROM documents") == 2
    chain = chain.replace("FROM documents", "FROM documents_new")
    assert chain.count("WITH toks AS") == 1
    return chain.replace(
        "WITH toks AS",
        f"""WITH documents_new AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SNAP_CHANGE_MOD} = 0
              THEN concat(substr(text, {SNAP_ROT + 1}), substr(text, 1, {SNAP_ROT}))
              ELSE text END AS text
  FROM documents WHERE doc_id % {SNAP_NEW_MOD} != {SNAP_NEW_RESIDUE}
),
toks AS""",
        1,
    )


LM_MODEL_REFRESH_ORACLE = _refresh_oracle_lm()
