"""End-to-end corpus-cleaning funnel — the composition query an LLM
training-data pipeline actually runs: language filter → quality
threshold → exact dedup → near-dup removal, reporting surviving
document and token budgets per stage.

No reference counterpart (the reference stops at single-job text ops,
SURVEY.md §2.3); this is the north-star composition of the engine's
own operators. The per-stage definitions deliberately mirror
``text_analysis.lang_id`` / ``quality_score`` / ``token_counts`` and
``winnow.winnow_neardup`` — same expressions, imported constants —
and the funnel's own DuckDB oracle re-derives the whole funnel
end-to-end, so any drift between the pieces and the composition
hash-fails.

Scale design: ALL per-document features (language hits, quality
ratios, BPE token count, content hash) are computed in ONE projection
over ONE pruned scan — not by joining the individual operators'
outputs, which would cost four scans and three shuffle joins at
100 TB. Each funnel stage is a per-document flag on that frame, and
one aggregate counts every stage at once; the only shuffles are the
exact-dup min-per-hash window, the join to the near-dup pair list
(df-capped, see winnow.py) and the 1-row aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .text_analysis import BPE_PATTERN, LANGS, STOPWORDS, _hits, _hits_sql
from .winnow import winnow_neardup
from ..functions.text import tokens_col, tokens_sql

KEEP_LANG = "en"
QUALITY_MIN = 0.45


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-document features: pred_lang, quality, bpe_tokens,
    content hash (expressions mirror lang_id / quality_score /
    token_counts / dedup_exact), and the funnel's first two stage
    flags: ``in1`` (language kept) and ``in2`` (``in1`` and quality
    at least the threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "text",
        tokens_col("text").alias("toks"),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9_ ]", "").alias("clean"),
    )
    hit_cols = [_hits(F.col("toks"), STOPWORDS[lg]).alias(f"hits_{lg}") for lg in LANGS]
    d = d.select("doc_id", "text", "toks", "clean", *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in LANGS])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in LANGS:
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    toks = F.col("toks")
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(
            toks,
            lambda t: F.array_contains(
                F.array(*[F.lit(w) for w in STOPWORDS[KEEP_LANG]]), t
            ),
        )
    )
    quality = (
        F.least(n_tok, F.lit(100)).cast("double") / F.lit(100.0)
        + sw.cast("double") / n_tok
        + F.length("clean").cast("double") / F.length("text")
    ) / F.lit(3.0)
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), F.lit(0)))
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        quality.alias("quality"),
        bpe.alias("bpe_tokens"),
        F.md5("text").alias("content_hash"),
    ).select(
        "*",
        (F.col("pred_lang") == KEEP_LANG).alias("in1"),
        ((F.col("pred_lang") == KEEP_LANG) & (F.col("quality") >= QUALITY_MIN)).alias("in2"),
    )


def corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs, n_bpe_tokens) per funnel stage.

    Stages: 0_all → 1_lang (pred_lang = en) → 2_quality (score ≥
    threshold) → 3_exact_dedup (keep min doc_id per content hash) →
    4_neardup (drop any doc with a winnowing near-dup partner of
    smaller doc_id — the corpus-level pair list is the arbiter, so
    the decision is independent of upstream filter order).

    Each stage is a per-document flag: ``in1`` and ``in2`` come from
    :func:`_features`, ``in3`` keeps an ``in2`` doc that is the min
    ``in2`` doc_id of its content hash (a window, not a join), and
    ``in4`` keeps an ``in3`` doc with no match in a left join to the
    distinct ``doc_b`` of ``winnow_neardup``. :func:`stage_counts`
    counts every stage in one aggregate. A stage no document reaches
    has ``n_docs`` 0 and a NULL ``n_bpe_tokens``, as SQL's ``sum``
    over no rows.
    """
    stages = ("0_all", "1_lang", "2_quality", "3_exact_dedup", "4_neardup")
    feats = _features(spark, sf_dir)
    first = F.min(F.when(F.col("in2"), F.col("doc_id"))).over(
        Window.partitionBy("content_hash")
    )
    dropped = (
        winnow_neardup(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"), F.lit(True).alias("near"))
        .distinct()
    )
    flags = (
        feats.withColumn("in0", F.lit(True))
        .withColumn("in3", F.col("in2") & (F.col("doc_id") == first))
        .join(dropped, "doc_id", "left")
        .withColumn("in4", F.col("in3") & F.col("near").isNull())
    )
    return stage_counts(flags, stages, "n_docs", "bpe_tokens", "n_bpe_tokens")


def stage_counts(
    flags: DataFrame,
    stages: Sequence[str],
    n_name: str,
    measure: str,
    sum_name: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """(stage, *by, n_name, sum_name) from per-row stage flags ``in0``
    .. ``in<k>``: stage k counts the rows whose flag is true (NULL
    counts as false) and sums ``measure`` over them, all stages in ONE
    ``groupBy(*by).agg`` whose columns ``inline`` turns into rows.
    Ungrouped, a stage no row reaches reads (0, NULL) as SQL's
    ``count``/``sum`` over no rows; grouped, its row is dropped, as the
    SQL twin's GROUP BY has no row for an empty group."""
    counts = flags.groupBy(*by).agg(
        *[
            agg
            for k in range(len(stages))
            for agg in (
                F.count_if(f"in{k}").alias(f"n{k}"),
                F.sum(F.when(F.col(f"in{k}"), F.col(measure))).alias(f"t{k}"),
            )
        ]
    )
    rows = counts.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        *by,
                        F.col(f"n{k}").alias(n_name),
                        F.col(f"t{k}").alias(sum_name),
                    )
                    for k, name in enumerate(stages)
                ]
            )
        )
    )
    return rows.filter(F.col(n_name) > 0) if by else rows


def features_sql() -> str:
    """DuckDB twin of :func:`_features` as a `h AS (...), feats AS
    (...)` CTE-body fragment (shared by the funnel oracle here and the
    token-budget oracle in ``curation_ext.py``)."""
    t = tokens_sql("text")
    hits = ",\n         ".join(
        f"{_hits_sql(t, STOPWORDS[lg])} AS hits_{lg}" for lg in LANGS
    )
    best = f"greatest({', '.join(f'hits_{lg}' for lg in LANGS)})"
    tie = " ".join(f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in LANGS)
    en = ", ".join(f"'{w}'" for w in STOPWORDS[KEEP_LANG])
    quality = (
        f"(CAST(least(len({t}), 100) AS DOUBLE) / 100.0"
        f" + CAST(len(list_filter({t}, tk -> list_contains([{en}], tk))) AS DOUBLE)"
        f" / len({t})"
        f" + CAST(length(regexp_replace(lower(text), '[^a-z0-9_ ]', '', 'g')) AS DOUBLE)"
        f" / length(text)) / 3.0"
    )
    return f"""h AS (
  SELECT doc_id, text,
         {hits}
  FROM documents
),
feats AS (
  SELECT doc_id,
         CASE WHEN {best} <= 0 THEN 'und' {tie} END AS pred_lang,
         {quality} AS quality,
         len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS bpe_tokens,
         md5(text) AS content_hash
  FROM h
)"""


def _funnel_oracle() -> str:
    from .winnow import WINNOW_NEARDUP_ORACLE

    return f"""
WITH {features_sql()},
s1 AS (SELECT * FROM feats WHERE pred_lang = '{KEEP_LANG}'),
s2 AS (SELECT * FROM s1 WHERE quality >= {QUALITY_MIN}),
s3 AS (
  SELECT * FROM s2
  WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY content_hash)
),
nd AS (SELECT DISTINCT doc_b AS doc_id FROM ({WINNOW_NEARDUP_ORACLE}) wp),
s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd))
SELECT '0_all' AS stage, count(*) AS n_docs, CAST(sum(bpe_tokens) AS BIGINT) AS n_bpe_tokens FROM feats
UNION ALL
SELECT '1_lang', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s1
UNION ALL
SELECT '2_quality', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s2
UNION ALL
SELECT '3_exact_dedup', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s3
UNION ALL
SELECT '4_neardup', count(*), CAST(sum(bpe_tokens) AS BIGINT) FROM s4
"""


CORPUS_CLEAN_FUNNEL_ORACLE = _funnel_oracle()

# ------------------------------------------- deterministic sampling

# per-source target sampling rates (a data-mixture spec): the rates a
# pipeline would derive from a token-budget allocation
MIXTURE_RATES: dict[str, float] = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
DEFAULT_RATE = 0.1
SAMPLE_SEED = "mix1"  # changing the seed string re-rolls every doc


def _uniform(doc_id) -> F.Column:
    """Deterministic uniform in [0,1) from (seed, doc_id) — md5-derived
    so reruns, retries, and other engines agree on every keep/drop
    decision (a rand()-based sample is not reproducible across task
    retries, which silently corrupts a 100 TB pipeline)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(SAMPLE_SEED), doc_id.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return h.cast("double") / F.lit(4294967296.0)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted corpus sample: per-source keep rates applied by
    deterministic hash — the operation that turns N crawled sources
    into a target data mixture.

    Map-only plan (one pruned scan, per-row hash compare, no shuffle
    except the final per-source audit aggregate). Output is the audit
    frame (source, rate, n_docs, n_kept) — the sampled rows themselves
    are the same filter applied to the full frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for src, r in sorted(MIXTURE_RATES.items()):
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    kept = (_uniform(F.col("doc_id")) < rate).cast("int")
    return (
        docs.select("source", rate.alias("rate"), kept.alias("kept"))
        .groupBy("source", "rate")
        .agg(F.count("*").alias("n_docs"), F.sum("kept").alias("n_kept"))
    )


def _rate_sql() -> str:
    expr = str(DEFAULT_RATE)
    for src, r in sorted(MIXTURE_RATES.items()):
        expr = f"CASE WHEN source = '{src}' THEN {r} ELSE {expr} END"
    return expr


STRATIFIED_SAMPLE_ORACLE = f"""
SELECT source,
       CAST({_rate_sql()} AS DOUBLE) AS rate,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('{SAMPLE_SEED}', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0
                     < {_rate_sql()} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY source, {_rate_sql()}
"""

# --------------------------------------------------- mixture weighting

def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights to rebalance the corpus toward a
    UNIFORM token mixture — the data-recipe step that decides how hard
    to up/down-sample each source before training.

    One full-corpus pass: groupBy(source) with map-side-combined token
    sums (the only shuffle carries one row per source), then shares and
    weights via window arithmetic over the tiny aggregated frame —
    global windows are safe here precisely because they run AFTER
    aggregation, never on raw rows. weight = target_share /
    natural_share; weight > 1 means the source repeats (epochs) to hit
    the target, < 1 means it is subsampled.

    Output: (source, n_docs, src_tokens, natural_share, target_share,
    weight).
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).alias("src_tokens"),
    )
    w = Window.partitionBy()
    natural = F.col("src_tokens").cast("double") / F.sum("src_tokens").over(w)
    target = F.lit(1.0) / F.count("*").over(w)
    return per_source.select(
        "source",
        "n_docs",
        "src_tokens",
        natural.alias("natural_share"),
        target.alias("target_share"),
        (target / natural).alias("weight"),
    )


MIXTURE_WEIGHTS_ORACLE = r"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
           AS src_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(src_tokens AS BIGINT) AS src_tokens,
       CAST(src_tokens AS DOUBLE) / sum(src_tokens) OVER () AS natural_share,
       CAST(1.0 AS DOUBLE) / count(*) OVER () AS target_share,
       (CAST(1.0 AS DOUBLE) / count(*) OVER ())
         / (CAST(src_tokens AS DOUBLE) / sum(src_tokens) OVER ()) AS weight
FROM per_source
"""


def sample_exact_k(df, k: int, key: str = "doc_id", seed: str = SAMPLE_SEED):
    """Exactly-k uniform sample: order by a seeded md5 of the key and
    take k — compiles to TakeOrdered (per-partition top-k, then a
    k-row driver merge; no global sort materializes), deterministic
    across runs/retries/engines like every sampler here. Rate-based
    sampling (:func:`stratified_sample`) gives binomial counts; this
    is the "exactly 10k docs" contract a budgeted eval set wants.
    Ties are impossible (md5 of distinct keys), so the sample is
    unique and stable."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit(seed), F.col(key).cast("string")))
    return df.orderBy(h).limit(k)


# --------------------------------------- multimodal cleaning funnel (r11)
#
# The media counterpart of corpus_clean_funnel (r10 verdict #2): the
# text side has had its capstone composition since r6, while the
# media operators (real decode, perceptual fingerprints, integer
# audio features, pair-free dedup clustering) were only exercised
# solo. This funnel composes them the way a multimodal training-data
# pipeline would: decode -> per-item quality features -> perceptual
# dedup, reporting surviving item and byte budgets per stage and
# media kind.
#
# Stage definitions (all-integer, so DuckDB re-derives the WHOLE
# funnel from hex(encode(text)) byte arithmetic and the driver can
# hash-gate it end-to-end):
#   0_all      every decodable media item (the media_real_table rows)
#   1_quality  audio keeps un-clipped items (peak_abs below
#              MEDIA_AUDIO_CLIP_PEAK — the classic level check);
#              images keep items with real gradient structure
#              (bit_count(dHash) >= MEDIA_IMG_MIN_GRADIENTS — a
#              near-empty difference hash is a blank/degenerate
#              image, the dHash-native degeneracy test)
#   2_dedup    keep the min-doc_id item of each perceptual cluster
#              among the stage-1 survivors; clusters come from the
#              CORPUS-level fingerprint graph (fp_clusters — the
#              arbiter is computed once over everything, so the
#              decision is independent of upstream filter order,
#              the corpus_clean_funnel convention)
#
# Scale design: ONE decode pass per item total — the fused wav_fp_peak
# pass yields the audio quality AND dedup signals from a single RIFF
# walk, and the image dHash already IS both (quality = its popcount).
# Downstream of the decode maps every item is (doc_id, 8-byte fp), so
# the cluster/keep joins move ~10^-5 of the pixel bytes; each stage
# is a per-item flag from a left join to its kept ids, and one
# per-kind aggregate (stage_counts) counts every stage.
# Thresholds are corpus-calibrated (measured at sf0.001/0.01/0.1:
# the clip filter drops ~half the clips, the gradient filter ~8% of
# images) so every stage does real work at driver scales.

MEDIA_AUDIO_CLIP_PEAK = 31000  # keep peak_abs <  this (clip/level check)
MEDIA_IMG_MIN_GRADIENTS = 10  # keep bit_count(dHash) >= this


def media_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, media_type, n_items, n_bytes) per funnel stage and
    media kind — the multimodal curation capstone (section comment
    above). The decoded media and both fingerprint frames are
    persisted: each decode runs once for all of their consumers."""
    from pyspark.storagelevel import StorageLevel

    from .multimodal import (
        IMAGE_MEDIA_TYPES,
        fp_clusters,
        image_fingerprints,
        media_real_table,
        wav_fp_peak,
    )

    media = media_real_table(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    afp = wav_fp_peak(media).persist(StorageLevel.MEMORY_AND_DISK)
    ifp = image_fingerprints(
        media.filter(F.col("media_type").isin(*IMAGE_MEDIA_TYPES))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keep1 = (
        afp.filter(F.col("peak_abs") < MEDIA_AUDIO_CLIP_PEAK)
        .select("doc_id")
        .unionByName(
            ifp.filter(
                F.bit_count("fingerprint") >= MEDIA_IMG_MIN_GRADIENTS
            ).select("doc_id")
        )
    )
    # corpus-level cluster arbiter: audio and image label spaces are
    # doc_ids of disjoint residues (doc_id % 3), so the union is safe
    clusters = fp_clusters(ifp).unionByName(
        fp_clusters(afp.select("doc_id", "fingerprint"))
    )
    return _media_funnel_counts(media, keep1, clusters, by=("media_type",))


def _media_funnel_counts(
    media: DataFrame, keep1: DataFrame, clusters: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """The media funnels' stage report over ``media``: ``in1`` marks
    the ids in ``keep1``, ``in2`` the min doc_id of each cluster among
    them (both NULL elsewhere)."""
    keep2 = (
        keep1.join(clusters, "doc_id")
        .groupBy("cluster")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    flags = (
        media.withColumn("in0", F.lit(True))
        .join(keep1.withColumn("in1", F.lit(True)), "doc_id", "left")
        .join(keep2.select("doc_id", F.lit(True).alias("in2")), "doc_id", "left")
    )
    return stage_counts(
        flags, ("0_all", "1_quality", "2_dedup"), "n_items", "n_bytes", "n_bytes", by
    )


def _media_funnel_oracle() -> str:
    from .multimodal import (
        BMP_HEADER,
        IMG_DATA_LEN,
        MEDIA_AUDIO_FEATURES_ORACLE,
        PPM_HEADER,
        WAV_DATA_LEN,
        WAV_HEADER,
        _audio_fp_oracle_core,
        _fp_cluster_sql,
        _image_fp_oracle_core,
    )

    wav_n = len(WAV_HEADER) + WAV_DATA_LEN
    bmp_n = len(BMP_HEADER) + IMG_DATA_LEN
    ppm_n = len(PPM_HEADER) + IMG_DATA_LEN
    return f"""
WITH RECURSIVE
m AS MATERIALIZED (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'audio/wav'
                         WHEN 1 THEN 'image/bmp'
                         ELSE 'image/ppm' END AS media_type,
         CASE doc_id % 3 WHEN 0 THEN {wav_n}
                         WHEN 1 THEN {bmp_n}
                         ELSE {ppm_n} END AS n_bytes
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN}
),
ifp AS MATERIALIZED (
  SELECT doc_id, fingerprint FROM ({_image_fp_oracle_core()}) t
),
afp AS MATERIALIZED (
  SELECT doc_id, fingerprint FROM ({_audio_fp_oracle_core()}) t
),
apk AS MATERIALIZED (
  SELECT doc_id, peak_abs FROM ({MEDIA_AUDIO_FEATURES_ORACLE}) t
),
k1 AS MATERIALIZED (
  SELECT doc_id FROM apk WHERE peak_abs < {MEDIA_AUDIO_CLIP_PEAK}
  UNION ALL
  SELECT doc_id FROM ifp
  WHERE bit_count(fingerprint) >= {MEDIA_IMG_MIN_GRADIENTS}
),
s1 AS MATERIALIZED (SELECT m.* FROM m JOIN k1 USING (doc_id)),
{_fp_cluster_sql("i_", "ifp")},
{_fp_cluster_sql("a_", "afp")},
clusters AS MATERIALIZED (
  SELECT * FROM i_clusters UNION ALL SELECT * FROM a_clusters
),
k2 AS MATERIALIZED (
  SELECT min(s1.doc_id) AS doc_id
  FROM s1 JOIN clusters USING (doc_id)
  GROUP BY cluster
),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN k2 USING (doc_id))
SELECT '0_all' AS stage, media_type, count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes
FROM m GROUP BY media_type
UNION ALL
SELECT '1_quality', media_type, count(*), CAST(sum(n_bytes) AS BIGINT)
FROM s1 GROUP BY media_type
UNION ALL
SELECT '2_dedup', media_type, count(*), CAST(sum(n_bytes) AS BIGINT)
FROM s2 GROUP BY media_type
"""


MEDIA_CLEAN_FUNNEL_ORACLE = _media_funnel_oracle()


# ------------------------------- video cleaning funnel (r13 library)

# The video member of the funnel family: decode once, quality-gate,
# then the perceptual dedup KEEP decision — over the genuine AVI
# corpus. The quality signal is FREE given the fingerprint, exactly
# the image funnel's trick: bit_count(avi_video_hash) counts how many
# of the 56 spatio-temporal gradients are non-flat, so a near-zero
# popcount is a degenerate clip (black frames, a static test card, a
# flat-luminance render) — no second decode pass, no second signal
# extraction. Threshold corpus-calibrated like MEDIA_IMG_MIN_GRADIENTS:
# 26 drops 12.1 % / 9.2 % / 10.8 % of clips at sf0.001/0.01/0.1
# (measured at build time — the gate does real work at every driver
# scale; the popcount median is 27 with minimum 22).
MEDIA_VIDEO_MIN_GRADIENTS = 26


def media_video_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_items, n_bytes) per funnel stage over the AVI corpus
    — decode once (one ``video_fingerprints`` pass yields BOTH the
    quality signal and the dedup signal), drop low-gradient clips
    (bit_count < MEDIA_VIDEO_MIN_GRADIENTS), then keep the min-doc_id
    clip per perceptual cluster among quality survivors. Clusters
    come from the CORPUS-level fingerprint graph (the
    media_clean_funnel / corpus_clean_funnel order-independent
    arbiter convention), through the shared pair-free
    :func:`~..operators.multimodal.fp_clusters`; the stages are
    counted as in :func:`media_clean_funnel`."""
    from pyspark.storagelevel import StorageLevel

    from .multimodal import fp_clusters, media_avi_table, video_fingerprints

    media = media_avi_table(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    vfp = video_fingerprints(media).persist(StorageLevel.MEMORY_AND_DISK)
    keep1 = vfp.filter(
        F.bit_count("fingerprint") >= MEDIA_VIDEO_MIN_GRADIENTS
    ).select("doc_id")
    return _media_funnel_counts(media, keep1, fp_clusters(vfp))


def _video_funnel_oracle() -> str:
    from .multimodal import (
        AVI_DATA_LEN,
        AVI_FILE_LEN,
        _fp_cluster_sql,
        _video_fp_oracle_core,
    )

    return f"""
WITH RECURSIVE
m AS MATERIALIZED (
  SELECT doc_id, {AVI_FILE_LEN} AS n_bytes
  FROM documents
  WHERE octet_length(encode(text)) >= {AVI_DATA_LEN}
),
vfp AS MATERIALIZED (
  SELECT doc_id, fingerprint FROM ({_video_fp_oracle_core()}) t
),
k1 AS MATERIALIZED (
  SELECT doc_id FROM vfp
  WHERE bit_count(fingerprint) >= {MEDIA_VIDEO_MIN_GRADIENTS}
),
s1 AS MATERIALIZED (SELECT m.* FROM m JOIN k1 USING (doc_id)),
{_fp_cluster_sql("v_", "vfp")},
k2 AS MATERIALIZED (
  SELECT min(s1.doc_id) AS doc_id
  FROM s1 JOIN v_clusters USING (doc_id)
  GROUP BY cluster
),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN k2 USING (doc_id))
SELECT '0_all' AS stage, count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes
FROM m
UNION ALL
SELECT '1_quality', count(*), CAST(sum(n_bytes) AS BIGINT) FROM s1
UNION ALL
SELECT '2_dedup', count(*), CAST(sum(n_bytes) AS BIGINT) FROM s2
"""


MEDIA_VIDEO_CLEAN_FUNNEL_ORACLE = _video_funnel_oracle()


# ------------------------------- cross-modal decontamination audit (r11)


def decontaminate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier, n_flagged) — ONE audit frame over every decontamination
    tier the engine ships: exact text n-gram overlap
    (``contamination_check``), fuzzy winnowed fingerprints
    (``decontaminate_neardup``), perceptual image hashes
    (``media_decontaminate``), semantic embedding cosine
    (``embedding_decontaminate``), perceptual audio envelope hashes
    (``media_audio_decontaminate``, folded in r14 per r13 verdict
    #1), and — since the video tier's r15 registration — perceptual
    spatio-temporal video hashes (``media_video_decontaminate``).
    The report a dataset release actually wants is not six separate
    queries but one "how compromised is this corpus, by which
    detection mechanism" table — the decontamination counterpart of
    ``dataset_build_audit``.

    Counts are DISTINCT flagged training items per tier (documents
    for the text/image/audio/video tiers, vectors for the semantic
    tier — id spaces differ by design, which is why the audit reports
    per tier and never unions the id sets). Each tier keeps its own
    broadcast-eval plan shape; this composition adds only six tiny
    aggregates and a union. Library surface in r11 with a
    pre-verified oracle (registry saturation note); audio tier folded
    in r14, video tier folded in r15 — each recompose force-restamps
    the oracle in the same window as the tier's registration.

    r18 (guide §2.6 "overlap independent jobs"): the six tiers share
    no intermediate (different extraction per modality), so running
    them as ONE sequential action left most of the cluster idle in
    every tier's single-task/straggler stages. Each tier's one-row
    aggregate now materializes eagerly (localCheckpoint) from a small
    driver thread pool — independent jobs back-fill each other's
    tails — and the returned union reads the six checkpointed rows.
    Everything still computes from the parquet inputs inside this
    call (the checkpoints live and die within the invocation; nothing
    is memoized across runs), rows and oracle are unchanged, and the
    per-tier plans are untouched. Pool width = all six tiers: measured
    at sf0.1 width 1/2/3/6 -> 8.8/5.0/3.9/3.4 s on local[32] and
    3->6 -> 4.3/2.8 s on local[8] — every tier is overhead-bound, so
    full overlap wins at both core counts."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    from .curation import contamination_check
    from .multimodal import (
        media_audio_decontaminate,
        media_decontaminate,
        media_video_decontaminate,
    )
    from .similarity import embedding_decontaminate
    from .winnow import decontaminate_neardup

    def tier(name: str, df: DataFrame, id_col: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("tier"),
            F.count_distinct(F.col(id_col)).alias("n_flagged"),
        )

    tiers = [
        ("1_text_exact", contamination_check, "train_doc"),
        ("2_text_fuzzy", decontaminate_neardup, "doc_id"),
        ("3_image", media_decontaminate, "doc_id"),
        ("4_semantic", embedding_decontaminate, "vec_id"),
        ("5_audio", media_audio_decontaminate, "doc_id"),
        ("6_video", media_video_decontaminate, "doc_id"),
    ]

    def build(spec) -> DataFrame:
        name, fn, id_col = spec
        spark.sparkContext.setJobDescription(f"decontaminate_audit: {name}")
        return tier(name, fn(spark, sf_dir), id_col).localCheckpoint()

    with ThreadPoolExecutor(max_workers=len(tiers)) as pool:
        frames = list(pool.map(build, tiers))
    return reduce(DataFrame.unionByName, frames)


def _decontaminate_audit_oracle() -> str:
    from .curation import CONTAMINATION_ORACLE
    from .multimodal import (
        MEDIA_AUDIO_DECONTAMINATE_ORACLE,
        MEDIA_DECONTAMINATE_ORACLE,
        MEDIA_VIDEO_DECONTAMINATE_ORACLE,
    )
    from .similarity import EMBEDDING_DECONTAMINATE_ORACLE
    from .winnow import DECONTAMINATE_NEARDUP_ORACLE

    return f"""
SELECT '1_text_exact' AS tier,
       count(DISTINCT train_doc) AS n_flagged
FROM ({CONTAMINATION_ORACLE}) t1
UNION ALL
SELECT '2_text_fuzzy', count(DISTINCT doc_id)
FROM ({DECONTAMINATE_NEARDUP_ORACLE}) t2
UNION ALL
SELECT '3_image', count(DISTINCT doc_id)
FROM ({MEDIA_DECONTAMINATE_ORACLE}) t3
UNION ALL
SELECT '4_semantic', count(DISTINCT vec_id)
FROM ({EMBEDDING_DECONTAMINATE_ORACLE}) t4
UNION ALL
SELECT '5_audio', count(DISTINCT doc_id)
FROM ({MEDIA_AUDIO_DECONTAMINATE_ORACLE}) t5
UNION ALL
SELECT '6_video', count(DISTINCT doc_id)
FROM ({MEDIA_VIDEO_DECONTAMINATE_ORACLE}) t6
"""


DECONTAMINATE_AUDIT_ORACLE = _decontaminate_audit_oracle()
