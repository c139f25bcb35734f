"""Streaming curation: the ``readStream`` swap for the LLM-pipeline
dedup operators, completing the streaming story beyond events.

Every twin here runs the one drain, :func:`.drain.drain`: the static
side of its stream-static join (a stored index or registry) is a
snapshot the drain persists once per stream start and releases in its
``finally``, and each micro-batch runs a body built from code factored
out of the batch operator (``winnow._best_matches``,
``curation._contam_from_registry``, ``sketch._daily_grid``,
``curation_ext._new_snapshot_docs``, the tier table's fingerprint and
flag functions), never a copy of it. Each batch writes to its own
``batch_id=N`` partition in overwrite mode, so a foreachBatch replay
rewrites exactly its own rows.

``streaming_dedup_incremental`` is the production shape of daily
ingest: NEW documents arrive as a stream, each micro-batch is
fingerprinted map-only and checked against the STORED corpus
fingerprint index (``operators.winnow.winnow_write_index``'s parquet),
and flagged near-dups go to a result store. Per-document output of
every twin depends only on (doc) x (static artifact), never on other
stream docs, so micro-batch boundaries cannot matter and each drained
store is EXACTLY its batch operator's answer, pinned by the
equivalence tests. State story at 100 TB/day: the stream side holds
no aggregation state at all; the only long-lived object is the static
artifact, which production refreshes by atomically swapping the
parquet dir (a swap needs a drain restart).

The media decontamination twins all run :func:`_drain_decontam` over
the batch side's tier table (``operators.multimodal.MediaTier``), so a
tier's media table, fingerprint function and registry layout are read
from the record its batch queries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    AUDIO_CLIP_TIER,
    AUDIO_WINDOW_TIER,
    IMAGE_CLIP_TIER,
    IMAGE_TILE_TIER,
    VIDEO_CLIP_TIER,
    VIDEO_FRAME_TIER,
    MediaTier,
)
from ..operators.substring_dedup import SPAN_K
from ..operators.winnow import (
    BATCH_MOD,
    BATCH_RESIDUE,
    DF_CAP,
    MIN_SHARED,
    _best_matches,
    _chunked_fp_rows,
    _hot_fps,
)
from .drain import _parquet_stream, _read_store_columns, drain


def stream_documents(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """``readStream`` over the documents parquet (file-source replay,
    one file per trigger — the AvailableNow drain pattern shared with
    ``stream_events``)."""
    return _parquet_stream(spark, sf_dir, glob)


def streaming_dedup_incremental(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_shared: int = MIN_SHARED,
    df_cap: int = DF_CAP,
) -> None:
    """Drain the document stream's NEW-batch split through per-micro-
    batch incremental dedup against the stored fingerprint index and
    write flagged (doc_id, dup_of, shared_fps) rows to ``out_dir``.

    The static side — the df-capped hot set and the capped index
    fingerprints — is built ONCE per drain from ``index_dir`` (both
    are drain snapshots) and reused by every micro-batch, exactly how
    a deployment serves a shipped index. The hot set comes from the
    index side only, matching batch ``dedup_incremental``; stream
    docs never join each other. Read the store through
    :func:`read_flagged_from_store`.
    """
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_RESIDUE
    index = (
        spark.read.parquet(f"{index_dir}/fingerprints")
        .select("doc_id", "fp_hash")
        .distinct()
        .filter(~is_batch)
    )
    hot = _hot_fps(index, df_cap)
    index_capped = index.join(F.broadcast(hot), "fp_hash", "left_anti").select(
        F.col("doc_id").alias("dup_of"), "fp_hash"
    )

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        fps_b = (
            _chunked_fp_rows(bdf.select("doc_id", "text"))
            .select("doc_id", "fp_hash")
            .distinct()
            .join(F.broadcast(hot), "fp_hash", "left_anti")
        )
        # No broadcast hint on the stream side: the drain replays a
        # whole parquet file per trigger — AQE broadcasts a genuinely
        # small micro-batch at runtime and shuffle-joins a large one,
        # so neither shape can OOM (the batch operator's rule).
        return {out_dir: _best_matches(fps_b, index_capped, min_shared)}

    drain(
        stream_documents(spark, sf_dir).filter(is_batch),
        per_batch,
        checkpoint_dir,
        snapshots=(hot, index_capped),
    )


def read_flagged_from_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, dup_of, shared_fps) from the drained flagged store —
    drops the batch_id partition column of the idempotent layout."""
    return _read_store_columns(spark, out_dir, ("doc_id", "dup_of", "shared_fps"))


def streaming_substring_cut(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = SPAN_K,
) -> None:
    """Continuous-ingest corpus REWRITE: drain the document stream
    through the per-micro-batch substring cut against the STORED
    duplicated-gram index
    (``operators.substring_dedup.substring_write_index``'s parquet,
    the drain's snapshot) and write each batch's cleaned rows to the
    idempotent ``batch_id=N`` store. The rewrite and span lower-half
    are the SAME ``_cut_with_spans`` / ``substring_spans_against`` the
    batch paths use, so the drained store is EXACTLY the batch
    ``substring_cut_from_index`` answer, pinned by the equivalence
    test. ``k`` must match the gram width the index was BUILT with
    (``substring_write_index``'s) — defaulted like
    ``substring_cut_from_index`` so a non-default-k index is never
    silently served at SPAN_K (r14 advisor)."""
    from ..operators.substring_dedup import (
        _cut_with_spans,
        substring_spans_against,
    )

    dup = spark.read.parquet(f"{index_dir}/dup_grams")

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        docs = bdf.select("doc_id", "text")
        return {
            store_dir: _cut_with_spans(
                docs, substring_spans_against(docs, dup, k)
            )
        }

    drain(stream_documents(spark, sf_dir), per_batch, checkpoint_dir, (dup,))


def streaming_contamination(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n: int | None = None,
    min_overlap: int | None = None,
) -> None:
    """Continuous-ingest EXACT contamination scan: drain the document
    stream's TRAIN split through the per-micro-batch n-gram overlap
    against the STORED benchmark-shingle registry
    (``operators.curation.contamination_write_index``'s parquet) and
    write each batch's flagged (train_doc, eval_doc, n_overlap,
    coverage) rows to the idempotent ``batch_id=N`` store.

    The informative-key set and per-eval-doc sizes are FROZEN in the
    index at build time (the ``dedup_incremental`` convention:
    corpus-global statistics never recompute at serve time); the
    registry and its per-eval-doc sizes are the drain's snapshots, and
    each micro-batch runs the batch ``contamination_from_index`` tail
    (``_contam_from_registry``), so the drained store is EXACTLY the
    batch answer, pinned by the equivalence test. ``n`` must match
    the gram width the index was built with (the
    ``streaming_substring_cut`` k caveat)."""
    from ..operators.curation import (
        CONTAM_MIN_OVERLAP,
        CONTAM_N,
        _contam_doc_shingles,
        _contam_eval_sizes,
        _contam_from_registry,
    )

    if n is None:
        n = CONTAM_N
    if min_overlap is None:
        min_overlap = CONTAM_MIN_OVERLAP
    ev_good = spark.read.parquet(f"{index_dir}/eval_shingles")
    ev_sizes = _contam_eval_sizes(ev_good)

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        train, _ = _contam_doc_shingles(bdf, n)
        return {
            store_dir: _contam_from_registry(train, ev_good, ev_sizes, min_overlap)
        }

    drain(
        stream_documents(spark, sf_dir),
        per_batch,
        checkpoint_dir,
        (ev_good, ev_sizes),
    )


def read_contamination_from_store(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """(train_doc, eval_doc, n_overlap, coverage) from the drained
    contamination store — drops the batch_id partition column."""
    return _read_store_columns(
        spark, store_dir, ["train_doc", "eval_doc", "n_overlap", "coverage"]
    )


def read_cleaned_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_cut, cleaned_text) from the drained
    cleaned-corpus store — drops the batch_id partition column."""
    return _read_store_columns(
        spark, store_dir, ("doc_id", "n_tokens", "n_cut", "cleaned_text")
    )


def streaming_quantile_merge(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the event stream into STORED daily quantile-sketch grids:
    each micro-batch contributes its (event_type, day, bucket) partial
    counts (``sketch._daily_grid``, the batch operator's own grid) —
    the streaming ingest half of ``operators.sketch.quantile_daily_merge``.
    Because the sketch merges by ADDITION, partial grids from
    arbitrary micro-batch boundaries sum to exactly the batch grids
    (associativity), so quantiles read from the drained store are
    bit-identical to the batch answer — pinned by the equivalence
    test. No cross-batch state at all: a reader compacts by summing
    at query time. The batch_id-keyed overwrite matters most here:
    additive-merge stores are exactly where a replay's silent
    duplication would corrupt every downstream quantile."""
    from ..operators.sketch import _daily_grid
    from .windows import stream_events

    drain(
        stream_events(spark, sf_dir),
        lambda bdf: {store_dir: _daily_grid(bdf)},
        checkpoint_dir,
    )


def read_quantiles_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Answer the quantile question from the streamed grid store:
    the batch operator's additive merge over the partial grids, then
    its cumulative probe. Never touches raw events."""
    from ..operators.sketch import _merge_grids, quantiles_from_grid

    grids = _read_store_columns(spark, store_dir, ("event_type", "bucket", "cnt"))
    return quantiles_from_grid(_merge_grids(grids))


def streaming_media_features(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the document stream through per-micro-batch media synth +
    integer audio-feature extraction
    (``operators.multimodal.wav_features``) into a feature store — the
    multimodal member of the streaming-ingest family. Per-document
    features are independent of micro-batch boundaries (decode +
    extraction are map-only), so the drained store is EXACTLY the
    batch ``media_audio_features`` answer — pinned by the equivalence
    test. State story at 100 TB/day: none — the stream holds nothing
    between triggers; the store is the product."""
    from ..operators.multimodal import media_real_table_from, wav_features

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        media = media_real_table_from(bdf.select("doc_id", "text"))
        return {
            store_dir: wav_features(
                media.filter(F.col("media_type") == "audio/wav")
            )
        }

    drain(stream_documents(spark, sf_dir), per_batch, checkpoint_dir)


def read_media_features_from_store(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """(doc_id, n_samples, peak_abs, sum_sq, zero_crossings) from the
    drained feature store — drops the batch_id partition column."""
    return _read_store_columns(
        spark,
        store_dir,
        ("doc_id", "n_samples", "peak_abs", "sum_sq", "zero_crossings"),
    )


def _drain_decontam(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    tier: MediaTier,
    glob: str,
) -> None:
    """The decontamination body every media tier's streaming twin
    runs: each micro-batch's TRAINING rows of the tier are
    fingerprinted and flagged against the tier's STORED eval registry
    (``<index_dir>/<tier.layout>``, what the batch
    ``*_eval_write_index`` writes and the drain snapshots) with the
    tier's own flags, so the drained store is EXACTLY the tier's batch
    answer, pinned by the equivalence tests. ``glob`` is the
    file-layout hook: the sf corpora are single ``documents.parquet``
    FILES (one micro-batch); the seeded tests use a 2-part-file
    directory with ``glob="part-*"`` to cover REAL multi-batch
    draining."""
    from ..operators.winnow import EVAL_MOD, EVAL_RESIDUE

    eval_fps = spark.read.parquet(f"{index_dir}/{tier.layout}")

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        rows = tier.media(
            bdf.select("doc_id", "text"),
            F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE,
        )
        return {store_dir: tier.flags(tier.fingerprint_fn(rows), eval_fps)}

    drain(
        stream_documents(spark, sf_dir, glob=glob),
        per_batch,
        checkpoint_dir,
        (eval_fps,),
    )


def streaming_media_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, IMAGE_CLIP_TIER, glob
    )


def streaming_media_audio_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_audio_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, AUDIO_CLIP_TIER, glob
    )


def streaming_media_video_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_video_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, VIDEO_CLIP_TIER, glob
    )


def streaming_media_video_frame_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_video_frame_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, VIDEO_FRAME_TIER, glob
    )


def streaming_media_audio_snippet_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_audio_snippet_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, AUDIO_WINDOW_TIER, glob
    )


def streaming_media_image_tile_decontaminate(
    spark: SparkSession, sf_dir: str, index_dir: str, store_dir: str,
    checkpoint_dir: str, glob: str = "documents.parquet",
) -> None:
    """Drain ``media_image_tile_decontaminate`` (:func:`_drain_decontam`)."""
    _drain_decontam(
        spark, sf_dir, index_dir, store_dir, checkpoint_dir, IMAGE_TILE_TIER, glob
    )


def read_media_flags_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(doc_id, n_eval_matches, min_hamming) from a clip tier's store."""
    return _read_store_columns(spark, store_dir, IMAGE_CLIP_TIER.out_cols)


def read_frame_flags_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(doc_id, n_eval_matches, n_frames_matched) from the video-frame store."""
    return _read_store_columns(spark, store_dir, VIDEO_FRAME_TIER.out_cols)


def read_snippet_flags_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(doc_id, n_eval_matches, n_windows_matched) from the audio-window store."""
    return _read_store_columns(spark, store_dir, AUDIO_WINDOW_TIER.out_cols)


def read_tile_flags_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(doc_id, n_eval_matches, n_tiles_matched) from the image-tile store."""
    return _read_store_columns(spark, store_dir, IMAGE_TILE_TIER.out_cols)


# ------------------------------------------------ recrawl twins
# Both recrawl twins drain the NEW snapshot against the stored
# old-snapshot content-hash registry
# (``operators.curation_ext.snapshot_write_hashes``'s parquet, the
# drain's snapshot). Per-doc added/changed depends only on (doc,
# registry), so micro-batch boundaries cannot matter; 'removed' is
# ABSENCE from the whole new snapshot, undecidable inside any single
# micro-batch, so each batch also records the doc_ids it saw in a
# manifest and the readers reconcile 'removed' after the drain as
# registry ANTI-JOIN manifest (:func:`_removed_after_drain`).


def _old_hashes(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, old_h): the stored old-snapshot hash registry."""
    return spark.read.parquet(f"{index_dir}/snapshot_hashes").withColumnRenamed(
        "h", "old_h"
    )


def _recrawl_batch(bdf: DataFrame, old: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(seen, fresh) for one micro-batch: the doc_ids of its NEW
    snapshot docs, and those docs that are added (old_h NULL) or
    changed against the registry as (doc_id, text, h, old_h). The new
    text and total content hash are the batch diff's own
    (``curation_ext._new_snapshot_docs``, ``_content_hash``)."""
    from ..operators.curation_ext import _content_hash, _new_snapshot_docs

    new_docs = _new_snapshot_docs(bdf)
    j = new_docs.select("doc_id", "text", _content_hash().alias("h")).join(
        old, "doc_id", "left"
    )
    fresh = j.filter(F.col("old_h").isNull() | (F.col("h") != F.col("old_h")))
    return new_docs.select("doc_id"), fresh


def _removed_after_drain(
    spark: SparkSession, store_dir: str, index_dir: str
) -> DataFrame:
    """(doc_id) of registry docs absent from the drained manifest."""
    seen = _read_store_columns(spark, f"{store_dir}/manifest", ("doc_id",))
    return _old_hashes(spark, index_dir).select("doc_id").join(
        seen, "doc_id", "left_anti"
    )


def streaming_snapshot_diff(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuous-recrawl diff: drain the NEW snapshot's document
    stream against the stored old-snapshot hash registry and write
    each batch's 'added'/'changed' rows to the idempotent
    ``batch_id=N`` diff store, plus the batch's seen doc_ids to a
    manifest store. The reader
    (:func:`read_snapshot_diff_from_store`) adds 'removed' after the
    drain, making the drained store EXACTLY the batch
    ``corpus_snapshot_diff`` answer (pinned by the equivalence
    test)."""
    old = _old_hashes(spark, index_dir)

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        seen, fresh = _recrawl_batch(bdf, old)
        status = F.when(F.col("old_h").isNull(), F.lit("added")).otherwise(
            F.lit("changed")
        )
        return {
            f"{store_dir}/diff": fresh.select("doc_id", status.alias("status")),
            f"{store_dir}/manifest": seen,
        }

    drain(stream_documents(spark, sf_dir), per_batch, checkpoint_dir, (old,))


def read_snapshot_diff_from_store(
    spark: SparkSession, store_dir: str, index_dir: str
) -> DataFrame:
    """(doc_id, status) from the drained recrawl-diff store, with the
    post-drain 'removed' reconciliation: old-registry docs absent
    from the streamed manifest. Equal to batch
    ``corpus_snapshot_diff`` on the same corpus."""
    diff = _read_store_columns(spark, f"{store_dir}/diff", ("doc_id", "status"))
    removed = _removed_after_drain(spark, store_dir, index_dir).select(
        "doc_id", F.lit("removed").alias("status")
    )
    return diff.unionByName(removed)


def streaming_winnow_refresh(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuous-recrawl MAINTENANCE of the fingerprint index — the
    streaming twin of the merge-on-read refresh
    (``operators.curation_ext.winnow_refresh_write_delta``): drain
    the NEW snapshot stream against the stored old-snapshot hash
    registry and, per micro-batch, (a) extract fingerprints for the
    batch's added/changed docs under their NEW text (churn-sized —
    the only extraction work) into the delta layer, (b) record the
    batch's CHANGED doc_ids (tombstone input), and (c) record the
    batch's seen ids in the manifest. 'removed' tombstones are
    reconciled by the reader (:func:`read_refreshed_index_from_store`)
    after the drain, so the drained store reconciles to EXACTLY the
    batch refresh's row set (pinned by the equivalence test)."""
    from ..operators.winnow import winnow_fingerprints_chunked_from

    old = _old_hashes(spark, index_dir)

    def per_batch(bdf: DataFrame) -> dict[str, DataFrame]:
        seen, fresh = _recrawl_batch(bdf, old)
        return {
            f"{store_dir}/delta_fingerprints": winnow_fingerprints_chunked_from(
                fresh.select("doc_id", "text")
            ),
            f"{store_dir}/changed": fresh.filter(
                F.col("old_h").isNotNull()
            ).select("doc_id"),
            f"{store_dir}/manifest": seen,
        }

    drain(stream_documents(spark, sf_dir), per_batch, checkpoint_dir, (old,))


def read_refreshed_index_from_store(
    spark: SparkSession, index_dir: str, store_dir: str
) -> DataFrame:
    """Merge-on-read reconciliation of the drained refresh store:
    base fingerprints ANTI (changed ∪ removed) UNION the drained
    delta layer — 'removed' derived post-drain as registry docs
    absent from the manifest. Row-set equal to the batch refresh /
    rebuild of the NEW snapshot (pinned by the equivalence test)."""
    base = spark.read.parquet(f"{index_dir}/fingerprints")
    changed = _read_store_columns(spark, f"{store_dir}/changed", ("doc_id",))
    removed = _removed_after_drain(spark, store_dir, index_dir)
    tomb = changed.unionByName(removed).distinct()
    delta = _read_store_columns(
        spark,
        f"{store_dir}/delta_fingerprints",
        ("doc_id", "fp_hash", "fp_pos"),
    )
    return base.join(tomb, "doc_id", "left_anti").unionByName(delta)
