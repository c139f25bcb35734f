"""Streaming curation: the ``readStream`` swap for the LLM-pipeline
dedup operators, completing the streaming story beyond events.

``streaming_dedup_incremental`` is the production shape of daily
ingest: NEW documents arrive as a stream, each micro-batch is
fingerprinted map-only and checked against the STORED corpus
fingerprint index (``operators.winnow.winnow_write_index``'s parquet
— the static side of a stream-static join), and flagged near-dups are
appended to a result store. Per-document attribution is independent
of micro-batch boundaries (each doc is matched against the static
index alone, never against other stream docs), so the drained stream
is EXACTLY the batch ``dedup_incremental`` answer — pinned by the
equivalence test. State story at 100 TB/day: the stream side holds no
aggregation state at all (foreachBatch applies complete batch logic
per micro-batch); the only long-lived object is the static index,
which production refreshes by atomically swapping the parquet dir.

The media decontamination twins all run one drain,
:func:`_drain_decontam`, over the batch side's tier table
(``operators.multimodal.DecontamTier``), so a tier's media table,
fingerprint function and registry layout are read from the record its
batch queries use.
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
    DecontamTier,
)
from ..operators.substring_dedup import SPAN_K
from ..operators.winnow import (
    BATCH_MOD,
    BATCH_RESIDUE,
    DF_CAP,
    MIN_SHARED,
    _chunked_fp_rows,
)


def _write_batch_partition(
    df: DataFrame, batch_id: int, store_dir: str
) -> None:
    """Idempotent foreachBatch sink (r9 advisor): write the batch's
    rows to their own ``batch_id=N`` subdirectory in OVERWRITE mode.
    foreachBatch side-effects are at-least-once — a micro-batch
    retried after a partial/uncommitted append would double-count its
    rows in a bare append-mode store; keyed by the (stable-on-replay)
    batch_id, a retry rewrites exactly its own partition and the
    store converges to the same content however many times a batch
    fires. Readers see a standard partitioned parquet layout and drop
    the batch_id partition column."""
    df.write.mode("overwrite").parquet(
        f"{store_dir}/batch_id={int(batch_id)}"
    )


def stream_documents(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """``readStream`` over the documents parquet (file-source replay,
    one file per trigger — the AvailableNow drain pattern shared with
    ``stream_events``)."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


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
    append flagged (doc_id, dup_of, shared_fps) rows to ``out_dir``.

    The static side (index fingerprints + the df-capped hot set) is
    built ONCE outside the stream from ``index_dir`` and reused by
    every micro-batch — exactly how a deployment serves a shipped
    index. The hot set comes from the index side only, matching batch
    ``dedup_incremental``; stream docs never join each other.

    Replay idempotency (r9 advisor): ``foreachBatch`` offers
    at-least-once side-effect semantics — a micro-batch retried after
    a partial write would DOUBLE its rows under a bare append. Every
    batch therefore writes to its own ``batch_id=N`` subdirectory in
    overwrite mode (:func:`_write_batch_partition`): a replay rewrites
    exactly its own partition and the store stays correct. Read the
    store through :func:`read_flagged_from_store`.
    """
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_RESIDUE
    index = (
        spark.read.parquet(f"{index_dir}/fingerprints")
        .select("doc_id", "fp_hash")
        .distinct()
        .filter(~is_batch)
    )
    hot = (
        index.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("fp_hash")
    )
    index_capped = (
        index.join(F.broadcast(hot), "fp_hash", "left_anti")
        .select(F.col("doc_id").alias("dup_of"), "fp_hash")
        .persist()
    )

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        fps_b = (
            _chunked_fp_rows(bdf.select("doc_id", "text"))
            .select("doc_id", "fp_hash")
            .distinct()
            .join(F.broadcast(hot), "fp_hash", "left_anti")
        )
        # No broadcast hint on the stream side: micro-batches are
        # trigger-bounded in production, but the drain pattern here
        # replays a whole parquet file per trigger — AQE broadcasts a
        # genuinely small micro-batch at runtime and shuffle-joins a
        # large one, so neither shape can OOM (r8 advisor finding,
        # same fix as batch dedup_incremental).
        pairs = (
            fps_b
            .join(index_capped, "fp_hash")
            .groupBy("doc_id", "dup_of")
            .agg(F.count("*").alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared)
        )
        best = F.max_by(
            F.struct("dup_of", "shared_fps"),
            F.struct(F.col("shared_fps"), (-F.col("dup_of")).alias("neg")),
        ).alias("b")
        flagged = (
            pairs.groupBy("doc_id")
            .agg(best)
            .select(
                "doc_id",
                F.col("b.dup_of").alias("dup_of"),
                F.col("b.shared_fps").alias("shared_fps"),
            )
        )
        _write_batch_partition(flagged, batch_id, out_dir)

    try:
        # materialize INSIDE the try: a failure mid-materialization has
        # already cached some partitions, and those must release too
        # (r12 review, second pass)
        index_capped.count()
        q = (
            stream_documents(spark, sf_dir)
            .filter(is_batch)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # release even when the snapshot or a micro-batch throws — a
        # failed drain must not leak the persisted index (r12 review)
        index_capped.unpersist()


def read_flagged_from_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """(doc_id, dup_of, shared_fps) from the drained flagged store —
    drops the batch_id partition column of the idempotent layout."""
    return spark.read.parquet(out_dir).select(
        "doc_id", "dup_of", "shared_fps"
    )


def streaming_substring_cut(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = SPAN_K,
) -> None:
    """Continuous-ingest corpus REWRITE (r14): drain the document
    stream through the per-micro-batch substring cut against the
    STORED duplicated-gram index
    (``operators.substring_dedup.substring_write_index``'s parquet —
    the static side of a stream-static join, the
    ``streaming_dedup_incremental`` shape) and write each batch's
    cleaned rows to the idempotent ``batch_id=N`` store. Per-document
    output depends only on (doc tokens) x (static gram set) — never
    on other stream docs — so the drained store is EXACTLY the batch
    ``substring_cut_from_index`` answer, pinned by the equivalence
    test. The rewrite and span lower-half are the SAME
    ``_cut_with_spans`` / ``substring_spans_against`` the batch paths
    use (one definition each — batch, stored, and streaming cannot
    drift). State story at 100 TB/day: the stream holds nothing
    between triggers; the gram index is the only long-lived object,
    snapshotted per stream start and released in the ``finally``.
    ``k`` must match the gram width the index was BUILT with
    (``substring_write_index``'s) — defaulted like
    ``substring_cut_from_index`` so a non-default-k index is never
    silently served at SPAN_K (r14 advisor)."""
    from ..operators.substring_dedup import (
        _cut_with_spans,
        substring_spans_against,
    )

    dup = spark.read.parquet(f"{index_dir}/dup_grams").persist()

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        docs = bdf.select("doc_id", "text")
        cleaned = _cut_with_spans(
            docs, substring_spans_against(docs, dup, k)
        )
        _write_batch_partition(cleaned, batch_id, store_dir)

    try:
        # materialize INSIDE the try (the r12-review discipline): a
        # failure mid-materialization must still release cached blocks
        dup.count()
        q = (
            stream_documents(spark, sf_dir)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        dup.unpersist()


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
    (``operators.curation.contamination_write_index``'s parquet — the
    static side of a stream-static join) and write each batch's
    flagged (train_doc, eval_doc, n_overlap, coverage) rows to the
    idempotent ``batch_id=N`` store.

    The informative-key set and per-eval-doc sizes are FROZEN in the
    index at build time (the ``dedup_incremental`` convention:
    corpus-global statistics never recompute at serve time), so
    per-document output depends only on (doc shingles) x (static
    registry) — never on other stream docs — and the drained store is
    EXACTLY the batch ``contamination_from_index`` answer, pinned by
    the equivalence test. ``n`` must match the gram width the index
    was built with (the ``streaming_substring_cut`` k caveat)."""
    from ..operators.curation import (
        CONTAM_MIN_OVERLAP,
        CONTAM_N,
        EVAL_MOD,
        _contam_raw_shingles,
    )

    if n is None:
        n = CONTAM_N
    if min_overlap is None:
        min_overlap = CONTAM_MIN_OVERLAP
    ev_good = spark.read.parquet(f"{index_dir}/eval_shingles").persist()
    ev_sizes = (
        ev_good.groupBy("eval_doc").agg(F.count("*").alias("n_ev")).persist()
    )

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        train = _contam_raw_shingles(bdf, n).select(
            F.col("doc_id").alias("train_doc"), F.md5("shingle").alias("sh")
        )
        overlap = (
            train.join(F.broadcast(ev_good), "sh")
            .groupBy("train_doc", "eval_doc")
            .agg(F.count("*").alias("n_overlap"))
            .filter(F.col("n_overlap") >= min_overlap)
        )
        flagged = overlap.join(F.broadcast(ev_sizes), "eval_doc").select(
            "train_doc",
            "eval_doc",
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.col("n_ev").cast("double")
            ).alias("coverage"),
        )
        _write_batch_partition(flagged, batch_id, store_dir)

    try:
        # materialize INSIDE the try (the r12-review discipline): a
        # failure mid-materialization must still release cached blocks
        ev_good.count()
        ev_sizes.count()
        q = (
            stream_documents(spark, sf_dir)
            .filter(F.col("doc_id") % EVAL_MOD != 0)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        ev_good.unpersist()
        ev_sizes.unpersist()


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
    counts, appended to ``store_dir`` — the streaming ingest half of
    ``operators.sketch.quantile_daily_merge``. Because the sketch
    merges by ADDITION, partial grids from arbitrary micro-batch
    boundaries sum to exactly the batch grids (associativity), so
    quantiles read from the drained store are bit-identical to the
    batch answer — pinned by the equivalence test. No cross-batch
    state at all: the stream side holds nothing between triggers, and
    a reader compacts by summing at query time (or a maintenance job
    rewrites the store, exactly like a production rollup). Each batch
    writes its partial grid to its own ``batch_id=N`` partition in
    overwrite mode (:func:`_write_batch_partition`) so a foreachBatch
    replay after a partial append cannot double-count (r9 advisor) —
    additive-merge stores are exactly where silent duplication would
    corrupt every downstream quantile."""
    from ..operators.sketch import _qsk_bucket
    from .windows import stream_events

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        grid = (
            bdf.select(
                "event_type",
                F.to_date("ts").cast("string").alias("day"),
                _qsk_bucket(F.col("value")).alias("bucket"),
            )
            .groupBy("event_type", "day", "bucket")
            .agg(F.count("*").alias("cnt"))
        )
        _write_batch_partition(grid, batch_id, store_dir)

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(_micro_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_quantiles_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Answer the quantile question from the streamed grid store:
    sum partial grids (the additive merge), then the same cumulative
    probe as the batch operator. Never touches raw events."""
    from ..operators.sketch import quantiles_from_grid

    merged = (
        spark.read.parquet(store_dir)
        .select("event_type", "bucket", "cnt")  # drop batch_id partition
        .groupBy("event_type", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return quantiles_from_grid(merged)


def streaming_media_features(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the document stream through per-micro-batch media synth +
    integer audio-feature extraction
    (``operators.multimodal.wav_features``) into a feature store — the
    multimodal member of the streaming-ingest family. Each batch's
    features write to a ``batch_id=N`` partition in overwrite mode
    (:func:`_write_batch_partition`, replay-idempotent). Per-document
    features are independent of micro-batch boundaries (decode +
    extraction are map-only), so the drained store is EXACTLY the
    batch ``media_audio_features`` answer — pinned by the equivalence
    test. State story at 100 TB/day: none — the stream holds nothing
    between triggers; the store is the product."""
    from ..operators.multimodal import media_real_table_from, wav_features

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        feats = wav_features(
            media_real_table_from(bdf.select("doc_id", "text")).filter(
                F.col("media_type") == "audio/wav"
            )
        )
        _write_batch_partition(feats, batch_id, store_dir)

    q = (
        stream_documents(spark, sf_dir)
        .writeStream.foreachBatch(_micro_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_media_features_from_store(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """(doc_id, n_samples, peak_abs, sum_sq, zero_crossings) from the
    drained feature store — drops the batch_id partition column."""
    return spark.read.parquet(store_dir).select(
        "doc_id", "n_samples", "peak_abs", "sum_sq", "zero_crossings"
    )


def _drain_decontam(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    tier: DecontamTier,
    glob: str,
) -> None:
    """The ONE decontamination drain every media tier's streaming twin
    runs: each micro-batch's TRAINING rows of the tier are fingerprinted
    and flagged against the tier's STORED eval registry
    (``<index_dir>/<tier.layout>``, what the batch ``*_eval_write_index``
    writes) with the tier's own flags. Per-document flags depend only on
    (doc fingerprints) x (static registry), never on other stream docs,
    so the drained store is EXACTLY the tier's batch answer, pinned by
    the equivalence tests. The registry is SNAPSHOTTED once per stream
    start (read + persist + materialize INSIDE the try, so a failure
    still releases cached blocks); a mid-stream registry swap needs a
    drain restart. Flags write to ``batch_id=N`` partitions in
    overwrite mode (:func:`_write_batch_partition`). ``glob`` is the
    file-layout hook: the sf corpora are single ``documents.parquet``
    FILES (one micro-batch); the seeded tests use a 2-part-file
    directory with ``glob="part-*"`` to cover REAL multi-batch
    draining."""
    from ..operators.winnow import EVAL_MOD, EVAL_RESIDUE

    eval_fps = spark.read.parquet(f"{index_dir}/{tier.layout}").persist()
    try:
        eval_fps.count()  # materialize once, before the stream starts

        def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
            rows = tier.media(
                bdf.select("doc_id", "text"),
                F.col("doc_id") % EVAL_MOD != EVAL_RESIDUE,
            )
            flags = tier.flags(tier.fingerprint_fn(rows), eval_fps)
            _write_batch_partition(flags, batch_id, store_dir)

        q = (
            stream_documents(spark, sf_dir, glob=glob)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # release even when the drain (or the snapshot itself) throws —
        # a failed drain must not leak the persisted registry (r12
        # review, twice: the first fix put the materialize OUTSIDE the
        # try)
        eval_fps.unpersist()


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


def _read_store_columns(
    spark: SparkSession, store_dir: str, cols: tuple[str, ...]
) -> DataFrame:
    """Shared reader for the idempotent ``batch_id=N`` store layout:
    selecting the payload columns drops the partition column. One
    definition so a layout change (e.g. partition handling) cannot
    desynchronize the per-store readers."""
    return spark.read.parquet(store_dir).select(*cols)


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


def streaming_snapshot_diff(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuous-recrawl diff: drain the NEW snapshot's document
    stream against the STORED old-snapshot content-hash registry
    (``operators.curation_ext.snapshot_write_hashes``'s parquet — the
    static side of a stream-static join) and write each batch's
    'added'/'changed' rows to the idempotent ``batch_id=N`` diff
    store, plus the batch's seen doc_ids to a manifest store.

    Per-doc status against the static registry depends only on (doc,
    registry) — never on other stream docs — so micro-batch
    boundaries cannot matter for added/changed. 'removed' is ABSENCE
    from the whole new snapshot, undecidable inside any single
    micro-batch by construction; the reader
    (:func:`read_snapshot_diff_from_store`) reconciles it after the
    drain as registry ANTI-JOIN manifest — making the drained store
    EXACTLY the batch ``corpus_snapshot_diff`` answer (pinned by the
    equivalence test)."""
    from ..operators.curation_ext import (
        SNAP_CHANGE_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_RESIDUE,
        _rotated_text,
    )

    old = (
        spark.read.parquet(f"{index_dir}/snapshot_hashes")
        .withColumnRenamed("h", "old_h")
        .persist()
    )

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        new_text = F.when(
            F.col("doc_id") % SNAP_CHANGE_MOD == 0, _rotated_text()
        ).otherwise(F.col("text"))
        # coalesce: keep the content hash total (never NULL), matching
        # _snapshot_frames — a NULL-text doc would otherwise vanish
        # from this filter's three-valued != while the batch diff
        # reports it (r16 advisor).
        nh = bdf.select(
            "doc_id", F.md5(F.coalesce(new_text, F.lit(""))).alias("h")
        )
        j = nh.join(old, "doc_id", "left")
        rows = j.filter(
            F.col("old_h").isNull() | (F.col("h") != F.col("old_h"))
        ).select(
            "doc_id",
            F.when(F.col("old_h").isNull(), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
        _write_batch_partition(rows, batch_id, f"{store_dir}/diff")
        _write_batch_partition(
            bdf.select("doc_id"), batch_id, f"{store_dir}/manifest"
        )

    try:
        old.count()
        q = (
            stream_documents(spark, sf_dir)
            .filter(F.col("doc_id") % SNAP_NEW_MOD != SNAP_NEW_RESIDUE)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        old.unpersist()


def read_snapshot_diff_from_store(
    spark: SparkSession, store_dir: str, index_dir: str
) -> DataFrame:
    """(doc_id, status) from the drained recrawl-diff store, with the
    post-drain 'removed' reconciliation: old-registry docs absent
    from the streamed manifest. Equal to batch
    ``corpus_snapshot_diff`` on the same corpus."""
    diff = _read_store_columns(spark, f"{store_dir}/diff", ("doc_id", "status"))
    seen = _read_store_columns(spark, f"{store_dir}/manifest", ("doc_id",))
    removed = (
        spark.read.parquet(f"{index_dir}/snapshot_hashes")
        .select("doc_id")
        .join(seen, "doc_id", "left_anti")
        .select("doc_id", F.lit("removed").alias("status"))
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
    batch's seen ids in the manifest. Both layer writes go to
    idempotent ``batch_id=N`` partitions.

    Per-doc added/changed depends only on (doc, registry), so
    micro-batch boundaries cannot matter; 'removed' tombstones are
    absence from the WHOLE snapshot and are reconciled by the reader
    (:func:`read_refreshed_index_from_store`) post-drain as registry
    ANTI manifest — exactly the streaming_snapshot_diff split of
    decidable-per-batch vs decidable-after-drain, applied to index
    maintenance. The drained store reconciles to EXACTLY the batch
    refresh's row set (pinned by the equivalence test)."""
    from ..operators.curation_ext import (
        SNAP_CHANGE_MOD,
        SNAP_NEW_MOD,
        SNAP_NEW_RESIDUE,
        _rotated_text,
    )
    from ..operators.winnow import winnow_fingerprints_chunked_from

    old = (
        spark.read.parquet(f"{index_dir}/snapshot_hashes")
        .withColumnRenamed("h", "old_h")
        .persist()
    )

    def _micro_batch(bdf: DataFrame, batch_id: int) -> None:
        new_text = F.when(
            F.col("doc_id") % SNAP_CHANGE_MOD == 0, _rotated_text()
        ).otherwise(F.col("text"))
        nh = bdf.select(
            "doc_id",
            F.md5(F.coalesce(new_text, F.lit(""))).alias("h"),
            new_text.alias("text"),
        )
        j = nh.join(old, "doc_id", "left")
        fresh = j.filter(
            F.col("old_h").isNull() | (F.col("h") != F.col("old_h"))
        )
        _write_batch_partition(
            winnow_fingerprints_chunked_from(
                fresh.select("doc_id", "text")
            ),
            batch_id,
            f"{store_dir}/delta_fingerprints",
        )
        _write_batch_partition(
            j.filter(
                F.col("old_h").isNotNull()
                & (F.col("h") != F.col("old_h"))
            ).select("doc_id"),
            batch_id,
            f"{store_dir}/changed",
        )
        _write_batch_partition(
            bdf.select("doc_id"), batch_id, f"{store_dir}/manifest"
        )

    try:
        old.count()
        q = (
            stream_documents(spark, sf_dir)
            .filter(F.col("doc_id") % SNAP_NEW_MOD != SNAP_NEW_RESIDUE)
            .writeStream.foreachBatch(_micro_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        old.unpersist()


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
    seen = _read_store_columns(spark, f"{store_dir}/manifest", ("doc_id",))
    removed = (
        spark.read.parquet(f"{index_dir}/snapshot_hashes")
        .select("doc_id")
        .join(seen, "doc_id", "left_anti")
    )
    tomb = changed.unionByName(removed).distinct()
    delta = _read_store_columns(
        spark,
        f"{store_dir}/delta_fingerprints",
        ("doc_id", "fp_hash", "fp_pos"),
    )
    return base.join(tomb, "doc_id", "left_anti").unionByName(delta)
