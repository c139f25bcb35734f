"""Structured Streaming: the streamed tumbling-window aggregation must
produce exactly the batch result once all input is drained."""

from __future__ import annotations

from honors_p1_mapreduce_spark.operators.events import events_tumbling
from honors_p1_mapreduce_spark.streaming.windows import (
    run_to_memory_sink,
    streaming_tumbling_counts,
)


def test_streaming_matches_batch(spark, sf_dir):
    stream_df = streaming_tumbling_counts(spark, sf_dir)
    assert stream_df.isStreaming
    run_to_memory_sink(stream_df, "tumbling_stream", output_mode="complete")
    got = {
        tuple(r) for r in spark.table("tumbling_stream").collect()
    }
    want = {tuple(r) for r in events_tumbling(spark, sf_dir).collect()}
    assert got == want


def test_streaming_session_windows(spark, sf_dir):
    # session_window runs stateful under Structured Streaming; with a
    # watermark + append mode the emitted sessions must be a subset of
    # (and value-consistent with) the batch sessionization
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.events import (
        SESSION_GAP,
        user_sessions,
    )
    from honors_p1_mapreduce_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    sess = (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    run_to_memory_sink(sess, "sessions_stream", output_mode="append")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table("sessions_stream").collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in user_sessions(spark, sf_dir).collect()
    }
    assert got <= want


def test_streaming_watermark_append_mode(spark, sf_dir):
    # append mode + watermark: the state-bounded production shape; with
    # AvailableNow the watermark only advances between triggers, so this
    # asserts the emitted windows are a subset of (and consistent with)
    # the batch result, and that the query runs with bounded state.
    stream_df = streaming_tumbling_counts(spark, sf_dir, watermark="2 hours")
    run_to_memory_sink(stream_df, "tumbling_append", output_mode="append")
    got = {tuple(r) for r in spark.table("tumbling_append").collect()}
    want = {tuple(r) for r in events_tumbling(spark, sf_dir).collect()}
    assert got <= want


def test_streaming_dedup_collapses_at_least_once_delivery(spark, sf_dir, tmp_path):
    # an at-least-once ingest: the same events file delivered twice
    # (two files -> two micro-batches); streaming dedup must collapse
    # the replay to exactly the batch-distinct result
    import shutil

    from honors_p1_mapreduce_spark.streaming.windows import streaming_dedup_events

    src = f"{sf_dir}/events.parquet"
    shutil.copy(src, tmp_path / "events_a.parquet")
    shutil.copy(src, tmp_path / "events_b.parquet")

    deduped = streaming_dedup_events(
        spark, str(tmp_path), watermark="365 days", glob="*.parquet"
    )
    assert deduped.isStreaming
    run_to_memory_sink(deduped, "dedup_stream", output_mode="append")
    got = spark.table("dedup_stream")
    n_batch = spark.read.parquet(src).count()
    assert got.count() == n_batch
    # every event_id exactly once despite double delivery
    assert got.groupBy("event_id").count().filter("count > 1").count() == 0


def test_streaming_incremental_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch continuous aggregate (partial-agg append +
    merge-on-read) must serve exactly the batch cascade's rows for
    every grain once the stream drains."""
    from honors_p1_mapreduce_spark.operators.events import events_multi_rollup
    from honors_p1_mapreduce_spark.streaming.windows import (
        read_rollup_store,
        streaming_incremental_rollup,
    )

    store = str(tmp_path / "rollup_store")
    streaming_incremental_rollup(spark, sf_dir, store)
    got = {tuple(r) for r in read_rollup_store(spark, store).collect()}
    want = {tuple(r) for r in events_multi_rollup(spark, sf_dir).collect()}
    assert got == want


def test_streaming_rollup_restart_is_idempotent(spark, sf_dir, tmp_path):
    """Restarting the foreachBatch sink with the SAME checkpoint and
    no new input must not re-append partials — the checkpoint, not
    the sink, carries exactly-once progress (the property that makes
    the append-partials store safe to operate)."""
    from honors_p1_mapreduce_spark.streaming.windows import (
        read_rollup_store,
        streaming_incremental_rollup,
    )

    store = str(tmp_path / "store")
    streaming_incremental_rollup(spark, sf_dir, store)
    first = sorted(tuple(r) for r in read_rollup_store(spark, store).collect())
    spark.catalog.clearCache()
    streaming_incremental_rollup(spark, sf_dir, store)  # restart, no new data
    second = sorted(tuple(r) for r in read_rollup_store(spark, store).collect())
    assert first == second


def test_streaming_rollup_midbatch_crash_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """foreachBatch is at-least-once: simulate a micro-batch whose
    parquet write committed but whose CHECKPOINT commit didn't (crash
    between the two) by deleting the last checkpoint commit marker and
    restarting. Spark replays that batch with the same batch_id; the
    per-batch partition overwrite must make the replay a no-op rather
    than doubling that batch's n_events/sums (the round-5 append-mode
    store double-counted here)."""
    from pathlib import Path

    from honors_p1_mapreduce_spark.streaming.windows import (
        read_rollup_store,
        streaming_incremental_rollup,
    )

    store = str(tmp_path / "store")
    streaming_incremental_rollup(spark, sf_dir, store)
    want = sorted(tuple(r) for r in read_rollup_store(spark, store).collect())
    spark.catalog.clearCache()

    commits = sorted(
        (f for f in (Path(store + "_ckpt") / "commits").iterdir()
         if f.name.isdigit()),
        key=lambda f: int(f.name),
    )
    assert commits, "checkpoint recorded no commits"
    commits[-1].unlink()  # the batch ran, but its commit never landed
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():  # local ChecksumFs sidecar would block the re-commit
        crc.unlink()

    streaming_incremental_rollup(spark, sf_dir, store)  # replays last batch
    got = sorted(tuple(r) for r in read_rollup_store(spark, store).collect())
    assert got == want


def test_rollup_store_serves_moving_stats(spark, sf_dir, tmp_path):
    """The streaming-materialized serving path: moving stats computed
    from the incrementally-built partial store must equal the batch
    events_moving_stats over the same raw events — partials re-add
    exactly, and the range window sees identical minute buckets."""
    from honors_p1_mapreduce_spark.operators.events import events_moving_stats
    from honors_p1_mapreduce_spark.streaming.windows import (
        read_rollup_moving,
        streaming_incremental_rollup,
    )

    store = str(tmp_path / "mstore")
    streaming_incremental_rollup(spark, sf_dir, store)
    got = sorted(tuple(r) for r in read_rollup_moving(spark, store).collect())
    want = sorted(tuple(r) for r in events_moving_stats(spark, sf_dir).collect())
    assert got == want


def test_streaming_dedup_incremental_matches_batch(spark, sf_dir, tmp_path):
    """Draining the document stream through per-micro-batch
    incremental dedup against the STORED fingerprint index must
    reproduce the batch dedup_incremental answer exactly — per-doc
    attribution is independent of micro-batch boundaries."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        dedup_incremental,
        winnow_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_flagged_from_store,
        streaming_dedup_incremental,
    )

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flagged")
    ckpt = str(tmp_path / "ckpt")
    winnow_write_index(spark, sf_dir, idx)
    streaming_dedup_incremental(spark, sf_dir, idx, out, ckpt)
    streamed = sorted(
        map(tuple, read_flagged_from_store(spark, out).collect())
    )
    batch = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    assert streamed == batch
    assert streamed  # non-vacuous: the sf0.001 corpus has real matches


def test_streaming_quantile_merge_matches_batch(spark, sf_dir, tmp_path):
    """Draining the event stream into per-micro-batch partial sketch
    grids and answering from the store must reproduce the batch
    quantile_daily_merge answer BIT-EXACTLY — additive merge is
    associative, so micro-batch boundaries cannot matter."""
    from honors_p1_mapreduce_spark.operators.sketch import (
        quantile_daily_merge,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_quantiles_from_store,
        streaming_quantile_merge,
    )

    store = str(tmp_path / "qstore")
    ckpt = str(tmp_path / "qckpt")
    streaming_quantile_merge(spark, sf_dir, store, ckpt)
    streamed = sorted(
        map(tuple, read_quantiles_from_store(spark, store).collect())
    )
    batch = sorted(map(tuple, quantile_daily_merge(spark, sf_dir).collect()))
    assert streamed == batch
    assert streamed  # non-vacuous


def test_foreachbatch_store_replay_is_idempotent(spark, tmp_path):
    """r9 advisor: foreachBatch side-effects are at-least-once — a
    retried micro-batch must not double-count. The batch_id-keyed
    overwrite sink converges to the same store content when a batch
    fires twice, including a replay after a PARTIAL first write."""
    from honors_p1_mapreduce_spark.streaming.drain import (
        _write_batch_partition,
    )

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [("click", "2024-01-01", 3, 7)],
        "event_type string, day string, bucket int, cnt long",
    )
    b1 = spark.createDataFrame(
        [("click", "2024-01-01", 3, 2), ("view", "2024-01-02", 1, 5)],
        "event_type string, day string, bucket int, cnt long",
    )
    _write_batch_partition(b0, 0, store)
    # partial first attempt of batch 1 (only one of its rows landed)
    _write_batch_partition(b1.limit(1), 1, store)
    # replay of batch 1 with the full content — must REPLACE, not add
    _write_batch_partition(b1, 1, store)
    _write_batch_partition(b1, 1, store)  # and re-replay is a no-op
    got = sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .select("event_type", "day", "bucket", "cnt")
            .collect(),
        )
    )
    assert got == [
        ("click", "2024-01-01", 3, 2),
        ("click", "2024-01-01", 3, 7),
        ("view", "2024-01-02", 1, 5),
    ]


def _released(df) -> bool:
    from pyspark import StorageLevel

    return not df.is_cached and df.storageLevel == StorageLevel.NONE


def test_drain_releases_snapshots_when_a_batch_raises(spark, tmp_path):
    """The drain's release rule: a micro-batch body that raises makes
    the drain re-raise, and every snapshot — cached while the batch
    ran — is unpersisted afterwards."""
    import pytest

    from honors_p1_mapreduce_spark.streaming.drain import (
        _parquet_stream,
        drain,
    )

    src = tmp_path / "src"
    spark.range(4).toDF("doc_id").write.parquet(str(src))
    snaps = (spark.range(3).toDF("a"), spark.range(5).toDF("b"))
    seen = []

    def per_batch(bdf):
        seen.append([s.storageLevel.useMemory for s in snaps])
        raise RuntimeError("drain-body-boom")

    with pytest.raises(Exception, match="drain-body-boom"):
        drain(
            _parquet_stream(spark, str(src), "*.parquet"),
            per_batch,
            str(tmp_path / "ckpt"),
            snaps,
        )
    assert seen == [[True, True]]  # the body ran against cached snapshots
    assert all(_released(s) for s in snaps)


def test_drain_releases_a_snapshot_whose_materialization_raises(
    spark, tmp_path
):
    """A snapshot that fails while materializing (after an earlier
    one is already cached) is released too, and the stream never
    starts."""
    import pytest
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.streaming.drain import (
        _parquet_stream,
        drain,
    )

    src = tmp_path / "src"
    spark.range(4).toDF("doc_id").write.parquet(str(src))
    good = spark.range(3).toDF("a")
    bad = spark.range(3).filter(
        F.assert_true(F.col("id") < 0, "snapshot-boom").isNull()
    )
    ran = []
    with pytest.raises(Exception, match="snapshot-boom"):
        drain(
            _parquet_stream(spark, str(src), "*.parquet"),
            lambda bdf: ran.append(bdf) or {},
            str(tmp_path / "ckpt"),
            (good, bad),
        )
    assert not ran
    assert _released(good) and _released(bad)


def test_streaming_media_features_matches_batch(spark, sf_dir, tmp_path):
    """Draining the document stream through per-micro-batch WAV synth
    + integer feature extraction must reproduce the batch
    media_audio_features answer exactly — decode and features are
    map-only, so micro-batch boundaries cannot matter."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_features,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_media_features_from_store,
        streaming_media_features,
    )

    store = str(tmp_path / "featstore")
    ckpt = str(tmp_path / "featckpt")
    streaming_media_features(spark, sf_dir, store, ckpt)
    streamed = sorted(
        map(tuple, read_media_features_from_store(spark, store).collect())
    )
    batch = sorted(
        map(tuple, media_audio_features(spark, sf_dir).collect())
    )
    assert streamed == batch
    assert streamed  # non-vacuous


def test_streaming_media_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Draining the document stream against the stored eval registry
    must reproduce the batch media_decontaminate answer exactly —
    each doc is flagged against the static index alone, so
    micro-batch boundaries cannot matter. Store replay-idempotency
    rides the shared batch_id-overwrite sink."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_decontaminate,
        media_eval_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_media_flags_from_store,
        streaming_media_decontaminate,
    )

    idx = str(tmp_path / "evalidx")
    store = str(tmp_path / "flagstore")
    ckpt = str(tmp_path / "flagckpt")
    media_eval_write_index(spark, sf_dir, idx)
    streaming_media_decontaminate(spark, sf_dir, idx, store, ckpt)
    streamed = sorted(
        map(tuple, read_media_flags_from_store(spark, store).collect())
    )
    batch = sorted(map(tuple, media_decontaminate(spark, sf_dir).collect()))
    assert streamed == batch
    assert streamed  # non-vacuous


def test_streaming_media_audio_decontaminate_matches_batch(spark, tmp_path):
    """Draining the document stream against the stored AUDIO eval
    registry must reproduce the batch media_audio_decontaminate
    answer exactly (the image twin's equivalence, r12). The corpus is
    the SEEDED audio-leak corpus split across 2 parquet files — 2
    real micro-batches — because the driver corpora carry no natural
    audio contamination (measured 0 rows at sf0.01/sf0.1), which
    would make the equivalence vacuous."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_decontaminate,
        media_audio_eval_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_media_flags_from_store,
        streaming_media_audio_decontaminate,
    )

    from .test_multimodal import seeded_audio_leak_corpus

    dirp = str(tmp_path / "sf")
    seeded_audio_leak_corpus(spark, dirp, n_files=2)

    idx = str(tmp_path / "audioidx")
    store = str(tmp_path / "audiostore")
    ckpt = str(tmp_path / "audiockpt")
    media_audio_eval_write_index(spark, dirp, idx)
    # stream the 2 part files inside the documents.parquet directory
    # (driver corpora are single files; maxFilesPerTrigger=1 makes
    # these 2 REAL micro-batches)
    streaming_media_audio_decontaminate(
        spark, dirp + "/documents.parquet", idx, store, ckpt,
        glob="part-*",
    )
    streamed = sorted(
        map(tuple, read_media_flags_from_store(spark, store).collect())
    )
    batch = sorted(
        map(tuple, media_audio_decontaminate(spark, dirp).collect())
    )
    assert streamed == batch
    assert streamed  # non-vacuous (the planted leaks)
    # the multi-batch claim is real: 2 part files drained as 2
    # micro-batches, each with its own idempotent store partition
    import glob as globmod

    assert len(globmod.glob(store + "/batch_id=*")) == 2


def test_streaming_media_video_decontaminate_matches_batch(spark, tmp_path):
    """Draining the document stream against the stored VIDEO eval
    registry must reproduce the batch media_video_decontaminate
    answer exactly (the image/audio twins' equivalence, r13, through
    the same shared drain — only the synth hook and fingerprint
    differ). Seeded corpus split across 2 parquet files = 2 real
    micro-batches, so the multi-batch claim is non-vacuous."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_video_decontaminate,
        media_video_eval_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_media_flags_from_store,
        streaming_media_video_decontaminate,
    )

    from .test_multimodal import seeded_video_leak_corpus

    dirp = str(tmp_path / "sf")
    seeded_video_leak_corpus(spark, dirp, n_files=2)

    idx = str(tmp_path / "videoidx")
    store = str(tmp_path / "videostore")
    ckpt = str(tmp_path / "videockpt")
    media_video_eval_write_index(spark, dirp, idx)
    streaming_media_video_decontaminate(
        spark, dirp + "/documents.parquet", idx, store, ckpt,
        glob="part-*",
    )
    streamed = sorted(
        map(tuple, read_media_flags_from_store(spark, store).collect())
    )
    batch = sorted(
        map(tuple, media_video_decontaminate(spark, dirp).collect())
    )
    assert streamed == batch
    assert streamed  # non-vacuous (the planted leaks)
    import glob as globmod

    assert len(globmod.glob(store + "/batch_id=*")) == 2


def test_streaming_media_video_frame_decontaminate_matches_batch(
    spark, tmp_path
):
    """The frame-granular streaming twin (r13) must reproduce the
    batch media_video_frame_decontaminate answer exactly — it drives
    BOTH hooks of the shared drain (the AVI synth media_fn AND the
    exact-match flags_fn with the frame_fps registry layout), so this
    equivalence also pins the hook plumbing itself. Seeded sub-clip
    corpus split across 2 parquet files = 2 real micro-batches."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_video_frame_decontaminate,
        media_video_frame_eval_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_frame_flags_from_store,
        streaming_media_video_frame_decontaminate,
    )

    from .test_multimodal import seeded_frame_leak_corpus

    dirp = str(tmp_path / "sf")
    want = seeded_frame_leak_corpus(spark, dirp, n_files=2)

    idx = str(tmp_path / "frameidx")
    store = str(tmp_path / "framestore")
    ckpt = str(tmp_path / "frameckpt")
    media_video_frame_eval_write_index(spark, dirp, idx)
    streaming_media_video_frame_decontaminate(
        spark, dirp + "/documents.parquet", idx, store, ckpt,
        glob="part-*",
    )
    streamed = sorted(
        map(tuple, read_frame_flags_from_store(spark, store).collect())
    )
    batch = sorted(
        map(
            tuple,
            media_video_frame_decontaminate(spark, dirp).collect(),
        )
    )
    assert streamed == batch == want
    import glob as globmod

    assert len(globmod.glob(store + "/batch_id=*")) == 2


def test_streaming_sub_item_twins_match_batch(spark, tmp_path):
    """The snippet and tile streaming twins (r13) must reproduce
    their batch answers exactly on the seeded corpora, each split
    into 2 parquet files = 2 real micro-batches — together with the
    video twins these cover every (media_fn, flags_fn, layout)
    combination of the shared drain."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        media_audio_snippet_decontaminate,
        media_audio_snippet_eval_write_index,
        media_image_tile_decontaminate,
        media_image_tile_eval_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_snippet_flags_from_store,
        read_tile_flags_from_store,
        streaming_media_audio_snippet_decontaminate,
        streaming_media_image_tile_decontaminate,
    )

    from .test_multimodal import seeded_snippet_corpus, seeded_tile_corpus

    for name, seed_fn, write_idx, stream_fn, read_fn, batch_fn in (
        (
            "snippet", seeded_snippet_corpus,
            media_audio_snippet_eval_write_index,
            streaming_media_audio_snippet_decontaminate,
            read_snippet_flags_from_store,
            media_audio_snippet_decontaminate,
        ),
        (
            "tile", seeded_tile_corpus,
            media_image_tile_eval_write_index,
            streaming_media_image_tile_decontaminate,
            read_tile_flags_from_store,
            media_image_tile_decontaminate,
        ),
    ):
        dirp = str(tmp_path / f"{name}_sf")
        seed_fn(spark, dirp, n_files=2)
        idx = str(tmp_path / f"{name}_idx")
        store = str(tmp_path / f"{name}_store")
        ckpt = str(tmp_path / f"{name}_ckpt")
        write_idx(spark, dirp, idx)
        stream_fn(
            spark, dirp + "/documents.parquet", idx, store, ckpt,
            glob="part-*",
        )
        streamed = sorted(map(tuple, read_fn(spark, store).collect()))
        batch = sorted(map(tuple, batch_fn(spark, dirp).collect()))
        assert streamed == batch, name
        assert streamed, name  # non-vacuous (the planted leaks)
        import glob as globmod

        assert len(globmod.glob(store + "/batch_id=*")) == 2, name


def test_streaming_substring_cut_matches_batch(spark, sf_dir, tmp_path):
    """Draining the document stream through the per-micro-batch
    substring cut against the STORED duplicated-gram index must
    reproduce the batch substring_cut_from_index answer exactly —
    per-doc rewrites depend only on the static gram set, so
    micro-batch boundaries cannot matter."""
    from honors_p1_mapreduce_spark.operators.substring_dedup import (
        substring_cut_from_index,
        substring_write_index,
    )
    from honors_p1_mapreduce_spark.streaming.curation import (
        read_cleaned_from_store,
        streaming_substring_cut,
    )

    idx = str(tmp_path / "gram_index")
    store = str(tmp_path / "cleaned")
    ckpt = str(tmp_path / "cut_ckpt")
    substring_write_index(spark, sf_dir, idx)
    streaming_substring_cut(spark, sf_dir, idx, store, ckpt)
    streamed = sorted(
        map(tuple, read_cleaned_from_store(spark, store).collect())
    )
    batch = sorted(
        map(
            tuple,
            substring_cut_from_index(spark, sf_dir, idx).collect(),
        )
    )
    assert streamed == batch
    assert any(t[2] > 0 for t in streamed)  # non-vacuous: real cuts
