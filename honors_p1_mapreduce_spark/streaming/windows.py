"""Streaming window aggregations: the ``readStream`` swap for the
batch operators in ``operators/events.py``.

The transformation functions are SHARED with batch (same
``F.window``-keyed aggregates); only the source differs. The file
source replays the events parquet as a stream — with
``Trigger.AvailableNow`` this processes all existing data then stops,
which is how the tests assert batch/stream equivalence exactly.

Watermarking: ``streaming_tumbling_counts`` takes a watermark delay —
in append mode a window only emits once the event-time watermark
passes its end (late data beyond the delay is dropped), which is the
state-bounding contract a 100 TB streaming job needs; the
batch-equivalence test runs complete mode where every window is
re-emitted each trigger.

The incremental rollup runs the one drain (:func:`.drain.drain`):
each micro-batch stores the batch rollup's own minute partials
(``events._minute_partials``), and the store readers and the
compaction job merge them with the batch operator's re-aggregation,
cascade and range window (``_regroup_partials``, ``_rollup_cascade``,
``_moving_stats``), never a copy of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.events import (
    _minute_partials,
    _moving_stats,
    _regroup_partials,
    _rollup_cascade,
    tumbling_counts,
)
from .drain import _parquet_stream, drain


def stream_events(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """``readStream`` over the events parquet with the same
    nanos-timestamp normalization as the batch loader
    (sources/tables.py): the file carries TIMESTAMP(NANOS), which is
    read as raw nanos and converted losslessly to a timestamp."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _parquet_stream(spark, sf_dir, glob)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # streaming keeps tz-aware TIMESTAMP (watermarks reject NTZ:
        # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the engine session is
        # pinned UTC so values match the batch loader's NTZ rendering
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # some scale factors carry plain TIMESTAMP(MICROS) parquet, which
    # reads as TIMESTAMP_NTZ — event-time watermarks require TIMESTAMP,
    # and under the pinned-UTC session the cast is lossless
    if not isinstance(df.schema["ts"].dataType, T.TimestampType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def streaming_tumbling_counts(
    spark: SparkSession, sf_dir: str, watermark: str | None = None
) -> DataFrame:
    """Streaming per-(window, event_type) counts/sums — identical
    transformation to the batch ``events_tumbling``."""
    ev = stream_events(spark, sf_dir)
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return tumbling_counts(ev)


def streaming_dedup_events(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "60 days",
    keys: tuple[str, ...] = ("event_id",),
    glob: str = "events.parquet",
) -> DataFrame:
    """Streaming exact-dedup of an at-least-once event stream.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the event-time watermark passes the key's timestamp + delay, so
    state is bounded by (arrival rate x watermark window) rather than
    the whole stream history — the property that makes streaming dedup
    viable on an unbounded 100 TB/day feed. Duplicates arriving within
    the watermark delay are guaranteed dropped; older re-deliveries
    may survive (that is the documented contract of bounded state).
    """
    ev = stream_events(spark, sf_dir, glob=glob).withWatermark("ts", watermark)
    return ev.dropDuplicatesWithinWatermark(list(keys))


def run_to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain all available input through the streaming query into an
    in-memory table ``name`` and stop (Trigger.AvailableNow)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_incremental_rollup(
    spark: SparkSession, sf_dir: str, store_dir: str, glob: str = "events.parquet"
) -> None:
    """Incremental continuous aggregate (the streaming face of
    ``operators/events.py:events_multi_rollup``): each micro-batch
    reduces its raw events to minute-grain PARTIAL aggregates and
    appends them to a parquet store — raw events are touched exactly
    once, and the store grows with distinct (minute, type) buckets,
    not with events. Coarser grains are derived from the store by
    ``read_rollup_store``.

    Merge strategy is append-partials + aggregate-on-read (the
    sink-agnostic version of an upsert/MERGE INTO: partial decimal
    sums and counts are re-addable, so "merge" is just another
    aggregation — no sink transaction support needed, which is what
    keeps the pattern portable to plain object storage at 100 TB;
    ``compact_rollup_store`` is the standard companion job).

    Replay idempotency: each micro-batch OVERWRITES its own
    ``batch_id=<id>`` hive partition directory instead of appending
    to the store root. foreachBatch is at-least-once — a batch whose
    parquet commit lands but whose checkpoint commit doesn't is
    replayed on restart with the SAME batch_id, and the overwrite
    makes the replay a no-op instead of a double-count. (Partition
    values are derived from the directory name on read, so the
    partials themselves carry no batch_id column.)
    """
    drain(
        stream_events(spark, sf_dir, glob=glob),
        lambda batch: {store_dir: _minute_partials(batch)},
        store_dir + "_ckpt",
    )


def _merged_partials(spark: SparkSession, store_dir: str) -> DataFrame:
    """One (bucket_start, event_type, n_events, sdec) row per minute
    from the stored partials, whatever batches they came from."""
    return _regroup_partials(spark.read.parquet(store_dir), F.col("bucket_start"))


def compact_rollup_store(
    spark: SparkSession,
    store_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Companion compaction for the incremental-rollup store.

    The store accumulates one ``batch_id=N`` partition (≥1 file) per
    micro-batch; at streaming rates that is thousands of files per
    day and the read path goes footer-bound. This job MERGES all
    partials down to one row per (bucket_start, event_type) — sums
    and counts are re-addable, so merging partials is just another
    aggregation — and rewrites the store as a single ``batch_id=-1``
    partition (streaming batch ids start at 0, so the compacted
    generation can never collide with a live batch directory, and
    partition discovery keeps working alongside later batches).
    Crash-safe via the same rename-aside swap as
    ``sources.sinks.compact_parquet``.

    Concurrency contract: run while the stream is STOPPED. A batch
    replayed after its partials were folded into ``batch_id=-1``
    would double-count — quiescence (stream fully checkpointed, then
    compact, then restart) is the operating rule for the companion
    job, same as any object-store table maintenance.

    Returns (files_before, files_after).
    """
    import math
    from pathlib import Path

    from ..sources.sinks import _promote_dir, _recover_swap

    p = Path(store_dir)
    _recover_swap(p)
    files_before = [f for f in p.rglob("*.parquet") if f.is_file()]
    total_bytes = sum(f.stat().st_size for f in files_before)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    merged = _merged_partials(spark, store_dir)
    tmp = str(p) + ".compact"
    # repartition (not coalesce): the merge is already a shuffle, and
    # the output count must not be chained to the input split count
    merged.repartition(n_out).write.mode("overwrite").parquet(
        f"{tmp}/batch_id=-1"
    )
    _promote_dir(p, tmp)
    files_after = len([f for f in p.rglob("*.parquet") if f.is_file()])
    return len(files_before), files_after


def read_rollup_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the cascaded (grain, bucket_start, event_type, n_events,
    sum_value) frame from the partial-aggregate store — the batch
    ``events_multi_rollup`` cascade (and its exact-decimal carry),
    re-aggregating stored partials instead of raw events."""
    return _rollup_cascade(_merged_partials(spark, store_dir))


def read_rollup_moving(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the trailing 10-minute moving stats (the exact
    ``operators.events.events_moving_stats`` frame) from the
    incremental rollup STORE instead of raw events — the
    streaming-materialized serving path: the drain keeps appending
    minute partials, this reader merges partials and runs the batch
    operator's range window over them, so a dashboard query never
    rescans an event. Batch/stream equivalence is pinned by
    tests/test_streaming.py against events_moving_stats on the same
    data."""
    return _moving_stats(_merged_partials(spark, store_dir))
