"""The one drain every streaming twin runs, and the store layout it
writes.

A streaming twin is its batch operator with the source swapped for a
``readStream``: :func:`drain` replays the input under
``Trigger.AvailableNow``, hands each micro-batch to the twin's
``per_batch`` body (code factored out of the batch operator, never a
copy of it) and writes what the body returns to an idempotent
``batch_id=N`` store. Write the computation once, run it batch or
online (Summingbird's rule).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession


def _parquet_stream(spark: SparkSession, sf_dir: str, glob: str) -> DataFrame:
    """``readStream`` over the parquet file(s) of ``sf_dir`` matching
    ``glob``, one file per trigger. The file stream source requires a
    directory path, so the glob selects a table's file(s) out of the
    shared sf dir; the schema comes from a batch read of the same
    files."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


def _write_batch_partition(
    df: DataFrame, batch_id: int, store_dir: str
) -> None:
    """Idempotent foreachBatch sink: write the batch's rows to their
    own ``batch_id=N`` subdirectory in OVERWRITE mode. foreachBatch
    side-effects are at-least-once — a micro-batch retried after a
    partial/uncommitted append would double-count its rows in a bare
    append-mode store; keyed by the (stable-on-replay) batch_id, a
    retry rewrites exactly its own partition and the store converges
    to the same content however many times a batch fires. Readers see
    a standard partitioned parquet layout and drop the batch_id
    partition column."""
    df.write.mode("overwrite").parquet(
        f"{store_dir}/batch_id={int(batch_id)}"
    )


def _read_store_columns(
    spark: SparkSession, store_dir: str, cols: Iterable[str]
) -> DataFrame:
    """Shared reader for the idempotent ``batch_id=N`` store layout:
    selecting the payload columns drops the partition column. One
    definition so a layout change (e.g. partition handling) cannot
    desynchronize the per-store readers."""
    return spark.read.parquet(store_dir).select(*cols)


def drain(
    stream: DataFrame,
    per_batch: Callable[[DataFrame], Mapping[str, DataFrame]],
    checkpoint_dir: str,
    snapshots: tuple[DataFrame, ...] = (),
) -> None:
    """Run ``stream`` to the end of its available input and write each
    micro-batch's ``{store_dir: frame}`` (what ``per_batch(bdf)``
    returns) to ``store_dir/batch_id=N`` through
    :func:`_write_batch_partition`.

    ``snapshots`` are the static sides of the stream-static joins the
    body reads (a stored index or registry): each is persisted and
    materialized ONCE before the stream starts, so every micro-batch
    reuses it, and a mid-stream swap of the stored artifact needs a
    drain restart. Release rule: the snapshots are persisted and
    materialized INSIDE the ``try`` and unpersisted in its
    ``finally``, so a failure while materializing (some partitions
    already cached) or in any micro-batch still releases every cached
    block before the error propagates."""

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        for store_dir, frame in per_batch(bdf).items():
            _write_batch_partition(frame, batch_id, store_dir)

    try:
        for s in snapshots:
            s.persist()
        for s in snapshots:
            s.count()
        q = (
            stream.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for s in snapshots:
            s.unpersist()
