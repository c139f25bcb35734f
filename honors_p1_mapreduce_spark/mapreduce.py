"""Generic MapReduce escape hatch (SURVEY.md §2.1 E3/E7/E12).

The reference engine's defining capability is running *arbitrary* user
``mapper(line)`` / ``reducer(key, values)`` Python functions shipped
as source (mr/worker/worker.py:177-192, mr/proto/mapreduce.proto:18-19).
Spark ships closures natively, so "dynamic code shipping" reduces to
passing plain Python callables; this module reproduces the execution
contract on top of Arrow-vectorized batches:

- ``mapper(line) -> Iterable[(k, v)]``, called once per input line
  (mr/worker/worker.py:104-109); a raising mapper SKIPS that line,
  pairs it yielded before the raise included, and the task still
  succeeds (worker.py:110-111).
- both key and value are coerced ``str()`` at the shuffle boundary
  (worker.py:124-125) — the engine's whole type system.
- ``reducer(key, values: list[str]) -> Iterable[(k, v)]`` gets the
  full multiset of values for its key, order unspecified
  (worker.py:145-159); a raising reducer SKIPS that key
  (worker.py:172-173).
- ``num_partitions`` mirrors ``num_reduces``: the partition count of
  the one hash repartition on the key (default: the session's shuffle
  partitions, which AQE may coalesce), exactly the role of
  ``hash(k) % R`` — deterministically, fixing the reference's
  PYTHONHASHSEED bug (worker.py:108; SURVEY.md §1.3).

Execution is two ``mapInArrow`` stages around one shuffle:

- map: per Arrow batch, each line's pairs are collected before any is
  kept (a raise drops the whole line), then grouped by key, so the
  shuffle carries one ``(key, vals)`` row per distinct key per batch;
- shuffle: hash repartition on the key, then ``sortWithinPartitions``;
- reduce: per sorted partition, the key runs are walked across batches
  (the open key carries over a batch boundary) and the reducer is called
  once per key with its values concatenated.

Grouping within a map batch is not a combiner: the reducer still sees
every value, so it need not be associative.

This is the SLOW PATH by design: Python executes per record (batched
through Arrow, so ~10-100x better than the reference's row loop, but
still Python). Every first-class operator in ``operators/`` is pure
JVM Catalyst instead; use this only for semantics the DataFrame API
can't express. Memory is bounded by one Arrow batch on the map side
and by the hottest key on the reduce side, whose values are held as
one list: the same per-key memory model as the reference's
``defaultdict(list)`` (worker.py:145).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

Mapper = Callable[[str], Iterable[tuple[Any, Any]]]
Reducer = Callable[[str, list[str]], Iterable[tuple[Any, Any]]]

_KV_SCHEMA = "key string, value string"
_GROUPED_SCHEMA = "key string, vals array<string>"
_NO_KEY = object()  # no open key run in the reduce walk


def _kv_batch(pairs: list[tuple[str, str]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([k for k, _ in pairs], pa.string()),
            pa.array([v for _, v in pairs], pa.string()),
        ],
        names=["key", "value"],
    )


def map_reduce(
    df: DataFrame,
    mapper: Mapper,
    reducer: Reducer,
    num_partitions: int | None = None,
    input_col: str | None = None,
) -> DataFrame:
    """Run a reference-contract MapReduce job over one string column.

    Returns DataFrame[key: string, value: string]. See module
    docstring for the exact semantics contract.
    """
    lines = df.select(input_col or df.columns[0])

    def _map_batches(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        for batch in batches:
            groups: defaultdict[str, list[str]] = defaultdict(list)
            for line in batch.column(0).to_pylist():
                try:
                    pairs = [(str(k), str(v)) for k, v in mapper(line)]
                except Exception:
                    continue  # per-line tolerance (worker.py:110-111)
                for k, v in pairs:
                    groups[k].append(v)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(groups), pa.string()),
                    pa.array(list(groups.values()), pa.list_(pa.string())),
                ],
                names=["key", "vals"],
            )

    def _reduce_batches(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        out: list[tuple[str, str]] = []

        def reduce_key(key: str, values: list[str]) -> None:
            try:
                out.extend([(str(k), str(v)) for k, v in reducer(key, values)])
            except Exception:
                pass  # per-key tolerance (worker.py:172-173)

        key, values = _NO_KEY, []
        for batch in batches:
            for k, vals in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                if k == key:
                    values.extend(vals)
                    continue
                if key is not _NO_KEY:
                    reduce_key(key, values)
                key, values = k, vals
            yield _kv_batch(out)
            out.clear()
        if key is not _NO_KEY:
            reduce_key(key, values)
            yield _kv_batch(out)

    grouped = lines.mapInArrow(_map_batches, _GROUPED_SCHEMA)
    # num_reduces analog; without it AQE may coalesce the shuffle partitions
    shuffled = (
        grouped.repartition(num_partitions, "key")
        if num_partitions is not None
        else grouped.repartition("key")
    )
    return shuffled.sortWithinPartitions("key").mapInArrow(_reduce_batches, _KV_SCHEMA)


def run_job(
    spark: SparkSession,
    input_path: str,
    mapper: Mapper,
    reducer: Reducer,
    output_path: str,
    num_maps: int | None = None,
    num_reduces: int | None = None,
) -> DataFrame:
    """The reference client's submit surface as one call
    (mr/client/client.py:52-72): text file in, per-job TSV dir out
    (honoring output_path as declared — SURVEY.md §1.3), sorted keys
    within each of ``num_reduces`` output partitions. Each reducer's
    output is written to the partition of its input key, as in the
    reference, so the job shuffles once. Returns the result frame
    (also usable without writing).
    """
    from .sources.text import read_text_lines, write_tsv

    lines = read_text_lines(spark, input_path, min_partitions=num_maps)
    result = map_reduce(lines, mapper, reducer, num_partitions=num_reduces)
    write_tsv(result, output_path)
    return result
