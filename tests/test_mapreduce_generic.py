"""Differential tests for the generic map_reduce escape hatch.

The three reference example jobs (mr/examples/{wordcount,grep,
inverted_index}) are re-expressed as plain Python mapper/reducer
callables with the documented contract (mr/documentation.md:687-721)
and run through ``map_reduce``; outputs must match the native
Catalyst-expression operators on the same data. Also covers the
contract's error-tolerance semantics and the run_job TSV round trip.

``map_reduce`` runs a one-partition input as one task and anything else
as two stages around a shuffle, so each semantics test runs on its input
as it is (several partitions) and on ``.coalesce(1)`` (one partition, no
exchange) through :func:`_shapes`.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from honors_p1_mapreduce_spark.mapreduce import map_reduce, run_job
from honors_p1_mapreduce_spark.operators.grep import grep_count
from honors_p1_mapreduce_spark.operators.inverted_index import (
    inverted_index_from_lines,
)
from honors_p1_mapreduce_spark.operators.wordcount import wordcount
from honors_p1_mapreduce_spark.sources.tables import load_table

# --- user functions under test (reference contract: semantics per
# mr/examples/*, written fresh against the documented behavior) -------

_TOKEN_RE = re.compile(r"[a-z0-9_]+")


def wc_map(line):
    # tokenize lowercased line, emit (word, 1) per token
    # (mr/examples/wordcount/mapper.py:8-11 semantics)
    for tok in _TOKEN_RE.findall(line.lower()):
        yield tok, 1


def wc_reduce(key, values):
    # (mr/examples/wordcount/reducer.py:6-7 semantics)
    yield key, sum(int(v) for v in values)


def make_grep_map(pattern: str):
    rx = re.compile(pattern, re.IGNORECASE)

    def grep_map(line):
        # emit (stripped matching line, 1) (mr/examples/grep/mapper.py)
        if rx.search(line):
            yield line.strip(), 1

    return grep_map


def ii_map(line):
    # "doc_id: content"; skip malformed; per-doc dedup; len>2 words
    # (mr/examples/inverted_index/mapper.py:21-37 semantics)
    parts = line.split(":", 1)
    if len(parts) != 2 or not parts[0].strip() or not parts[1].strip():
        return
    doc_id = parts[0].strip()
    seen = set()
    for tok in _TOKEN_RE.findall(parts[1].lower()):
        if len(tok) > 2 and tok not in seen:
            seen.add(tok)
            yield tok, doc_id


def ii_reduce(key, values):
    # sorted distinct doc ids, comma-joined
    # (mr/examples/inverted_index/reducer.py:23-26 semantics)
    yield key, ",".join(sorted(set(values)))


# ------------------------------------------------------- differentials


def _shapes(lines):
    """The input as it is and as one partition: on a multi-core session
    a small ``createDataFrame`` is one partition per core, so these are
    the two-stage and the one-task shape of ``map_reduce``."""
    return [lines, lines.coalesce(1)]


def _doc_lines(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("text")


def test_wordcount_differential(spark, sf_dir):
    generic = {
        (r.key, int(r.value))
        for r in map_reduce(_doc_lines(spark, sf_dir), wc_map, wc_reduce).collect()
    }
    native = {(r.word, r.cnt) for r in wordcount(spark, sf_dir).collect()}
    assert generic == native


def test_grep_differential(spark, sf_dir):
    pat = "stream.*join"
    generic = {
        (r.key, int(r.value))
        for r in map_reduce(
            _doc_lines(spark, sf_dir), make_grep_map(pat), wc_reduce
        ).collect()
    }
    native = {(r.line, r.cnt) for r in grep_count(spark, sf_dir, pattern=pat).collect()}
    assert generic == native


def test_inverted_index_differential(spark):
    lines = spark.createDataFrame(
        [
            ("doc2: spark spark engine",),
            ("doc1: engine of spark",),
            ("no separator line",),
            ("doc3: ab of xy",),
        ],
        ["value"],
    )
    native = {
        (r.word, r.doc_ids) for r in inverted_index_from_lines(spark, lines).collect()
    }
    for shaped in _shapes(lines):
        generic = {
            (r.key, r.value) for r in map_reduce(shaped, ii_map, ii_reduce).collect()
        }
        assert generic == native


# --------------------------------------------------- contract semantics


def test_mapper_error_skips_line_only(spark):
    lines = spark.createDataFrame([("good a",), ("BOOM",), ("good b",)], ["value"])

    def mapper(line):
        if "BOOM" in line:
            raise ValueError("bad record")
        yield from wc_map(line)

    for shaped in _shapes(lines):
        out = {(r.key, r.value) for r in map_reduce(shaped, mapper, wc_reduce).collect()}
        assert out == {("good", "2"), ("a", "1"), ("b", "1")}


def test_mapper_error_drops_pairs_already_yielded(spark):
    lines = spark.createDataFrame([("a x",), ("a BOOM",), ("a y",)], ["value"])

    def mapper(line):
        yield "a", 1  # yielded before the raise: dropped with its line
        if "BOOM" in line:
            raise ValueError("bad record")

    for shaped in _shapes(lines):
        out = {(r.key, r.value) for r in map_reduce(shaped, mapper, wc_reduce).collect()}
        assert out == {("a", "2")}


_KEY_RUN_ROWS = [(f"common k{i % 3} w{i}",) for i in range(40)]


def _key_runs_two_per_batch(spark, lines):
    """Run ``lines`` with two records per Arrow batch and a reducer
    that raises on "k1"; check every other key's full count."""

    def reducer(key, values):
        if key == "k1":
            raise ValueError("bad key")
        yield key, len(values)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        out = {
            (r.key, r.value)
            for r in map_reduce(lines, wc_map, reducer, num_partitions=1).collect()
        }
    finally:
        spark.conf.set(conf, old)
    expected = {("common", "40"), ("k0", "14"), ("k2", "13")}
    expected |= {(f"w{i}", "1") for i in range(40)}
    assert out == expected


def test_key_runs_split_across_batches_and_map_tasks(spark):
    # two records per Arrow batch on both sides: "common" and "k0".."k2"
    # arrive as many grouped rows from several map tasks and batches, so
    # their runs cross reduce batch boundaries
    lines = spark.createDataFrame(_KEY_RUN_ROWS, ["value"]).repartition(4)
    assert lines.rdd.getNumPartitions() >= 2
    _key_runs_two_per_batch(spark, lines)


def test_key_runs_split_across_batches_in_one_task(spark):
    # one partition, so one task maps and reduces: every key's values
    # come from 20 Arrow batches and are grouped across all of them
    lines = spark.createDataFrame(_KEY_RUN_ROWS, ["value"]).coalesce(1)
    assert lines.rdd.getNumPartitions() == 1
    _key_runs_two_per_batch(spark, lines)


def test_reducer_error_skips_key_only(spark):
    lines = spark.createDataFrame([("a b",), ("a c",)], ["value"])

    def reducer(key, values):
        if key == "a":
            raise ValueError("bad key")
        yield key, sum(int(v) for v in values)

    for shaped in _shapes(lines):
        out = {(r.key, r.value) for r in map_reduce(shaped, wc_map, reducer).collect()}
        assert out == {("b", "1"), ("c", "1")}


def test_values_are_strings_and_multiset(spark):
    lines = spark.createDataFrame([("x",), ("x",)], ["value"])

    def reducer(key, values):
        # contract: engine hands list[str] (worker.py:156-159 analog)
        assert all(isinstance(v, str) for v in values)
        yield key, len(values)

    for shaped in _shapes(lines):
        out = dict(
            (r.key, r.value)
            for r in map_reduce(shaped, wc_map, reducer).collect()
        )
        assert out == {"x": "2"}


def test_empty_input_completes(spark):
    empty = spark.createDataFrame([], "value string")
    for shaped in _shapes(empty):
        assert map_reduce(shaped, wc_map, wc_reduce).count() == 0


def test_run_job_tsv_round_trip(spark, tmp_path):
    from honors_p1_mapreduce_spark.sources.text import read_tsv_results

    src = tmp_path / "in.txt"
    src.write_text("hello world\nhello spark\n")
    want = {("hello", "2"), ("world", "1"), ("spark", "1")}
    # defaults: one split, one task; 2 and 2: the shuffled shape
    for maps, reduces in ((None, None), (2, 2)):
        out_dir = str(tmp_path / f"out_{maps}_{reduces}")
        df = run_job(
            spark, str(src), wc_map, wc_reduce, out_dir,
            num_maps=maps, num_reduces=reduces,
        )
        assert {(r.key, r.value) for r in df.collect()} == want
        back = read_tsv_results(spark, out_dir)
        assert {(r[0], r[1]) for r in back.collect()} == want
        # results --limit N analog (mr/client/client.py:137-140)
        assert read_tsv_results(spark, out_dir, limit=2).count() == 2
