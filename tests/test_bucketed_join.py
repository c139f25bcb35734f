"""Bucketed co-located join: oracle parity + storage roundtrip."""

from __future__ import annotations

from pyspark.sql import functions as F

from honors_p1_mapreduce_spark.operators.relational import (
    BUCKETED_JOIN_BUCKETS,
    BUCKETED_JOIN_REVENUE_ORACLE,
    bucketed_join_revenue,
)
from honors_p1_mapreduce_spark.sources.tables import load_table

from .oracle import compare_query


def test_bucketed_join_matches_oracle(spark, sf_dir):
    compare_query(spark, sf_dir, bucketed_join_revenue, BUCKETED_JOIN_REVENUE_ORACLE)


def test_bucketed_publish_loses_nothing(spark, sf_dir):
    """The bucketed write→read roundtrip must preserve every row —
    compare read-back counts and an order-insensitive key checksum
    against the source parquet (the per-bucket layout must be a pure
    re-arrangement)."""
    bucketed_join_revenue(spark, sf_dir)  # (re)publishes both tables
    import re

    from honors_p1_mapreduce_spark.sources.tables import corpus_path_token

    safe = re.sub(r"[^A-Za-z0-9_]", "_", corpus_path_token(sf_dir))
    for tbl, src, key in [
        (f"bj_lineitem_{safe}", "lineitem", "l_orderkey"),
        (f"bj_orders_{safe}", "orders", "o_orderkey"),
    ]:
        back = spark.table(tbl)
        source = load_table(spark, sf_dir, src)
        chk = lambda df: df.agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.col(key).cast("string"))).alias("x"),
        ).collect()[0]
        a, b = chk(back), chk(source)
        assert (a["n"], a["x"]) == (b["n"], b["x"]), tbl
        # one file per bucket: the aligned pre-repartition worked
        files = back.inputFiles()
        assert len(files) == BUCKETED_JOIN_BUCKETS, tbl


def test_corpus_token_distinguishes_equal_basenames():
    """Two corpora whose directories share a basename (.../a/sf0.1 vs
    .../b/sf0.1) must get DISTINCT catalog table names and artifact
    paths — same-session publishes must never clobber each other (r8
    advisor finding)."""
    from honors_p1_mapreduce_spark.sources.tables import corpus_path_token

    a, b = corpus_path_token("/data/a/sf0.1"), corpus_path_token("/data/b/sf0.1")
    assert a != b
    assert a.startswith("sf0.1_") and b.startswith("sf0.1_")
    # stable across trailing-slash / redundant-segment spellings
    assert corpus_path_token("/data/a/sf0.1/") == a
    assert corpus_path_token("/data/a/./sf0.1") == a
