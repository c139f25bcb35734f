"""Line-oriented text source + TSV sink.

Reproduces the reference engine's IO surface (SURVEY.md §2.1 E1/E8):
input is a text file read as lines (mr/coordinator/server.py:201-234),
output is ``key\\tvalue`` TSV, one file per reduce partition
(mr/worker/worker.py:162-171). Unlike the reference, ``output_path``
is honored per job (the reference accepts it and then writes to a
fixed dir — a bug we implement as declared, SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(
    spark: SparkSession, path: str, min_partitions: int | None = None
) -> DataFrame:
    """Read a text file as DataFrame[value: string], one row per line.

    ``min_partitions`` plays the role of the reference's ``num_maps``
    input split (mr/coordinator/server.py:213-232); Spark's file-split
    machinery takes it as a hint instead of a hard line-balanced chop
    (exact split boundaries are not observable in results).
    """
    df = spark.read.text(path)
    if min_partitions is not None and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def write_tsv(df: DataFrame, path: str, num_partitions: int | None = None) -> None:
    """Write a 2+-column DataFrame as headerless TSV.

    Matches the observable reference output shape: string-coerced
    columns (mr/worker/worker.py:124-125), keys sorted within each
    output partition (mr/worker/worker.py:167). ``num_partitions``
    hash-repartitions on the first column first; without it the frame
    keeps its partitioning (``run_job`` writes ``map_reduce``'s
    reduce partitions as they are).
    """
    out = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    if num_partitions is not None:
        out = out.repartition(num_partitions, out.columns[0])
    out.sortWithinPartitions(out.columns[0]).write.mode("overwrite").option(
        "sep", "\t"
    ).option("emptyValue", "").csv(path)


def read_tsv_results(
    spark: SparkSession, path: str, limit: int | None = None
) -> DataFrame:
    """Client-side ``results --limit N`` analog (mr/client/client.py:120-142)."""
    df = spark.read.option("sep", "\t").csv(path)
    return df.limit(limit) if limit is not None else df
