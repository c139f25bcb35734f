"""Q2 grep: filter + count duplicate matching lines (SURVEY.md §2.3 Q2).

Reference semantics: case-insensitive regex search on the RAW line via
``re.IGNORECASE`` (mr/examples/grep/mapper.py:15,29), key = stripped
matching line, count duplicates (grep/reducer.py:22-23). Matching uses
``(?i)`` on the unmodified text in BOTH engines — lowercasing the line
first would silently break patterns containing uppercase literals.

Run over ``documents.text`` (the line-shaped table). The filter is a
plain predicate, so Catalyst pushes the scan down to (text) only and
the aggregate is partial+final — at scale this is a single pruned scan
plus a shuffle of the few matching distinct lines.

The default pattern is data-driven (the reference ships ``error``,
which this corpus' vocabulary never contains); override per call, and
build the matching oracle with the SAME pattern via the
``*_oracle(pattern)`` builders — query and oracle share one
parameterization by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

DEFAULT_PATTERN = "stream.*join"


def _ci(pattern: str) -> str:
    return f"(?i){pattern}"


def _sql_quote(pattern: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return _ci(pattern).replace("'", "''")


def grep_count(
    spark: SparkSession, sf_dir: str, pattern: str = DEFAULT_PATTERN
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike(_ci(pattern)))
        .select(F.trim(F.col("text")).alias("line"))
        .groupBy("line")
        .agg(F.count("*").alias("cnt"))
    )


def grep_count_oracle(pattern: str = DEFAULT_PATTERN) -> str:
    return f"""
SELECT trim(text) AS line, count(*) AS cnt
FROM documents
WHERE regexp_matches(text, '{_sql_quote(pattern)}')
GROUP BY trim(text)
"""


GREP_COUNT_ORACLE = grep_count_oracle()


def grep_total(
    spark: SparkSession, sf_dir: str, pattern: str = DEFAULT_PATTERN
) -> DataFrame:
    """Scalar variant: how many lines match (the demo's headline number)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike(_ci(pattern))).agg(
        F.count("*").alias("matches")
    )


def grep_total_oracle(pattern: str = DEFAULT_PATTERN) -> str:
    return f"""
SELECT count(*) AS matches FROM documents
WHERE regexp_matches(text, '{_sql_quote(pattern)}')
"""


GREP_TOTAL_ORACLE = grep_total_oracle()
