"""Table registry over the driver's parquet star schema.

The reference engine's only source is a line-oriented text file copied
into a shared volume (mr/client/client.py:21-40, E10 in SURVEY.md §2.1);
here the primary source is columnar parquet so Catalyst gets predicate
pushdown + column pruning for free, with text ingestion kept in
``sources.text`` for reference-shaped workloads.
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import memo

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables a planner should broadcast in joins at any scale.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

# applications whose artifact directory (_artifact_dir) is removed at exit
_ARTIFACT_APPS: set[str] = set()

# (application, corpus dir, corpus token, table) -> the schema Spark
# infers for that table's parquet
_SCHEMA_CACHE: dict[tuple, T.StructType] = memo.store()


def _size_bytes(conf_value: str) -> int:
    """Parse a Spark size conf ("134217728", "128m", "1g") to bytes."""
    v = conf_value.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suffix):
            v, mult = v[:-1], m
            break
    return int(v) * mult


def _scan_parallelize(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition AFTER the read when the file layout
    cannot split into at least ``defaultParallelism`` scan tasks.

    The driver corpora are single-file, single-row-group parquet, so
    every scan is ONE task and all per-row expression work serializes
    on one core until the first exchange (measured 5.5x on winnowing
    extraction at sf0.1/local[32], r17 A/B). The trigger derives from
    the input layout vs the session's core count — never a local-mode
    constant: at 100 TB the byte-based split estimate exceeds any core
    count, the condition is false, and the plan is unchanged (the
    zero-extra-exchange posture at scale is preserved by construction).
    The exchange carries raw scan rows (pre-decode, pre-expression),
    so nothing heavy is shuffled.

    Strictly OPT-IN per call site (``load_table(..., wide_scan=True)``;
    the usual input-skew remedy for one huge unsplittable file is to
    repartition immediately after the read): interleaved A/B (min-of-N,
    one JVM, order-alternating) showed the repartition pays only where
    per-row work directly on the scan is heavy — per-gram md5 winnowing
    3.7 -> 0.9 s, substring grams 3.7 -> 2.0 s, PNG zlib inflate
    2.25 -> 1.15 s — and LOSES elsewhere: cheap-tokenize consumers (BPE
    id stream 3.2 -> 8+ s cold, publish manifest), multi-scan media
    plans (audio dedup 2.0 -> 3.8 s: each re-scan re-shuffles payload
    bytes), and even the embedding consumers (LSH bucketing
    1.3 -> 1.9 s). The trigger only ever fires when the layout
    under-splits — i.e. at SMALL inputs — which is exactly where fixed
    exchange overhead is most visible, so the default must be off."""
    import os

    try:
        if os.path.isdir(path):
            size = sum(
                e.stat().st_size
                for e in os.scandir(path)
                if e.name.endswith(".parquet")
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return df  # non-local path: layout unknown, leave the plan alone
    try:
        max_bytes = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except ValueError:
        max_bytes = 128 << 20
    par = spark.sparkContext.defaultParallelism
    est_tasks = max(1, -(-size // max_bytes))
    if est_tasks >= par:
        return df
    return df.repartition(par)


def corpus_path_token(sf_dir: str) -> str:
    """Deterministic short token for a corpus directory's PATH (not its
    contents — that is :func:`memo.corpus_token`), derived from the FULL
    normalized path (basename alone collides when two corpora share a
    directory name, e.g. .../a/sf0.1 and .../b/sf0.1). Human-readable
    basename + 8-hex path hash."""
    import hashlib
    import os

    norm = os.path.normpath(os.path.abspath(sf_dir))
    base = os.path.basename(norm)
    return f"{base}_{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def _artifact_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Deterministic scratch path for a registered stored-artifact
    query: keyed by (applicationId, full-corpus-path token, kind) so
    repeat calls within an application overwrite the same files —
    bounded disk, and no staleness because every call REWRITES the
    artifact before reading it back (unlike the in-session memos,
    which trust :func:`memo.corpus_token` to notice a rewritten corpus).
    Distinct corpora NEVER share a path, even with equal basenames
    (:func:`corpus_path_token`). The application's directory is removed
    when this Python process exits: the removal is registered the first
    time an application's directory is named here."""
    app = spark.sparkContext.applicationId
    app_dir = f"/tmp/spark_graft_artifacts/{app}"
    if app not in _ARTIFACT_APPS:
        # two threads racing here register the removal twice: harmless
        _ARTIFACT_APPS.add(app)
        atexit.register(shutil.rmtree, app_dir, ignore_errors=True)
    return f"{app_dir}/{kind}_{corpus_path_token(sf_dir)}"


def load_table(
    spark: SparkSession, sf_dir: str, name: str, wide_scan: bool = False
) -> DataFrame:
    """Read one table of the corpus at ``sf_dir``.

    The schema Spark infers for a table is memoized per corpus
    snapshot (:data:`_SCHEMA_CACHE`, keyed by :func:`memo.key`), and
    later reads pass it to ``spark.read.schema``: inference runs a
    Spark job on every read, and most queries read ``documents``. The
    memo holds exactly what inference returns, so the plan is
    unchanged. ``events`` keeps its own read, because its inferred
    ``ts`` type depends on ``nanosAsLong``.

    ``wide_scan=True`` opts a read into the under-parallel-scan
    repartition (:func:`_scan_parallelize`) — set it at call sites
    whose per-row work on top of the scan is heavy enough to win from
    the extra exchange (measured, not assumed)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # ([PARQUET_TYPE_ILLEGAL]); read it as raw nanos and convert
        # losslessly (data has no sub-microsecond components). The
        # session factory sets nanosAsLong up front, but the driver
        # calls queries() with ITS OWN SparkSession — guard here so
        # events load under any session (idempotent runtime conf).
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # nanos -> TIMESTAMP_NTZ, matching how Spark reads the other
            # tables' naive parquet timestamps: epoch + exact dt-interval,
            # computed without any session-timezone dependence (a plain
            # timestamp_micros would render shifted under a non-UTC
            # driver session and break oracle value hashes). Integer div
            # first: double seconds would lose precision on 1e18 nanos.
            df = df.withColumn(
                "ts",
                F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
                + F.expr(
                    "make_dt_interval(0, 0, 0, CAST(ts div 1000 AS DECIMAL(20,0)) / 1000000)"
                ),
            )
        return df
    path = f"{sf_dir}/{name}.parquet"
    schema = memo.get_or_build(
        _SCHEMA_CACHE,
        memo.key(spark, sf_dir, name),
        lambda: spark.read.parquet(path).schema,
    )
    df = spark.read.schema(schema).parquet(path)
    if wide_scan:
        df = _scan_parallelize(spark, df, path)
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so operators can be written in pure SQL."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
