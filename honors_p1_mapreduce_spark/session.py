"""SparkSession factory.

Carries over the reference's only two engine-level knobs as
configuration rather than code (SURVEY.md §2.2 R1, §4.2):

- straggler mitigation -> ``spark.speculation=true`` with
  ``multiplier=1.5`` / ``quantile=0.25``, knob-for-knob identical to
  the reference coordinator (mr/coordinator/server.py:73-75).
- ``num_reduces`` -> ``spark.sql.shuffle.partitions``.

Everything else (AQE, Arrow, UTC session timezone) is 100TB-scale /
oracle-parity hygiene.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run
    on — never more cores than the host grants."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "honors-p1-mapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the core count: at local scale
    200 partitions over-parallelizes tiny shuffles; on a real cluster
    this knob is set per-deployment (AQE coalesces the excess either
    way).
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # num_reduces analog (SURVEY.md §4.2)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # runtime re-planning: partition coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # straggler mitigation == reference special feature (design.md:123-139)
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "1.5")
        .config("spark.speculation.quantile", "0.25")
        # Arrow for the pandas-UDF slow path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # driver parquet carries TIMESTAMP(NANOS) (events.ts): read as
        # raw nanos; sources.tables converts losslessly to timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Codegen class cache: the default 100 entries thrashes on a
        # many-query session — in a 173-query suite the second
        # evaluation of a codegen-heavy plan (the BPE 200-replace
        # chain, the PNG synthesis fold) RECOMPILES because the other
        # queries evicted it, paying multi-second Janino+JIT cost
        # twice (measured: bpe_encode_ids 12.1 s first-eval vs 4.0 s
        # with the compiled class cached). r18: 5000 still evicts
        # across the grown 176-query suite — pack_token_ids measured
        # 5.5 s in-suite vs 1.6 s isolated at 5000, 2.9 s in-suite at
        # 20000 (media_png_decode 4.6 -> 1.5) — so the default rides
        # the suite size with headroom. Compiled classes are small;
        # a long-lived driver serving a mixed workload wants them
        # resident. Memory-constrained drivers lower it via extra_conf.
        # CAVEAT (advisor r17): this is an INTERNAL *static* SQL conf —
        # if getOrCreate attaches to a pre-existing SparkSession in
        # this JVM, the value is silently ignored (the first session
        # wins), and being internal it carries no cross-version
        # stability guarantee. Fine for this engine (get_spark is the
        # single session factory); embedders sharing a JVM should set
        # it on the FIRST session they create.
        .config("spark.sql.codegen.cache.maxEntries", "20000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
