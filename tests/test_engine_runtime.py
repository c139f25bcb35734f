"""Engine/runtime surface tests: speculation knobs (R1), TSV sink
semantics (E8), status helper (R6), grep query/oracle co-param."""

from __future__ import annotations

from honors_p1_mapreduce_spark.operators.grep import grep_count, grep_count_oracle
from honors_p1_mapreduce_spark.runtime import status
from honors_p1_mapreduce_spark.sources.tables import TABLES, load_table
from honors_p1_mapreduce_spark.sources.text import read_tsv_results, write_tsv

from .oracle import compare_query


def test_speculation_knobs_match_reference(spark):
    # knob-for-knob the reference coordinator's straggler policy
    # (mr/coordinator/server.py:73-75): 1.5x median after 25% quantile
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.speculation") == "true"
    assert conf.get("spark.speculation.multiplier") == "1.5"
    assert conf.get("spark.speculation.quantile") == "0.25"
    # num_reduces analog + AQE present
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 1
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # codegen class cache sized for a many-query session (r17: the
    # default 100 entries made the suite's second pass of
    # codegen-heavy plans recompile, paying multi-second Janino+JIT
    # cost twice)
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def test_default_cpus_falls_back_to_host_affinity(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, a bare get_spark() asks for the
    CPUs this process may run on, not a fixed core count."""
    import os

    from honors_p1_mapreduce_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_driver_mem_fits_the_host(monkeypatch):
    """With SPARK_GRAFT_DRIVER_MEM unset, the driver heap is three
    quarters of the host's memory, never more than 24g; the env value
    wins when set."""
    import os

    from honors_p1_mapreduce_spark.session import default_driver_mem

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert int(mem[:-1]) == min(total_kb // 1024 * 3 // 4, 24 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    assert default_driver_mem() == "4g"


def test_write_tsv_round_trip_sorted_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [("b", 2), ("a", 1), ("c", 3), ("a", 9)], ["k", "v"]
    ).repartition(2, "k")
    out = str(tmp_path / "tsv_out")
    write_tsv(df, out)
    back = read_tsv_results(spark, out)
    # string-coerced values, all rows preserved (E8 contract)
    assert sorted((r[0], r[1]) for r in back.collect()) == [
        ("a", "1"), ("a", "9"), ("b", "2"), ("c", "3")
    ]
    # keys sorted within each output partition file
    import glob

    for part in glob.glob(f"{out}/part-*"):
        with open(part) as f:
            keys = [line.split("\t")[0] for line in f if line.strip()]
        assert keys == sorted(keys)
    # limit analog (E9)
    assert read_tsv_results(spark, out, limit=2).count() == 2


def _jobs_of(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted in a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_memoizes_the_inferred_schema(spark, sf_dir, tmp_path):
    # the first read of a corpus infers (a Spark job); the second
    # reads with the memoized schema and launches none
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "documents.parquet").symlink_to(f"{sf_dir}/documents.parquet")
    assert _jobs_of(spark, lambda: load_table(spark, str(corpus), "documents")) >= 1
    assert _jobs_of(spark, lambda: load_table(spark, str(corpus), "documents")) == 0
    # the memoized schema is exactly what inference returns
    for name in TABLES:
        if name != "events":  # read through its own nanosAsLong path
            want = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            assert load_table(spark, sf_dir, name).schema == want, name


def test_load_table_schema_follows_a_corpus_rewritten_in_place(spark, tmp_path):
    import pandas as pd

    corpus = tmp_path / "rewritten"
    corpus.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a b"]}).to_parquet(corpus / "documents.parquet")
    assert load_table(spark, str(corpus), "documents").columns == ["doc_id", "text"]
    pd.DataFrame({"doc_id": [1], "text": ["a b"], "lang": ["en"]}).to_parquet(
        corpus / "documents.parquet"
    )
    df = load_table(spark, str(corpus), "documents")
    assert df.columns == ["doc_id", "text", "lang"]
    assert df.collect()[0]["lang"] == "en"


def test_artifact_dir_is_removed_when_the_process_exits(tmp_path):
    # a stored-artifact query's scratch files go with the Python process
    # that wrote them; a fake session keeps this test free of a JVM
    import os
    import shutil
    import subprocess
    import sys
    import uuid
    from pathlib import Path

    app = f"test-exit-{uuid.uuid4().hex}"
    script = f"""
import os, types
from honors_p1_mapreduce_spark.sources.tables import _artifact_dir
spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId={app!r}))
for kind in ("a", "b"):
    d = _artifact_dir(spark, {str(tmp_path)!r}, kind)
    os.makedirs(d)
    open(os.path.join(d, "part-0"), "w").close()
print(os.path.dirname(d))
"""
    repo = Path(__file__).resolve().parent.parent
    app_dir = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    ).stdout.strip()
    try:
        assert os.path.basename(app_dir) == app
        assert not os.path.exists(app_dir)
    finally:
        shutil.rmtree(app_dir, ignore_errors=True)


def test_read_text_lines_min_partitions(spark, tmp_path):
    # E2: num_maps analog — the input split honors the hint
    p = tmp_path / "many_lines.txt"
    p.write_text("\n".join(f"line {i}" for i in range(1000)))
    from honors_p1_mapreduce_spark.sources.text import read_text_lines

    df = read_text_lines(spark, str(p), min_partitions=4)
    assert df.rdd.getNumPartitions() >= 4
    assert df.count() == 1000


def test_status_helper_shape(spark):
    s = status(spark)
    assert s["status"] in ("RUNNING", "IDLE")
    assert isinstance(s["active_jobs"], list)


def test_concurrent_queries_complete(spark, sf_dir):
    # R4: the reference runs 3 jobs concurrently
    # (mr/tests/test_mapreduce.py:207-250); Spark actions are
    # thread-safe on one session
    import concurrent.futures

    from honors_p1_mapreduce_spark import registry

    names = ["wordcount", "pricing_summary", "events_tumbling"]
    with concurrent.futures.ThreadPoolExecutor(3) as ex:
        counts = list(
            ex.map(lambda n: registry.QUERIES[n](spark, sf_dir).count(), names)
        )
    assert all(c > 0 for c in counts)


def test_concurrent_run_job_submissions(spark, tmp_path):
    # R4, full submit lifecycle: the reference submits 3 wordcount jobs
    # and polls until all COMPLETED (mr/tests/test_mapreduce.py:207-250).
    # Here: 3 run_job submissions from 3 threads on one session, each
    # with its own input file and output dir; every output must be
    # complete and correct, not merely present.
    import concurrent.futures

    from honors_p1_mapreduce_spark.mapreduce import run_job
    from honors_p1_mapreduce_spark.sources.text import read_tsv_results

    def mapper(line):
        for w in line.split():
            yield w, 1

    def reducer(key, values):
        yield key, sum(int(v) for v in values)

    def submit(i: int) -> str:
        inp = tmp_path / f"input_{i}.txt"
        inp.write_text(f"job {i} test data\n" * 100)
        out = str(tmp_path / f"out_{i}")
        run_job(spark, str(inp), mapper, reducer, out, num_maps=2, num_reduces=1)
        return out

    with concurrent.futures.ThreadPoolExecutor(3) as ex:
        outs = list(ex.map(submit, range(3)))

    for i, out in enumerate(outs):
        got = {
            (r[0], r[1]) for r in read_tsv_results(spark, out).collect()
        }
        assert got == {
            ("job", "100"), (str(i), "100"), ("test", "100"), ("data", "100")
        }, f"job {i}: {got}"


def test_totally_broken_mapper_completes_empty(spark):
    # reference: an invalid mapper submits and its tasks fail
    # (mr/tests/test_mapreduce.py:256-278); our per-record tolerance
    # maps that to "job completes with zero output" — the declared
    # skip-bad-records semantics applied to every record
    from honors_p1_mapreduce_spark.mapreduce import map_reduce

    lines = spark.createDataFrame([("a",), ("b",)], ["value"])

    def broken_mapper(line):
        raise RuntimeError("always fails")

    def reducer(key, values):
        yield key, len(values)

    assert map_reduce(lines, broken_mapper, reducer).count() == 0


def test_grep_query_and_oracle_share_pattern(spark, sf_dir):
    # a non-default pattern with an uppercase literal: (?i) on raw text
    # must match; query and oracle built from the same parameter
    pat = "Table.*Scan"
    compare_query(
        spark,
        sf_dir,
        lambda s, d: grep_count(s, d, pattern=pat),
        grep_count_oracle(pat),
    )


def test_multi_rollup_grain_consistency(spark, sf_dir):
    """Cascade invariant: every hour row's counts/sums equal the sum
    of its minute rows, and likewise day-over-hour — so the cascade
    cannot drift from a direct per-grain aggregation."""
    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.events import events_multi_rollup

    out = events_multi_rollup(spark, sf_dir).persist()

    def grain(g):
        return out.filter(F.col("grain") == g).drop("grain")

    rolled_hours = (
        grain("minute")
        .groupBy(
            F.date_trunc("hour", "bucket_start").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    hours = grain("hour")
    joined = hours.alias("h").join(
        rolled_hours.alias("r"), ["bucket_start", "event_type"]
    )
    assert joined.count() == hours.count() == rolled_hours.count()
    bad = joined.filter(
        (F.col("h.n_events") != F.col("r.n_events"))
        | (F.abs(F.col("h.sum_value") - F.col("r.sum_value")) > 1e-6)
    )
    assert bad.count() == 0


def test_task_retry_recovers_injected_failure(tmp_path):
    """R5 failure handling, demonstrated: with task retries enabled
    (``local[4,2]`` — maxFailures=2), a task that fails on its FIRST
    attempt is re-run and the job completes with the correct result.
    The default ``local[n]`` master never retries (maxFailures=1), so
    this runs in a subprocess with its own master — the same
    attempt-aware injection as the round-6 straggler measurement
    (git history).
    The reference worker has no retry at all (a task failure fails
    the job); Spark's per-task attempts are the engine upgrade this
    pins."""
    import subprocess
    import sys
    from pathlib import Path

    script = r"""
import sys
from pyspark import TaskContext
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4,2]")
    .appName("retry-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext
sc.setLogLevel("ERROR")

def flaky(it):
    ctx = TaskContext.get()
    if ctx.partitionId() == 2 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")
    return iter([sum(it)])

total = sum(sc.range(0, 1000, numSlices=4).mapPartitions(flaky).collect())
assert total == sum(range(1000)), total
print("RETRY_OK", total)
spark.stop()
"""
    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(repo),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RETRY_OK 499500" in out.stdout
