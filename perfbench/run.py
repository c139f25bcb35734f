#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench/`` and removed afterwards; Spark runs on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).

One client submits the workload's jobs one at a time. After the
workload's ``warmup_passes`` passes, passes repeat until ``--seconds``
have passed (at least its ``min_passes``). Every pass's results are
then checked against the generator's answers or the DuckDB oracles.

Passes and jobs are timed in CPU seconds (user + system) of this
process and all its descendants, the Spark JVM and its Python workers
(see ``tree_cpu_s``), over the session's first ``warmup_passes +
min_passes`` passes; wall-clock times of the passes after the warm-up
are in the report. On a shared 4-vCPU host the wall time of the same
pass varied twofold with what other guests ran. The CPU time of a
single warm pass varied by a fifth with how far the JVM's JIT compilers
had got; over the session from its first pass that evens out.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
plain and traced passes and reports the per-layer metrics (see
``trace.py``). The second-to-last output line is a report with the
environment, sample counts and failures; the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
when every result was correct, 1 when one was not, and 2 when the run
could not start.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_SAMPLES = 3  # session set-ups per traced run; the last session runs the workload
DRIVER_MEM = "4g"  # driver heap unless SPARK_GRAFT_DRIVER_MEM is set; the engine's default is 24g

# Per-layer metrics every traced run reports; a layer a workload does
# not use reads 0 there. Workloads may add their own (``AnnIndex``).
PER_LAYER = (
    "sources.scan_s", "sources.scan_tasks", "sources.rows_read", "sources.bytes_read",
    "mapreduce.self_s", "mapreduce.kv_pairs", "mapreduce.skipped_lines",
    "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
    "operators.funnel_s", "operators.neardup_s", "operators.minhash_s",
    "operators.exact_dedup_s", "operators.wordcount_s", "operators.inverted_index_s",
    "operators.neardup_pairs", "operators.neardup_recall",
    "registry.reset_s", "registry.memo_entries",
    "runtime.jobs", "runtime.stages", "runtime.tasks", "runtime.failed_tasks",
    "session.jvm_start_s", "session.start_s", "session.first_job_s",
    "self.pass_s", "self.registry_s", "self.sources_s", "self.mapreduce_s",
    "self.sinks_s", "self.operators_s",
    "trace.run_s", "trace.overhead_s",
)


@dataclass
class Pass:
    total: float = 0.0  # wall seconds
    cpu: float = 0.0  # CPU seconds, see tree_cpu_s
    times: dict[str, float] = field(default_factory=dict)
    cpu_times: dict[str, float] = field(default_factory=dict)
    results: dict = field(default_factory=dict)
    failed: list[str] = field(default_factory=list)
    traced: bool = False
    spans: list = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


# ------------------------------------------------------------- session


def _spark_conf(work: str) -> dict[str, str]:
    """The session's configuration on top of ``get_spark``'s. The serial
    collector sizes the heap by fixed free-space ratios; G1, the JVM's
    default here, grows it by pause-time goals that depend on how busy
    the host is: on a shared 4-vCPU host its peak RSS ranged 1.96-3.23
    GB over five ``curation`` runs of the same code (serial: 1.41-1.56
    GB over ten)."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC",
    }


def start_session(work: str):
    """(spark, get_spark seconds, first trivial job seconds)."""
    from honors_p1_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work))
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _jvm(spark):
    return spark.sparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, each with its reaped children: the Spark JVM, the
    PySpark daemon and its workers."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited since the listing
        fields = stat[stat.rindex(")") + 2 :].split()  # fields[0] is stat field 3
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _TICKS_PER_S


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks since boot: the share stolen while timing
    shows how much other guests on the host slowed the run."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def set_up(work: str, restarts: int):
    """Start Spark on a new JVM, then stop and start the session
    ``restarts`` times on that JVM, timing each.

    Returns (spark, CPU seconds of the start on the new JVM, (get_spark
    seconds, first job seconds) on the new JVM, the same pair for each
    later session)."""
    cpu0 = tree_cpu_s()
    spark, *cold = start_session(work)
    cold_cpu = tree_cpu_s() - cpu0
    sessions = []
    for _ in range(restarts):
        spark.stop()
        spark, *times = start_session(work)
        sessions.append(times)
    return spark, cold_cpu, cold, sessions


# -------------------------------------------------------------- passes


def run_pass(spark, wl, pass_no: int, tracer=None) -> Pass:
    from honors_p1_mapreduce_spark import registry

    from perfbench.trace import instrument

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    p = Pass(traced=tracer is not None)
    first_span = len(tracer.spans) if tracer else 0
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    with instrument(tracer) if tracer else contextlib.nullcontext(), span("pass"):
        with span("registry.reset"):
            registry.reset_memos()
            spark.catalog.clearCache()
        for name, fn in wl.jobs(pass_no, p.traced):
            t, c = time.perf_counter(), tree_cpu_s()
            try:
                with span(name):
                    p.results[name] = fn()
            except Exception:
                traceback.print_exc()
                p.failed.append(name)
            p.times[name] = time.perf_counter() - t
            p.cpu_times[name] = tree_cpu_s() - c
    p.total, p.cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    if tracer:
        p.spans = tracer.spans[first_span:]
        p.layers = layer_metrics(p.spans)
        if not p.failed:
            p.layers.update(wl.layer_metrics(p.results, p.spans))
        p.layers["registry.memo_entries"] = memo_entries()
    return p


def memo_entries() -> int:
    """Entries held by the engine's build-once memos."""
    import importlib

    caches = {
        "bpe": ("_MERGES_CACHE", "_SYMS_CACHE"),
        "bpe_encode": ("_WORD_IDS_CACHE",),
        "pq": ("_CODEBOOK_CACHE",),
        "winnow": ("_FP_CACHE",),
        "lm_quality": ("_READ_FRAMES_CACHE",),
    }
    n = 0
    for mod, names in caches.items():
        m = importlib.import_module(f"honors_p1_mapreduce_spark.operators.{mod}")
        n += sum(len(getattr(m, a)) for a in names)  # a renamed memo fails loudly
    return n


LAYERS = ("pass", "registry", "sources", "mapreduce", "sinks", "operators")


def layer_metrics(spans) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its spans."""
    from perfbench.trace import self_times

    selfs = self_times(spans)
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    total = lambda ss, key: sum(s.counts.get(key, 0) for s in ss)  # noqa: E731
    scans, writes = named("sources.scan"), named("sinks.write")
    m = {
        "sources.scan_s": sum(s.duration for s in scans),
        "sources.scan_tasks": statistics.mean(s.counts["first_stage_tasks"] for s in scans) if scans else 0,
        "sources.rows_read": total(scans, "rows"),
        "sources.bytes_read": total(scans, "bytes"),
        "mapreduce.self_s": sum(selfs[s.id] for s in named("mapreduce.map_reduce")),
        "sinks.write_s": sum(s.duration for s in writes),
        "sinks.bytes_written": total(writes, "bytes"),
        "sinks.files_written": total(writes, "files"),
        "registry.reset_s": sum(s.duration for s in named("registry.reset")),
        "trace.run_s": sum(s.duration for s in named("pass")),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"runtime.{key}"] = total(spans, key)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s.id] for s in spans if s.layer == layer)
    return m


# ---------------------------------------------------------------- main


def environment(cpus: int, seed: int, manifest: dict, spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm.System
    gcs = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "gc": [gc.getName() for gc in gcs],
        "python": platform.python_version(),
        "seed": seed,
        "input_rows": manifest["files"],
        "input_bytes": manifest["bytes"],
    }


def measure(args, wl, spark) -> list[Pass]:
    """Warm-up passes, then timed passes until the time is up. With
    tracing, plain and traced passes alternate."""
    from perfbench.trace import Tracer

    tracer = Tracer(spark, f"{args.workload}-s{args.seed}") if args.trace else None
    passes = [run_pass(spark, wl, i) for i in range(wl.warmup_passes)]
    deadline = time.perf_counter() + args.seconds
    while True:
        passes.append(run_pass(spark, wl, len(passes)))
        if tracer:
            passes.append(run_pass(spark, wl, len(passes), tracer))
        timed = len(passes) - wl.warmup_passes
        if time.perf_counter() >= deadline and timed >= (2 if tracer else wl.min_passes):
            break
    if tracer:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}-{os.getpid()}.jsonl"))
    return passes


def end_to_end(wl, passes: list[Pass], timed: list[Pass], cold_cpu: float, rss_mb: float) -> dict[str, float]:
    """``passes``: the session's first warmup_passes + min_passes, all
    plain; ``timed``: its plain passes after the warm-up."""
    return {
        "setup_s": cold_cpu,
        "pass_cpu_s": statistics.fmean(p.cpu for p in passes),
        "job_cpu_s_gmean": job_gmean(passes),
        "peak_rss_mb": rss_mb,
        **wl.end_to_end([p.times for p in timed]),
    }


def job_gmean(passes: list[Pass]) -> float:
    """Geometric mean over the workload's jobs of each job's mean CPU
    seconds over ``passes``. The median of all job times lands between
    two jobs of similar cost and jumps between them; this moves
    smoothly, and by the same share for a job that is 2x faster whether
    it is big or small."""
    logs = [
        math.log(max(statistics.fmean(p.cpu_times[n] for p in passes), 1 / _TICKS_PER_S))
        for n in passes[0].cpu_times
    ]
    return math.exp(statistics.fmean(logs))


def per_layer(plain: list[Pass], traced: list[Pass], cold: list[float], sessions: list) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0)
    for k in sorted({k for p in traced for k in p.layers}):
        m[k] = statistics.median(p.layers.get(k, 0) for p in traced)
    m["session.jvm_start_s"] = cold[0]
    m["session.start_s"] = statistics.median(a for a, _ in sessions)
    m["session.first_job_s"] = statistics.median(b for _, b in sessions)
    m["trace.overhead_s"] = m["trace.run_s"] - statistics.median(p.total for p in plain)
    return m


def unit(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if ".bytes_" in name:
        return "B"
    return "ratio" if "recall" in name else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", type=json.loads, help=argparse.SUPPRESS)  # tests: tiny inputs
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import honors_p1_mapreduce_spark  # noqa: F401
        import tests.oracle  # noqa: F401

        from perfbench import gen
        from perfbench.stats import summary
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS or args.seed is None:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}, and --seed is required")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    # no JVM (the launcher's or Spark's) writes perf data to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    # Python workers import the jobs' mapper and reducer from this package
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    spark = None
    try:
        t0 = time.perf_counter()
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "data"), args.sizes)
        gen_s = time.perf_counter() - t0
        spark, cold_cpu, cold, sessions = set_up(work, SETUP_SAMPLES if args.trace else 0)
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), work, manifest["truth"], args.seed)
        ticks = _cpu_ticks()
        passes = measure(args, wl, spark)
        stolen, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        rss_mb = (_hwm_kb(_jvm(spark).pid) + _hwm_kb("self")) / 1024
        results = [p.results for p in passes if not p.failed]
        bad = [f"pass {i} {name}: raised" for i, p in enumerate(passes) for name in p.failed]
        t0 = time.perf_counter()
        bad += wl.check(results)
        check_s = time.perf_counter() - t0
        env = environment(cpus, args.seed, manifest, spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(p.times) for p in passes)
    failed = min(attempted, len(bad))
    timed = [p for p in passes[wl.warmup_passes :] if not p.traced]
    traced = [p for p in passes if p.traced]
    metrics = per_layer(timed, traced, cold, sessions) if args.trace else end_to_end(wl, passes[: wl.warmup_passes + wl.min_passes], timed, cold_cpu, rss_mb)
    for msg in bad:
        print(f"perfbench: WRONG {msg}", file=sys.stderr)
    report = {
        "workload": args.workload,
        "environment": env,
        "peak_rss_mb": rss_mb,
        "failed_frac": failed / attempted,
        "pass_s": [(p.total, p.cpu, "traced" if p.traced else "plain") for p in passes],
        "cpu_steal_share": stolen / max(total, 1),
        "warmup_passes": wl.warmup_passes,
        "run_s": summary([p.total for p in timed]),
        "job_s": summary([t for p in timed for t in p.times.values()]),
        "job_cpu_s": summary([t for p in timed for t in p.cpu_times.values()]),
        "job_s_by_name": {n: statistics.median(p.times[n] for p in timed) for n in timed[0].times},
        "job_cpu_s_by_name": {n: statistics.median(p.cpu_times[n] for p in timed) for n in timed[0].times},
        "cold_setup_s": cold,
        "cold_setup_cpu_s": cold_cpu,
        "generate_s": gen_s,
        "check_s": check_s,
        "session_setups_s": sessions,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
