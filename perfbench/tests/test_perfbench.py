"""Tests of the benchmark itself: generator determinism, the percentile
rule, self-time arithmetic, CPU accounting, the oracles' rewrite, and
one tiny run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, mrjobs, run  # noqa: E402
from perfbench.stats import tail_percentile  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402
from perfbench.workloads import CURATION_JOBS, PYTHON_TWIN, materialized  # noqa: E402

TINY = {
    "mr_jobs": {"word_lines": 200, "doc_lines": 80, "log_lines": 100},
    "curation": {"docs": 120},
    "ann_index": {"vectors": 300},
}
TINY_ROWS = {
    "mr_jobs": {"words.txt": 200, "docs.txt": 80, "logs.txt": 100},
    "curation": {"documents.parquet": 120},
    "ann_index": {"embeddings.parquet": 300},
}


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"), TINY[workload])
    b = gen.generate(workload, 5, str(tmp_path / "b"), TINY[workload])
    gen.generate(workload, 6, str(tmp_path / "c"), TINY[workload])
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "c"))
    assert a == b
    assert a["files"] == TINY_ROWS[workload]
    assert all(n > 0 for n in a["bytes"].values())


def test_generator_injects_duplicates(tmp_path):
    made = gen.generate("curation", 3, str(tmp_path), {"docs": 1500})
    assert made["truth"]["exact_pairs"] and made["truth"]["near_pairs"]
    assert all(a < b for a, b in made["truth"]["near_pairs"])


def test_mr_truth_follows_the_job_contract():
    lines = ["doc_1: alpha beta beta", "no prefix here", "doc_2: beta gamma ab"]
    got = mrjobs.run_inprocess(mrjobs.inverted_index_mapper, mrjobs.doc_list_reducer, lines)
    assert got == {"alpha": "doc_1", "beta": "doc_1,doc_2", "gamma": "doc_2"}
    wc = mrjobs.run_inprocess(mrjobs.wordcount_mapper, mrjobs.sum_reducer, ["a b a", "B"])
    assert wc == {"a": "2", "b": "2"}


def test_percentile_rule():
    assert tail_percentile([float(i) for i in range(19)]) is None
    assert tail_percentile([float(i) for i in range(20)]) == (50, 9.0)
    assert tail_percentile([float(i) for i in range(40)])[0] == 75
    assert tail_percentile([float(i) for i in range(100)]) == (90, 89.0)
    assert tail_percentile([float(i) for i in range(1000)]) == (99, 989.0)
    assert tail_percentile([float(i) for i in range(10000)]) == (99.9, 9989.0)


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span(0, "pass", None, "r", 0.0, 10.0),
        Span(1, "operators.a", 0, "r", 1.0, 5.0),
        Span(2, "sources.scan", 1, "r", 1.5, 2.5),
        Span(3, "sinks.write", 1, "r", 2.0, 3.0),  # overlaps the scan
        Span(4, "operators.b", 0, "r", 6.0, 9.0),
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx({0: 3.0, 1: 2.5, 2: 1.0, 3: 1.0, 4: 3.0})
    # without overlapping siblings, self times add up to the root's span
    assert sum(selfs[i] for i in (0, 1, 2, 4)) + 0.5 == pytest.approx(10.0)


def test_tree_cpu_counts_exited_children():
    before = run.tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run.tree_cpu_s() - before >= 0.25


def test_job_gmean_takes_each_jobs_mean():
    passes = [run.Pass(cpu_times={"a": a, "b": 8.0}) for a in (1.0, 3.0, 2.0)]
    assert run.job_gmean(passes) == pytest.approx(4.0)  # means 2 and 8


def test_materialized_oracles_give_the_same_rows(tmp_path):
    from honors_p1_mapreduce_spark.registry import ORACLES
    from tests.oracle import duckdb_connect

    gen.generate("curation", 4, str(tmp_path), {"docs": 300})
    assert materialized(ORACLES["corpus_clean_funnel"]) != ORACLES["corpus_clean_funnel"]
    con = duckdb_connect(str(tmp_path))
    try:
        for name, _ in CURATION_JOBS:
            if name != PYTHON_TWIN:
                plain = sorted(map(repr, con.execute(ORACLES[name]).fetchall()))
                assert plain, name
                assert sorted(map(repr, con.execute(materialized(ORACLES[name])).fetchall())) == plain, name
    finally:
        con.close()


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    """A tiny run of each workload, checked, with and without tracing."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "0", "--trace", str(trace), "--sizes", json.dumps(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if workload in {w["name"] for w in spec["workloads"]}:
        assert set(result["metrics"]) == set(units)
    else:
        assert set(result["metrics"]) >= set(units)
    assert all(result["metrics"][n]["unit"] == u for n, u in units.items())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
