"""The benchmark's three workloads.

Each workload turns the generated inputs into one fixed list of jobs,
a *pass*; the runner submits the jobs one at a time (a closed loop
with one client). A pass starts with ``registry.reset_memos()`` and an
emptied cache, so every pass rebuilds what it builds. Each job returns
its full result, so the work is done inside the job's timing, and
:meth:`check` verifies every pass afterwards, outside any timing.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable, Iterable
from typing import Any

from . import mrjobs

Job = tuple[str, Callable[[], Any]]


def _canon(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(repr(v) for v in r) for r in rows)


class _Collected:
    """A collected result as ``compare_query`` reads a DataFrame: its
    ``columns`` and ``collect()``, without a round trip through Spark."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows = columns, rows

    def collect(self) -> list:
        return self.rows


def _tsv_lines(out_dir: str) -> list[str]:
    lines = []
    for f in os.listdir(out_dir):
        if f.startswith("part-"):
            with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
                lines += fh.read().splitlines()
    return sorted(lines)


class Workload:
    name = ""
    # The first warmup_passes + min_passes passes of the fresh session
    # give the CPU metrics; the passes after the warm-up give the
    # wall-clock figures of the report. The CPU time of a pass keeps
    # falling for twenty passes and more while the JVM compiles the
    # plans' code, and how far the compilers got by a given pass varies
    # from run to run by a fifth; summed from the session's first pass,
    # compiling and not-yet-compiled work even out.
    warmup_passes = 1
    min_passes = 3

    def __init__(self, spark, data_dir: str, work_dir: str, truth: dict, seed: int):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.truth = truth
        self.rng = random.Random(f"{seed}:requests")

    def jobs(self, pass_no: int, traced: bool) -> list[Job]:
        raise NotImplementedError

    def check(self, results: list[dict[str, Any]]) -> list[str]:
        """One message per wrong job result; ``results`` holds one
        {job name: result} dict per pass."""
        raise NotImplementedError

    def layer_metrics(self, results: dict[str, Any], spans: list) -> dict[str, float]:
        """This workload's per-layer metrics for one traced pass."""
        return {}

    def end_to_end(self, times: list[dict[str, float]]) -> dict[str, float]:
        """This workload's own end-to-end metrics from the timed passes'
        {job name: seconds}."""
        return {}


class MrJobs(Workload):
    """wordcount, grep and inverted index as Python mapper/reducer jobs,
    each ``read_text_lines`` -> ``map_reduce`` -> ``write_tsv``."""

    name = "mr_jobs"

    def __init__(self, *a):
        super().__init__(*a)
        sc = self.spark.sparkContext
        self.kv_pairs = sc.accumulator(0)
        self.skipped = sc.accumulator(0)

    def _counting(self, mapper):
        kv, skipped = self.kv_pairs, self.skipped

        def counted(line):
            try:
                pairs = list(mapper(line))
            except Exception:
                skipped.add(1)
                raise
            kv.add(len(pairs))
            return pairs

        return counted

    def jobs(self, pass_no, traced):
        from honors_p1_mapreduce_spark.mapreduce import run_job

        def job(src, mapper, reducer, out):
            return lambda: run_job(self.spark, src, mapper, reducer, out) and out

        return [
            (
                f"mapreduce.run_job.{name}",
                job(
                    os.path.join(self.data, src),
                    self._counting(mapper) if traced else mapper,
                    reducer,
                    os.path.join(self.work, "out", f"p{pass_no}", name),
                ),
            )
            for name, src, mapper, reducer in mrjobs.JOBS
        ]

    def check(self, results):
        """The first pass is read back with ``read_tsv_results`` and
        compared with the generator's answers; every later pass must
        have written the same lines."""
        from honors_p1_mapreduce_spark.sources.text import read_tsv_results

        bad = []
        for job, out in results[0].items() if results else ():
            name = job.rsplit(".", 1)[1]
            got = {r[0]: r[1] for r in read_tsv_results(self.spark, out).collect()}
            if got != self.truth[name]:
                bad.append(f"pass 0 {name}: output differs from the generator's answer")
            first = _tsv_lines(out)
            for pass_no, res in enumerate(results[1:], 1):
                if _tsv_lines(res[job]) != first:
                    bad.append(f"pass {pass_no} {name}: differs from pass 0")
        return bad

    def layer_metrics(self, results, spans):
        m = {"mapreduce.kv_pairs": self.kv_pairs.value, "mapreduce.skipped_lines": self.skipped.value}
        self.kv_pairs.value = self.skipped.value = 0  # counted per traced pass
        return m


# registry name -> span name for the curation jobs; the span's
# duration is the per-layer metric "<span name>_s"
CURATION_JOBS = (
    ("corpus_clean_funnel", "operators.funnel"),
    ("winnow_neardup", "operators.neardup"),
    ("dedup_minhash_portable", "operators.minhash"),
    ("dedup_exact", "operators.exact_dedup"),
    ("wordcount", "operators.wordcount"),
    ("inverted_index", "operators.inverted_index"),
)
# Checked against the Python twin below, not the DuckDB one: the
# DuckDB twin of the minhash query takes ~30 s per check at these
# sizes, longer than a whole run may take.
PYTHON_TWIN = "dedup_minhash_portable"


def materialized(oracle: str) -> str:
    """``oracle`` with each of its common table expressions computed
    once. DuckDB 1.0 inlines a CTE at every reference, so the funnel's
    twin computes its features five times (5.4 s against 0.7 s at the
    benchmark's size); the rows are the same."""
    import re

    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", oracle)


def minhash_portable_pairs(docs: Iterable[tuple[int, str]]) -> list[tuple[int, int, float]]:
    """Plain-Python twin of ``dedup.dedup_minhash_portable`` at its
    defaults: 5-word shingles, the md5 Kirsch-Mitzenmacher hash family,
    banded candidates, signature Jaccard >= 0.2."""
    import hashlib
    import re
    from collections import defaultdict

    import numpy as np

    from honors_p1_mapreduce_spark.operators.dedup import N_BANDS, N_HASHES

    def portable_hash(salt: str, text: str, hex_len: int) -> int:
        return int(hashlib.md5(f"{salt}|{text}".encode()).hexdigest()[:hex_len], 16)

    rows = N_HASHES // N_BANDS
    sigs: dict[int, list[int]] = {}
    for doc_id, text in docs:
        toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
        shingles = {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
        if not shingles:
            continue
        p1 = np.array([portable_hash("mh1", sh, 15) for sh in shingles], dtype=np.int64)
        p2 = np.array([portable_hash("mh2", sh, 13) for sh in shingles], dtype=np.int64)
        # p1 < 2**60 and i * p2 < 2**57: no int64 overflow
        h = (p1[None, :] + np.arange(N_HASHES, dtype=np.int64)[:, None] * p2[None, :]) % (1 << 60)
        sigs[doc_id] = h.min(axis=1).tolist()
    buckets: defaultdict[tuple, list[int]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        for b in range(N_BANDS):
            buckets[(b, tuple(sig[b * rows : (b + 1) * rows]))].append(doc_id)
    cands = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    out = []
    for a, b in sorted(cands):
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / float(N_HASHES)
        if est >= 0.2:
            out.append((a, b, est))
    return out


class Curation(Workload):
    """Corpus-curation operators over a ``documents`` table with known
    shares of injected exact and near duplicates."""

    name = "curation"

    def jobs(self, pass_no, traced):
        from honors_p1_mapreduce_spark.registry import QUERIES

        def job(query):
            def run():
                df = query(self.spark, self.data)
                return df.columns, df.collect()

            return run

        return [(span, job(QUERIES[name])) for name, span in CURATION_JOBS]

    def check(self, results):
        import pyarrow.parquet as pq

        from honors_p1_mapreduce_spark.registry import ORACLES
        from tests.oracle import compare_query

        bad = []
        for name, span in CURATION_JOBS if results else ():
            columns, rows = results[0][span]
            first = _canon(rows)
            if name == PYTHON_TWIN:
                docs = pq.read_table(f"{self.data}/documents.parquet", columns=["doc_id", "text"])
                if first != _canon(minhash_portable_pairs(zip(*docs.to_pydict().values()))):
                    bad.append(f"pass 0 {name}: differs from its Python twin")
            else:
                try:
                    compare_query(
                        self.spark, self.data, lambda _s, _d: _Collected(columns, rows), materialized(ORACLES[name])
                    )
                except AssertionError as e:
                    bad.append(f"pass 0 {name}: {e}")
            for pass_no, res in enumerate(results[1:], 1):
                if _canon(res[span][1]) != first:
                    bad.append(f"pass {pass_no} {name}: differs from pass 0")
        return bad

    def layer_metrics(self, results, spans):
        pairs = {(r["doc_a"], r["doc_b"]) for r in results["operators.neardup"][1]}
        injected = [tuple(p) for p in self.truth["near_pairs"]]
        found = sum(1 for p in injected if p in pairs)
        m = {f"{s.name}_s": s.duration for s in spans if s.layer == "operators"}
        m["operators.neardup_pairs"] = len(pairs)
        m["operators.neardup_recall"] = found / len(injected) if injected else 1.0
        return m


class AnnIndex(Workload):
    """A cold PQ index build, then a closed loop of searches against the
    stored index with seeded ``k`` and ``shortlist``."""

    name = "ann_index"
    REQUESTS = 6  # searches per pass
    K = (5, 10)
    SHORTLIST = (20, 50)

    def __init__(self, *a):
        super().__init__(*a)
        self.requests = [
            (self.rng.choice(self.K), self.rng.choice(self.SHORTLIST)) for _ in range(self.REQUESTS)
        ]
        self.index_dir = os.path.join(self.work, "pq_index")
        self.exact: dict[int, dict[int, set[int]]] = {}  # k -> query -> exact top-k

    def jobs(self, pass_no, traced):
        from honors_p1_mapreduce_spark.operators import pq

        def search(k, shortlist):
            def run():
                df = pq.pq_search_index(self.spark, self.data, self.index_dir, k=k, shortlist=shortlist)
                return df.columns, df.collect()

            return run

        build = ("operators.pq_build", lambda: pq.pq_write_index(self.spark, self.data, self.index_dir))
        return [build] + [
            (f"operators.pq_search.{i}", search(k, sl)) for i, (k, sl) in enumerate(self.requests)
        ]

    def end_to_end(self, times):
        import statistics

        return {
            "build_s": statistics.median(t["operators.pq_build"] for t in times),
            "search_s_p50": statistics.median(
                s for t in times for name, s in t.items() if name.startswith("operators.pq_search.")
            ),
        }

    def check(self, results):
        from honors_p1_mapreduce_spark.operators.pq import similarity_pq_rerank_topk_oracle
        from tests.oracle import compare_query

        bad = []
        checked: dict[tuple[int, int], list] = {}
        for pass_no, res in enumerate(results):
            for i, (k, sl) in enumerate(self.requests):
                columns, rows = res[f"operators.pq_search.{i}"]
                if (k, sl) not in checked:
                    try:
                        compare_query(
                            self.spark,
                            self.data,
                            lambda _s, _d: _Collected(columns, rows),
                            similarity_pq_rerank_topk_oracle(k=k, shortlist=sl),
                        )
                    except AssertionError as e:
                        bad.append(f"pass {pass_no} search k={k} shortlist={sl}: {e}")
                    checked[(k, sl)] = _canon(rows)
                elif _canon(rows) != checked[(k, sl)]:
                    bad.append(f"pass {pass_no} search k={k} shortlist={sl}: differs from its first answer")
        return bad

    def layer_metrics(self, results, spans):
        """Build and search times, and recall@k of the stored-index
        search against the exact top-k."""
        import statistics

        from honors_p1_mapreduce_spark.operators.similarity import similarity_topk

        hits = total = 0
        for i, (k, _sl) in enumerate(self.requests):
            if k not in self.exact:
                self.exact[k] = {}
                for r in similarity_topk(self.spark, self.data, k=k).collect():
                    self.exact[k].setdefault(r["query_id"], set()).add(r["vec_id"])
            for r in results[f"operators.pq_search.{i}"][1]:
                hits += r["vec_id"] in self.exact[k].get(r["query_id"], ())
            total += sum(len(v) for v in self.exact[k].values())
        searches = [s.duration for s in spans if s.name.startswith("operators.pq_search.")]
        return {
            "operators.pq_build_s": sum(s.duration for s in spans if s.name == "operators.pq_build"),
            "operators.pq_search_s": statistics.median(searches),
            "operators.pq_recall_at_k": hits / total if total else 0.0,
        }


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (MrJobs, Curation, AnnIndex)}
