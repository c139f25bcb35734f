"""CLI client lifecycle: submit → results → query (SURVEY.md §3)."""

from __future__ import annotations

from honors_p1_mapreduce_spark.__main__ import main

MAPPER_SRC = """
def wc_map(line):
    for w in line.split():
        yield w.lower(), 1
"""

REDUCER_SRC = """
def wc_reduce(key, values):
    yield key, sum(int(v) for v in values)
"""


def test_cli_submit_results_roundtrip(spark, tmp_path, capsys):
    (tmp_path / "mr.py").write_text(MAPPER_SRC + REDUCER_SRC)
    inp = tmp_path / "input.txt"
    inp.write_text("apple banana apple\nbanana apple\n")

    # default num_maps/num_reduces (one task), then a shuffled job
    for i, extra in enumerate(([], ["--num-reduces", "2"])):
        out = tmp_path / f"out{i}"
        main(
            [
                "submit",
                "--input", str(inp),
                "--mapper", f"{tmp_path}/mr.py:wc_map",
                "--reducer", f"{tmp_path}/mr.py:wc_reduce",
                "--output", str(out),
                *extra,
            ]
        )
        capsys.readouterr()
        main(["results", str(out)])
        got = dict(
            line.split("\t") for line in capsys.readouterr().out.strip().splitlines()
        )
        assert got == {"apple": "3", "banana": "2"}


def test_cli_query_list_and_run(sf_dir, spark, capsys):
    main(["query", "--list"])
    listing = capsys.readouterr().out
    assert "wordcount\toracle" in listing
    assert "dedup_minhash\trows-only" in listing

    main(["query", "wordcount_topk", "--sf-dir", sf_dir, "--limit", "5"])
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5 and all("\t" in line for line in out)


def test_driver_window_rows_only_queries_are_sanctioned():
    """Every registered query has a DuckDB twin except the five
    sanctioned rows-only twins: the numpy hash/ANN families and the
    approx_percentile winsorize twin. Each of those has an
    oracle-green exact sibling and an agreement or recall pytest. A
    new query cannot ship without an oracle unless it joins this set
    here, and no oracle may name an unregistered query."""
    from honors_p1_mapreduce_spark import registry

    sanctioned = {
        "dedup_minhash",
        "embedding_neardup",
        "events_winsorized_stats_fast",
        "semantic_dedup_fast",
        "similarity_ann_topk",
    }
    assert set(registry.QUERIES) - set(registry.ORACLES) == sanctioned
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_cli_query_describe(capsys):
    """--describe prints every registered query's module.qualname and
    docstring without a Spark job."""
    import inspect

    from honors_p1_mapreduce_spark import registry
    from honors_p1_mapreduce_spark.__main__ import main

    for name, fn in registry.QUERIES.items():
        main(["query", name, "--describe"])
        out = capsys.readouterr().out
        assert f"{name} ({fn.__module__}.{fn.__qualname__})" in out
        assert (inspect.getdoc(fn) or "(no docstring)") in out
