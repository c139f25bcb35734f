"""Command-line client — the reference's ``client.py`` lifecycle
(SURVEY.md §3) re-expressed over the Spark engine.

Entry points:
  submit   — run a MapReduce job: text input + user mapper/reducer
             (loaded from ``file.py:function`` specs, the analog of
             the reference shipping mapper/reducer source to workers,
             mr/client/client.py:52-72) → sorted TSV output dir.
  results  — print a job's output TSV, optionally limited
             (mr/client/client.py:120-142).
  query    — run any registered analytics query by name (the surface
             the reference doesn't have; ``--list`` enumerates).

``status`` has no cross-process analog here: local-mode Spark jobs
live inside the submitting process, so progress is the in-process
``runtime.status(spark)`` surface rather than a coordinator RPC
(mr/client/client.py:87-118 polls a daemon; SURVEY.md §3 entry 2).
"""

from __future__ import annotations

import argparse
import importlib.util
import sys
from pathlib import Path
from typing import Callable


def _load_fn(spec: str) -> Callable:
    """Load ``path/to/file.py:function_name`` (or ``module:function``)."""
    mod_part, _, fn_name = spec.rpartition(":")
    if not mod_part:
        raise SystemExit(f"bad function spec {spec!r}: want 'file.py:func'")
    if mod_part.endswith(".py"):
        path = Path(mod_part)
        spec_obj = importlib.util.spec_from_file_location(path.stem, path)
        assert spec_obj and spec_obj.loader
        mod = importlib.util.module_from_spec(spec_obj)
        spec_obj.loader.exec_module(mod)
    else:
        mod = importlib.import_module(mod_part)
    return getattr(mod, fn_name)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="honors_p1_mapreduce_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("submit", help="run a mapper/reducer job on a text file")
    s.add_argument("--input", required=True)
    s.add_argument("--mapper", required=True, help="file.py:function")
    s.add_argument("--reducer", required=True, help="file.py:function")
    s.add_argument("--output", required=True)
    s.add_argument("--num-maps", type=int, default=None)
    s.add_argument("--num-reduces", type=int, default=None)

    r = sub.add_parser("results", help="print a job's TSV output")
    r.add_argument("dir")
    r.add_argument("--limit", type=int, default=None)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("name", nargs="?")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--list", action="store_true")
    q.add_argument(
        "--describe",
        action="store_true",
        help="print the operator's docstring instead of running it",
    )

    args = p.parse_args(argv)

    from honors_p1_mapreduce_spark import registry
    from honors_p1_mapreduce_spark.session import get_spark

    if args.cmd == "query" and args.list:
        for name in sorted(registry.QUERIES):
            kind = "oracle" if name in registry.ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return
    if args.cmd == "query" and args.describe:
        if not args.name or args.name not in registry.QUERIES:
            raise SystemExit("query --describe: known name required")
        import inspect

        fn = registry.QUERIES[args.name]
        print(f"{args.name} ({fn.__module__}.{fn.__qualname__})")
        print(inspect.getdoc(fn) or "(no docstring)")
        return

    spark = get_spark(app_name=f"cli-{args.cmd}")
    if args.cmd == "submit":
        from honors_p1_mapreduce_spark.mapreduce import run_job

        run_job(
            spark,
            args.input,
            _load_fn(args.mapper),
            _load_fn(args.reducer),
            args.output,
            num_maps=args.num_maps,
            num_reduces=args.num_reduces,
        )
        print(f"done: {args.output}")
    elif args.cmd == "results":
        from honors_p1_mapreduce_spark.sources.text import read_tsv_results

        for row in read_tsv_results(spark, args.dir, limit=args.limit).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    elif args.cmd == "query":
        if not args.name:
            raise SystemExit("query: name required (or --list)")
        if args.name not in registry.QUERIES:
            raise SystemExit(
                f"unknown query {args.name!r} — run 'query --list' for the "
                f"{len(registry.QUERIES)} registered names"
            )
        df = registry.QUERIES[args.name](spark, args.sf_dir)
        try:
            for row in df.limit(args.limit).collect():
                print("\t".join(str(v) for v in row))
        finally:
            # operators persist() intermediates for their own
            # multi-consumer plans and leave cleanup to the caller
            # that materializes the result (same contract perfbench
            # honors) — drop them so repeated CLI queries in one
            # session don't accumulate cached frames; reset_memos
            # also releases the build-once artifacts and the enrolled
            # LM read-path frames (r12), which survive clearCache's
            # reference drop as module-held objects
            spark.catalog.clearCache()
            registry.reset_memos()


if __name__ == "__main__":
    main()
