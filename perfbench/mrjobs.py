"""The reference's three MapReduce jobs as plain ``mapper``/``reducer``
functions (the engine's user-code contract, ``mapreduce.map_reduce``),
plus an in-process runner that computes their exact answers without
the engine.

A mapper that raises skips its line, as the reference worker does; the
inverted-index mapper raises on a line without the ``doc_id:`` prefix.
"""

from __future__ import annotations

import re
from collections import defaultdict
from collections.abc import Callable, Iterable

WORD_RE = re.compile(r"\b\w+\b")
GREP_PATTERN = "error"


def wordcount_mapper(line: str) -> Iterable[tuple[str, int]]:
    for w in WORD_RE.findall(line.lower()):
        yield w, 1


def sum_reducer(key: str, values: list[str]) -> Iterable[tuple[str, int]]:
    yield key, sum(int(v) for v in values)


def grep_mapper(line: str) -> Iterable[tuple[str, int]]:
    """Count lines matching the pattern per ``LEVEL:component``."""
    if GREP_PATTERN in line.lower():
        _, _, level, component = line.split(" ", 4)[:4]
        yield f"{level.strip('[]')}:{component.rstrip(':')}", 1


def inverted_index_mapper(line: str) -> Iterable[tuple[str, str]]:
    doc_id, content = line.split(":", 1)  # ValueError on a malformed line
    for w in set(WORD_RE.findall(content.lower())):
        if len(w) > 2:
            yield w, doc_id.strip()


def doc_list_reducer(key: str, values: list[str]) -> Iterable[tuple[str, str]]:
    yield key, ",".join(sorted(set(values)))


# (job name, input file, mapper, reducer)
JOBS: tuple[tuple[str, str, Callable, Callable], ...] = (
    ("wordcount", "words.txt", wordcount_mapper, sum_reducer),
    ("grep", "logs.txt", grep_mapper, sum_reducer),
    ("inverted_index", "docs.txt", inverted_index_mapper, doc_list_reducer),
)


def run_inprocess(mapper: Callable, reducer: Callable, lines: Iterable[str]) -> dict[str, str]:
    """The job's exact answer: mapper per line (raising lines skipped),
    values grouped by key, reducer per key, everything ``str()``-ed."""
    groups: defaultdict[str, list[str]] = defaultdict(list)
    for line in lines:
        try:
            pairs = [(str(k), str(v)) for k, v in mapper(line)]
        except Exception:
            continue
        for k, v in pairs:
            groups[k].append(v)
    return {str(k): str(v) for key, vals in groups.items() for k, v in reducer(key, vals)}
