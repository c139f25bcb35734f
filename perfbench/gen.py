"""Seeded input generator for the benchmark workloads.

Every workload's inputs and its ground truth come from ``--seed``
alone: the same seed and sizes give byte-identical files. Inputs are
written in the layouts the engine reads (text files for the MapReduce
jobs, single-row-group parquet tables named like the engine's
star-schema tables for the operators), and the ground truth is computed here, in
plain Python, independently of the engine.
"""

from __future__ import annotations

import json
import os
import random

from .mrjobs import JOBS, run_inprocess

# Workload sizes. Tests pass smaller ones; the benchmark uses these.
SIZES: dict[str, dict[str, int]] = {
    "mr_jobs": {"word_lines": 20000, "doc_lines": 4000, "log_lines": 8000},
    "curation": {"docs": 600},
    "ann_index": {"vectors": 2000},
}

MALFORMED_SHARE = 0.05  # doc lines without the "doc_id:" prefix
EXACT_DUP_SHARE = 0.04  # documents that repeat an earlier one verbatim
NEAR_DUP_SHARE = 0.06  # documents that lightly edit an earlier one
NEAR_DUP_EDITS = 0.05  # share of words replaced in a near duplicate
EMB_DIM = 64
EMB_CLUSTERS = 16
EMB_NOISE = 0.35

_EN_STOP = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
_OTHER_STOP = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "dans", "une", "des", "du", "qui"),
}
_LEVELS = ("INFO", "WARN", "ERROR", "DEBUG")
_COMPONENTS = ("api", "database", "cache", "worker", "scheduler", "monitor")
_MESSAGES = (
    "request served in {n} ms",
    "connection error on shard {n}",
    "cache miss for key {n}",
    "retrying job {n} after error",
    "heartbeat {n} ok",
    "queue depth {n}",
    "timeout waiting for lock {n}",
    "Error: disk usage at {n} percent",
    "user {n} logged in",
    "flushed {n} records",
)


def _rng(seed: int, stream: str) -> random.Random:
    # str seeds hash through sha512, so streams are stable across runs
    return random.Random(f"{seed}:{stream}")


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct random words; the word of rank ``i`` has ``3 + i % 7``
    letters, so every seed gives text of the same length profile."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(3 + len(words) % 7))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cum(n: int, s: float) -> list[float]:
    cum, total = [], 0.0
    for r in range(1, n + 1):
        total += 1.0 / r**s
        cum.append(total)
    return cum


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


# ------------------------------------------------------------- mr_jobs


def gen_mr_jobs(seed: int, out: str, word_lines: int, doc_lines: int, log_lines: int) -> dict:
    vocab = _vocab(_rng(seed, "vocab"), 600)
    cum = _zipf_cum(len(vocab), 1.1)

    rng = _rng(seed, "words")
    words = [
        " ".join(rng.choices(vocab, cum_weights=cum, k=rng.randint(6, 14)))
        for _ in range(word_lines)
    ]
    rng = _rng(seed, "docs")
    docs = []
    for i in range(doc_lines):
        content = " ".join(rng.choices(vocab, cum_weights=cum, k=rng.randint(10, 30)))
        if rng.random() < MALFORMED_SHARE:
            docs.append(content)  # no "doc_id:" prefix: the mapper raises
        else:
            docs.append(f"doc_{i:06d}: {content}")
    rng = _rng(seed, "logs")
    logs = []
    for i in range(log_lines):
        s = i * 7 + rng.randint(0, 6)
        msg = rng.choice(_MESSAGES).format(n=rng.randint(1, 999))
        logs.append(
            f"2024-03-{1 + s // 86400 % 28:02d} {s // 3600 % 24:02d}:{s // 60 % 60:02d}:{s % 60:02d} "
            f"[{rng.choice(_LEVELS)}] {rng.choice(_COMPONENTS)}: {msg}"
        )
    files = {"words": words, "docs": docs, "logs": logs}
    for name, lines in files.items():
        _write_lines(os.path.join(out, f"{name}.txt"), lines)
    truth = {
        name: run_inprocess(mapper, reducer, files[src.removesuffix(".txt")])
        for name, src, mapper, reducer in JOBS
    }
    truth["malformed_lines"] = sum(1 for line in docs if ":" not in line)
    return {"files": {f"{n}.txt": len(v) for n, v in files.items()}, "truth": truth}


# ------------------------------------------------------------ curation


def _doc_text(rng: random.Random, vocab: list[str], cum: list[float]) -> str:
    lang = rng.choices(("en", "de", "fr"), weights=(8, 1, 1))[0]
    stop = _EN_STOP if lang == "en" else _OTHER_STOP[lang]
    n = rng.randint(40, 110) if rng.random() > 0.1 else rng.randint(3, 12)
    toks = [
        rng.choice(stop) if rng.random() < 0.25 else rng.choices(vocab, cum_weights=cum)[0]
        for _ in range(n)
    ]
    text = " ".join(toks)
    if rng.random() < 0.1:  # punctuation-heavy, low-quality variant
        text = text.replace(" ", " ## ")
    return text[0].upper() + text[1:] + "."


def gen_curation(seed: int, out: str, docs: int) -> dict:
    import pyarrow as pa

    vocab = _vocab(_rng(seed, "cvocab"), 4000)
    cum = _zipf_cum(len(vocab), 0.8)
    rng = _rng(seed, "curation")
    # which documents repeat an earlier one: a fixed number of each kind
    n_exact, n_near = round(docs * EXACT_DUP_SHARE), round(docs * NEAR_DUP_SHARE)
    dup_at = rng.sample(range(docs // 4, docs), min(n_exact + n_near, docs - docs // 4))
    kind = {i: "exact" if n < n_exact else "near" for n, i in enumerate(dup_at)}
    texts: list[str] = []
    exact_pairs: list[list[int]] = []
    near_pairs: list[list[int]] = []
    used: set[int] = set()  # each source is duplicated at most once

    def source(i: int, min_len: int) -> int | None:
        for j in (rng.randrange(i) for _ in range(50)):
            if j not in used and len(texts[j]) > min_len:
                return j
        return None

    for i in range(docs):
        src = source(i, 0 if kind[i] == "exact" else 300) if i in kind else None
        if src is not None and kind[i] == "exact":
            texts.append(texts[src])
            exact_pairs.append([src, i])
            used.update((src, i))
        elif src is not None:
            toks = texts[src].split(" ")
            for _ in range(max(1, int(len(toks) * NEAR_DUP_EDITS))):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts.append(" ".join(toks))
            near_pairs.append([src, i])
            used.update((src, i))
        else:
            texts.append(_doc_text(rng, vocab, cum))
    table = pa.table(
        {
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * docs, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_parquet(table, os.path.join(out, "documents.parquet"))
    return {
        "files": {"documents.parquet": docs},
        "truth": {"exact_pairs": exact_pairs, "near_pairs": near_pairs},
    }


# ----------------------------------------------------------- ann_index


def gen_ann_index(seed: int, out: str, vectors: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    centers = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_CLUSTERS, vectors)
    vecs = centers[labels] + EMB_NOISE * rng.standard_normal((vectors, EMB_DIM)) / np.sqrt(EMB_DIM)
    # unit norm: cosine and squared-L2 rank neighbours identically, so
    # the exact cosine top-k is the recall reference for L2 search
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    _write_parquet(table, os.path.join(out, "embeddings.parquet"))
    return {"files": {"embeddings.parquet": vectors}, "truth": {}}


def _write_parquet(table, path: str) -> None:
    import pyarrow.parquet as pq

    # one row group, like the star-schema tables: a scan is one task
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _write_placeholders(out: str) -> None:
    """Empty files for the star-schema tables a workload does not use,
    so readers that open every table (the DuckDB oracle) find them."""
    import pyarrow as pa

    from honors_p1_mapreduce_spark.sources.tables import TABLES

    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            _write_parquet(pa.table({"id": pa.array([], pa.int64())}), path)


GENERATORS = {"mr_jobs": gen_mr_jobs, "curation": gen_curation, "ann_index": gen_ann_index}


def generate(workload: str, seed: int, out: str, sizes: dict[str, int] | None = None) -> dict:
    """Write ``workload``'s inputs under ``out``; return the manifest:
    rows and bytes per file plus the ground truth."""
    os.makedirs(out, exist_ok=True)
    made = GENERATORS[workload](seed, out, **(sizes or SIZES[workload]))
    made["bytes"] = {f: os.path.getsize(os.path.join(out, f)) for f in made["files"]}
    _write_placeholders(out)
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(made["truth"], f, sort_keys=True)
    return made
