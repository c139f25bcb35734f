"""The session memos: every module-level ``*_CACHE`` dict in the
package is a registered memo store, and ``registry.reset_memos``
clears them all. Spark-free: no session is started."""

from __future__ import annotations

import importlib
import pkgutil
from types import SimpleNamespace

import honors_p1_mapreduce_spark as pkg
from honors_p1_mapreduce_spark import memo, registry


def _cache_dicts() -> dict[str, dict]:
    found = {}
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if info.name.endswith("__main__"):
            continue
        mod = importlib.import_module(info.name)
        for name, value in vars(mod).items():
            if name.endswith("_CACHE") and isinstance(value, dict):
                found[f"{info.name.rsplit('.', 1)[-1]}.{name}"] = value
    return found


def test_every_cache_dict_is_a_store_cleared_by_reset_memos():
    caches = _cache_dicts()
    assert {
        "bpe._MERGES_CACHE",
        "bpe._SYMS_CACHE",
        "bpe_encode._WORD_IDS_CACHE",
        "pq._CODEBOOK_CACHE",
        "winnow._FP_CACHE",
        "lm_quality._READ_FRAMES_CACHE",
        "tables._SCHEMA_CACHE",
    } <= set(caches)
    unregistered = [
        name
        for name, cache in caches.items()
        if not any(cache is store for store in memo._STORES)
    ]
    assert not unregistered
    for name, cache in caches.items():
        key = ("test", name)
        assert memo.get_or_build(cache, key, lambda: name) == name
        assert memo.get_or_build(cache, key, lambda: "rebuilt") == name
    registry.reset_memos()
    assert not any(caches.values())


def test_key_is_application_corpus_snapshot_params():
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    assert memo.key(spark, "/no/such/corpus", 8, 2) == (
        "app-1",
        "/no/such/corpus",
        memo.corpus_token("/no/such/corpus"),
        8,
        2,
    )
