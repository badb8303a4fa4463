"""SessionMemo: one LRU policy, scoped per Spark application, for every
memoized Column tree and census. Runs without a JVM: the memo reads only
``spark.sparkContext.applicationId``."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from jsonl_dataingestion_pipeline_spark.operators.common import SessionMemo


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _keys(memo: SessionMemo) -> set:
    return {key for _, key in memo._entries}


def test_cap_is_exact_and_lru_evicts_oldest_untouched():
    memo = SessionMemo(cap=256)
    spark = _app("app-1")
    for i in range(257):
        memo.get(spark, ("k", i), lambda i=i: i)
    # steady-state capacity is exactly the cap; the oldest entry went
    assert len(memo._entries) == 256
    assert ("k", 0) not in _keys(memo)
    # a hit moves the entry to the end, so the next insert evicts the
    # least recently used entry instead of it
    assert memo.get(spark, ("k", 1), lambda: pytest.fail("hit must not build")) == 1
    memo.get(spark, ("k", 257), lambda: 257)
    assert len(memo._entries) == 256
    assert ("k", 1) in _keys(memo)
    assert ("k", 2) not in _keys(memo)
    assert ("k", 256) in _keys(memo)


def test_other_application_misses():
    memo = SessionMemo()
    built = []

    def build():
        built.append(1)
        return object()

    first = memo.get(_app("app-1"), "key", build)
    assert memo.get(_app("app-1"), "key", build) is first
    second = memo.get(_app("app-2"), "key", build)
    assert second is not first
    assert len(built) == 2


def test_failed_build_caches_nothing():
    memo = SessionMemo()
    spark = _app("app-1")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.get(spark, "key", boom)
    assert len(memo._entries) == 0
    assert memo.get(spark, "key", lambda: 7) == 7
