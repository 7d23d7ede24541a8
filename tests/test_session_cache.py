"""The one session-scoped memo (`session.session_cached`): its keying
and bound on stub sessions, and — because the bound or a release can
rebuild a substrate in the middle of a session — that every cached
data substrate rebuilds to exactly the rows it served from the cache.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from kafka2clickhouse_py_streamer_spark import session
from kafka2clickhouse_py_streamer_spark.llm.dedup import d07_dedup_clusters
from kafka2clickhouse_py_streamer_spark.llm.multimodal import (
    m08_media_canonical,
    phash_hashes,
)
from kafka2clickhouse_py_streamer_spark.llm.similarity import (
    _base,
    _train_centroids,
    derived_planes,
    knn_graph,
)
from kafka2clickhouse_py_streamer_spark.session import (
    release_session_cache,
    session_cached,
)


def _stub(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Builder:
    def __init__(self, value):
        self.value, self.calls = value, 0

    def __call__(self):
        self.calls += 1
        return self.value


@pytest.fixture
def store(monkeypatch):
    # a private store, so these tests neither see nor drop the real
    # session's cached substrates
    monkeypatch.setattr(session, "_SESSION_CACHE", {})
    return session._SESSION_CACHE


def test_builds_once_per_key(store):
    a = _stub("app-a")
    build = _Builder(["v"])
    assert session_cached(a, ("k", "d"), build) is build.value
    assert session_cached(a, ("k", "d"), build) is build.value
    assert build.calls == 1
    other = _Builder(["w"])
    assert session_cached(a, ("k", "d2"), other) == ["w"]
    assert other.calls == 1 and build.calls == 1
    assert set(store) == {("app-a", "k", "d"), ("app-a", "k", "d2")}


def test_application_ids_get_separate_entries(store):
    one, two = _Builder(1), _Builder(2)
    assert session_cached(_stub("app-a"), ("k",), one) == 1
    assert session_cached(_stub("app-b"), ("k",), two) == 2
    assert session_cached(_stub("app-a"), ("k",), two) == 1
    assert (one.calls, two.calls) == (1, 1)


def test_insert_past_bound_clears_store(store):
    a = _stub("app-a")
    cap = session._SESSION_CACHE_MAX
    assert cap == 64
    first = _Builder("first")
    session_cached(a, (0,), first)
    for i in range(1, cap + 1):
        session_cached(a, (i,), _Builder(i))
    # the store may hold cap + 1 entries; nothing was dropped yet
    assert len(store) == cap + 1
    session_cached(a, (0,), first)
    assert first.calls == 1
    # the next new key finds more than cap entries: clear, then insert
    session_cached(a, (cap + 1,), _Builder("new"))
    assert set(store) == {("app-a", cap + 1)}
    session_cached(a, (0,), first)
    assert first.calls == 2


def test_release_returns_count_and_next_call_rebuilds(store):
    a = _stub("app-a")
    build = _Builder("v")
    session_cached(a, ("x",), build)
    session_cached(a, ("y",), _Builder("w"))
    assert release_session_cache() == 2
    assert not store
    assert release_session_cache() == 0
    session_cached(a, ("x",), build)
    assert build.calls == 2


SUBSTRATES = {
    "planes": derived_planes,
    "centroids": lambda spark, d: _train_centroids(_base(spark, d), d),
    "knn_graph": knn_graph,
    "cc_labels": d07_dedup_clusters,  # served from _cc_labels
    "phash": phash_hashes,
    "media_cc_labels": m08_media_canonical,  # served from _media_cc_labels
}


def _rows(value):
    if hasattr(value, "collect"):
        return sorted(tuple(r) for r in value.collect())
    return value


@pytest.mark.parametrize("name", sorted(SUBSTRATES))
def test_substrate_rebuild_after_release_is_exact(spark, sf_dir, name):
    get = SUBSTRATES[name]
    get(spark, sf_dir)  # built (or already cached)
    n_before = len(session._SESSION_CACHE)
    cached = _rows(get(spark, sf_dir))
    # the second call was served: no new entry, no rebuild
    assert len(session._SESSION_CACHE) == n_before
    assert release_session_cache() >= 1
    rebuilt = _rows(get(spark, sf_dir))
    assert rebuilt == cached
    assert rebuilt  # a non-empty substrate, so equality means something
