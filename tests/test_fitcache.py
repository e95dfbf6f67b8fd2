"""Scope-LRU bound on the per-(session, dataset) fit caches (VERDICT r8
item 7): module-global caches of persisted DataFrames must shed whole
datasets a long-lived driver has moved past, unpersisting their blocks on
evict — and the scale_probe purge path (plain .clear()) must keep working.
``dataset_cached`` keys every entry of the one store on (applicationId,
sf_dir, function, bound params).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from drive_health_etl_spark.operators import fitcache
from drive_health_etl_spark.operators.fitcache import FitCache, dataset_cached


class FakeDF:
    def __init__(self):
        self.persisted = True

    def unpersist(self):
        self.persisted = False


def test_scope_lru_evicts_oldest_scope_and_unpersists():
    c = FitCache(max_scopes=2)
    a1, a2, b1, c1 = FakeDF(), FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a1)
    c.get_or_build(("app", "sfA", "y"), lambda: a2)
    c.get_or_build(("app", "sfB", "x"), lambda: b1)
    assert a1.persisted and a2.persisted and b1.persisted
    # third scope: sfA (oldest) evicts wholesale, both entries unpersisted
    c.get_or_build(("app", "sfC", "x"), lambda: c1)
    assert not a1.persisted and not a2.persisted
    assert b1.persisted and c1.persisted
    assert ("app", "sfA", "x") not in c and ("app", "sfA", "y") not in c
    assert ("app", "sfB", "x") in c and ("app", "sfC", "x") in c


def test_touch_refreshes_lru_order():
    c = FitCache(max_scopes=2)
    a, b, d = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a)
    c.get_or_build(("app", "sfB", "x"), lambda: b)
    # re-touch sfA: sfB becomes the LRU scope
    c.get_or_build(("app", "sfA", "x"), lambda: FakeDF())
    c.get_or_build(("app", "sfC", "x"), lambda: d)
    assert a.persisted and not b.persisted and d.persisted


def test_eviction_survives_unpersist_errors():
    class Dead:
        def unpersist(self):
            raise RuntimeError("session stopped")

    c = FitCache(max_scopes=1)
    c.get_or_build(("app", "sfA", "x"), lambda: Dead())
    fresh = FakeDF()
    c.get_or_build(("app", "sfB", "x"), lambda: fresh)  # must not raise
    assert list(c) == [("app", "sfB", "x")]
    assert fresh.persisted


def test_composite_tuple_values_unpersist_each_element():
    # graph's node-set cache stores (DataFrame, count) pairs; eviction must
    # free the DataFrame's blocks despite the tuple wrapper
    c = FitCache(max_scopes=1)
    df = FakeDF()
    c.get_or_build(("app", "sfA", "nodes"), lambda: (df, 42))
    c.get_or_build(("app", "sfB", "x"), lambda: FakeDF())
    assert not df.persisted


def test_non_unpersistable_values_are_just_dropped():
    c = FitCache(max_scopes=1)
    c.get_or_build(("app", "sfA"), lambda: [1.0, 2.0])  # plain fit weights
    c.get_or_build(("app", "sfB"), lambda: [3.0])
    assert ("app", "sfA") not in c


def test_clear_drops_without_unpersist_for_session_recycle():
    # scale_probe recycles sessions and purges the store via .clear();
    # the handles belong to a dead JVM, so clear must NOT call unpersist
    c = FitCache(max_scopes=4)

    class Boom:
        def unpersist(self):
            raise AssertionError("clear must not unpersist")

    c.get_or_build(("app", "sfA"), lambda: Boom())
    c.clear()
    assert len(c) == 0
    # and the LRU order reset: refilling works from scratch
    fresh = FakeDF()
    c.get_or_build(("app", "sfB"), lambda: fresh)
    assert ("app", "sfB") in c


def test_delete_drops_empty_scope_from_lru_order():
    # ADVICE r9: plain deletion must not leave a dead scope occupying an
    # LRU slot — after removing a scope's last key, a full complement of
    # NEW scopes must fit without evicting a live one.
    c = FitCache(max_scopes=2)
    a, b, d = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a)
    c.get_or_build(("app", "sfB", "x"), lambda: b)
    del c[("app", "sfA", "x")]
    assert c._scope_order == [("app", "sfB")]
    c.get_or_build(("app", "sfC", "x"), lambda: d)
    assert b.persisted and d.persisted  # sfB survived: sfA's slot was freed
    # pop maintains the order list the same way (and returns the value)
    assert c.pop(("app", "sfB", "x")) is b
    assert c._scope_order == [("app", "sfC")]
    assert c.pop(("missing",), "dflt") == "dflt"


def test_delete_keeps_scope_while_siblings_remain():
    c = FitCache(max_scopes=2)
    c.get_or_build(("app", "sfA", "x"), lambda: FakeDF())
    c.get_or_build(("app", "sfA", "y"), lambda: FakeDF())
    del c[("app", "sfA", "x")]
    assert c._scope_order == [("app", "sfA")]  # sibling still lives


def test_purge_unpersists_and_maintains_order():
    # the stale-session sweep path of dataset_cached
    c = FitCache(max_scopes=4)
    old1, old2, live = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app1", "sfA", "png"), lambda: old1)
    c.get_or_build(("app1", "sfA", "gif"), lambda: old2)
    c.get_or_build(("app2", "sfA", "png"), lambda: live)
    n = c.purge(lambda k: k[0] != "app2")
    assert n == 2
    assert not old1.persisted and not old2.persisted and live.persisted
    assert list(c) == [("app2", "sfA", "png")]
    assert c._scope_order == [("app2", "sfA")]


def test_concurrent_touch_and_build_is_race_free():
    # ADVICE r9 (medium): rehearsal pools hit the module-global caches from
    # 6+ threads; unsynchronized check-then-remove raced (ValueError /
    # RuntimeError). Hammer one cache from many threads across overlapping
    # scopes and assert zero exceptions and exact bookkeeping.
    import threading

    c = FitCache(max_scopes=3)
    errors = []
    barrier = threading.Barrier(8)

    def worker(tid):
        try:
            barrier.wait()
            for i in range(300):
                scope = f"sf{(tid + i) % 6}"
                c.get_or_build(("app", scope, i % 4), lambda: FakeDF())
                if i % 7 == 0:
                    c.pop(("app", scope, i % 4), None)
                if i % 11 == 0:
                    c.purge(lambda k: k[1] == f"sf{(tid + i + 3) % 6}")
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    with c._lock:
        live_scopes = {c._scope(k) for k in c}
        assert len(c._scope_order) <= 3
        assert live_scopes <= set(c._scope_order)
        assert len(set(c._scope_order)) == len(c._scope_order)


def test_get_or_build_race_keeps_first_value():
    # two threads missing the same key concurrently: exactly one value is
    # retained; the loser's fresh DataFrame is unpersisted, not leaked
    import threading

    c = FitCache(max_scopes=4)
    built = []
    gate = threading.Barrier(2)

    def build():
        df = FakeDF()
        built.append(df)
        gate.wait()  # force both threads to finish building before storing
        return df

    threads = [
        threading.Thread(
            target=lambda: c.get_or_build(("app", "sfA", "k"), build))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(built) == 2
    winner = c[("app", "sfA", "k")]
    assert winner in built
    loser = built[0] if built[1] is winner else built[1]
    assert winner.persisted and not loser.persisted


def test_dedup_subtree_cache_sweep_frees_old_blocks(spark, monkeypatch):
    """End-to-end on a real persisted relation: sweeping a second sf_dir
    past the scope bound unpersists the first dataset's cached subtree."""
    monkeypatch.setattr(fitcache, "STORE", FitCache(max_scopes=1))

    @dataset_cached
    def probe(spark, sf_dir):
        return spark.range(10 if sf_dir.endswith("A") else 20).persist()

    df1 = probe(spark, "/fake/dirA")
    assert df1.storageLevel.useMemory  # persisted while its scope lives
    assert probe(spark, "/fake/dirA") is df1  # warm call: the same relation
    df2 = probe(spark, "/fake/dirB")
    assert not df1.storageLevel.useMemory  # evicted AND unpersisted
    assert df2.storageLevel.useMemory
    assert len(fitcache.STORE) == 1
    probe.cache_clear()
    assert not df2.storageLevel.useMemory and len(fitcache.STORE) == 0


def test_get_or_build_reregisters_scope_evicted_during_build():
    """ADVICE r10: touch() runs before the build, so concurrent touches can
    evict the building scope mid-build; the store must re-register the
    scope (and re-apply the bound) so dict contents and _scope_order never
    diverge and the entry stays under LRU control."""
    c = FitCache(max_scopes=2)

    def build():
        # while "sfA" builds, two other scopes touch in and evict it
        c.touch(("app", "sfB", "k"))
        c.touch(("app", "sfC", "k"))
        assert ("app", "sfA") not in c._scope_order
        return FakeDF()

    v = c.get_or_build(("app", "sfA", "k"), build)
    with c._lock:
        # stored entry's scope is back in the LRU list...
        assert ("app", "sfA") in c._scope_order
        # ...the bound still holds (oldest of B/C was evicted to make room)
        assert len(c._scope_order) <= 2
        assert {c._scope(k) for k in c} <= set(c._scope_order)
    assert c[("app", "sfA", "k")] is v
    # and a later scope storm can actually evict it (it is LRU-tracked)
    e1, e2 = FakeDF(), FakeDF()
    c.get_or_build(("app", "sfD", "k"), lambda: e1)
    c.get_or_build(("app", "sfE", "k"), lambda: e2)
    assert ("app", "sfA", "k") not in c
    assert not v.persisted


class FakeSpark:
    """Just enough of a SparkSession for the decorator's key."""

    def __init__(self, app="app-1"):
        self.sparkContext = type("SC", (), {"applicationId": app})()


@pytest.fixture
def store(monkeypatch):
    s = FitCache()
    monkeypatch.setattr(fitcache, "STORE", s)
    return s


def test_dataset_cached_refuses_unkeyable_params(spark, store):
    # a DataFrame hashes by identity, so only a type check can refuse it;
    # a list or dict would key on contents the builder may not own
    @dataset_cached
    def fit(spark, sf_dir, x=None):
        return FakeDF()

    for bad in (spark.range(1), [1, 2], {"k": 1}):
        with pytest.raises(TypeError):
            fit(spark, "/sf", bad)
    assert len(store) == 0
    fit(FakeSpark(), "/sf", 1.5)  # scalars are fine
    fit(FakeSpark(), "/sf", True)
    assert len(store) == 2


def test_dataset_cached_binds_defaults_into_the_key(store):
    n_cells = 16
    built = []

    @dataset_cached
    def centroids(spark, sf_dir, k=n_cells):
        built.append(k)
        return FakeDF()

    sp = FakeSpark()
    a = centroids(sp, "/sf")
    assert centroids(sp, "/sf", k=n_cells) is a
    assert centroids(sp, "/sf", n_cells) is a
    b = centroids(sp, "/sf", k=8)
    assert b is not a
    assert built == [n_cells, 8] and len(store) == 2


def test_dataset_cached_functions_do_not_collide(store):
    @dataset_cached
    def left(spark, sf_dir, q=3):
        return ["left", q]

    @dataset_cached
    def right(spark, sf_dir, q=3):
        return ["right", q]

    sp = FakeSpark()
    assert left(sp, "/sf") == ["left", 3]
    assert right(sp, "/sf") == ["right", 3]
    assert left(sp, "/sf") == ["left", 3]
    assert len(store) == 2
    right.cache_clear()
    assert len(store) == 1 and left(sp, "/sf") == ["left", 3]


def test_dataset_cached_drops_entries_of_a_stopped_application(store):
    @dataset_cached
    def fit(spark, sf_dir):
        return FakeDF()

    old_a = fit(FakeSpark("app-1"), "/sfA")
    old_b = fit(FakeSpark("app-1"), "/sfB")
    new = fit(FakeSpark("app-2"), "/sfA")
    assert new is not old_a
    assert not old_a.persisted and not old_b.persisted and new.persisted
    assert [k[:2] for k in store] == [("app-2", "/sfA")]
    assert store._scope_order == [("app-2", "/sfA")]


def test_one_cache_mechanism_in_the_package():
    """Hand-keyed caches must not grow back: the package constructs exactly
    one FitCache (the store), and only fitcache.py reads applicationId."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "drive_health_etl_spark"
    ctor = re.compile(r"(?<!class )\bFitCache\(")
    ctors, app_ids = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        ctors += [rel] * len(ctor.findall(src))
        if "applicationId" in src and rel != "operators/fitcache.py":
            app_ids.append(rel)
    assert ctors == ["operators/fitcache.py"]
    assert app_ids == []
