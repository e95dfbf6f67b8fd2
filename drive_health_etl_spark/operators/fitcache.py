"""One bounded, scope-LRU store for per-(session, dataset) artifacts.

Query operators fit artifacts from a dataset (minhash signatures, k-means
centroids, BPE merge tables, weighted edge lists, codec fixtures) and reuse
them across the registry queries of one session. ``@dataset_cached`` is the
one way to do that. It wraps a builder ``f(spark, sf_dir, *params)`` and
keys its result on

    (applicationId, sf_dir, f.__module__ + "." + f.__qualname__, params)

with ``params`` bound against ``f``'s signature after defaults are applied,
so ``_centroids(spark, sf)`` and ``_centroids(spark, sf, k=N_CELLS)`` share
one entry. Reuse is sound only when the key covers everything the result
depends on, so a param must be a str, int, float, bool or None; anything
else raises ``TypeError``. (A pyspark DataFrame hashes by identity, so a
``hash()`` check would let it through.) Builders therefore never take a
threaded-in relation: they derive their inputs from ``(spark, sf_dir)`` by
calling other cached functions. Each builder picks its own materialization
(``persist()``, ``localCheckpoint()`` or a plain Python value).

All entries live in one ``FitCache``, ``STORE``. It bounds the number of
live SCOPES, an (applicationId, sf_dir) pair, not entries: one dataset owns
several entries at once (shingle sets, signatures, codebooks) and they must
never evict each other mid-query; what a long-lived driver must shed is
whole datasets it has moved past. When the scope bound is exceeded, every
entry of the least-recently-touched scope is dropped and its DataFrames
unpersisted.

PySpark allows one live SparkContext per process, so an entry under any
other applicationId belongs to a stopped session. Every cached call first
drops those entries (best-effort unpersist: a stopped session's handles are
dead and its storage died with the JVM).

Thread safety: ``tools/vanilla_rehearsal.py``'s thread pools hit the store
concurrently, so every mutating path holds one re-entrant lock.
``get_or_build`` deliberately builds OUTSIDE the lock (a fit can take
seconds and must not serialize the pool) and resolves the build race by
keeping the first value stored and unpersisting the loser.
"""

from __future__ import annotations

import functools
import inspect
import threading

# Live (applicationId, sf_dir) scopes kept. 4 covers the standard harness
# sweep (sf0.001 / sf0.01 / sf0.1 / sf1 in one session) without any
# eviction; a wider ad-hoc sweep starts shedding the oldest dataset's blocks.
MAX_SCOPES = 4

# Param types whose equality is value equality, so they can key an entry.
_KEY_TYPES = (str, int, float, bool, type(None))


def _try_unpersist(v) -> None:
    # Composite entries (e.g. a (DataFrame, count) pair) release each
    # element — eviction must free every persisted block the entry pinned.
    if isinstance(v, (tuple, list)):
        for item in v:
            _try_unpersist(item)
        return
    unpersist = getattr(v, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist()
        except Exception:
            pass  # owning session already stopped; blocks are gone


class FitCache(dict):
    """dict with scope-LRU eviction. Keys are tuples whose first two
    elements, (applicationId, sf_dir), identify the scope."""

    def __init__(self, max_scopes: int = MAX_SCOPES):
        super().__init__()
        self._max_scopes = max_scopes
        self._scope_order: list[tuple] = []  # LRU: most recently used last
        self._lock = threading.RLock()

    @staticmethod
    def _scope(key: tuple) -> tuple:
        return tuple(key[:2])

    def _drop_scope_if_empty(self, s: tuple) -> None:
        # Caller holds the lock. Keep _scope_order exact: a scope whose last
        # key was removed must not linger and occupy an LRU slot (ADVICE r9:
        # the multimodal stale-session purge used plain `del`, leaving dead
        # scopes to loosen the live-scope bound until later no-op evictions).
        if s in self._scope_order and not any(
                self._scope(k) == s for k in self):
            self._scope_order.remove(s)

    def __delitem__(self, key) -> None:
        with self._lock:
            super().__delitem__(key)
            self._drop_scope_if_empty(self._scope(key))

    def pop(self, key, *default):
        with self._lock:
            try:
                v = super().pop(key)
            except KeyError:
                if default:
                    return default[0]
                raise
            self._drop_scope_if_empty(self._scope(key))
            return v

    def touch(self, key: tuple) -> None:
        """Mark key's scope as most-recently-used; evict over-bound scopes."""
        with self._lock:
            s = self._scope(key)
            if s in self._scope_order:
                self._scope_order.remove(s)
            self._scope_order.append(s)
            evicted = []
            while len(self._scope_order) > self._max_scopes:
                old = self._scope_order.pop(0)
                for k in [k for k in self if self._scope(k) == old]:
                    evicted.append(super().pop(k))
        # Unpersist outside the lock: it can RPC the JVM and must not block
        # concurrent touches.
        for v in evicted:
            _try_unpersist(v)

    def get_or_build(self, key: tuple, build):
        """Return the cached value for key, building (and retaining) it on
        miss. Touches the scope either way. The build runs outside the lock;
        if two threads race the same miss, the first stored value wins and
        the loser's is unpersisted."""
        self.touch(key)
        with self._lock:
            v = self.get(key)
        if v is not None:
            return v
        v = build()
        evicted: list = []
        with self._lock:
            existing = self.get(key)
            if existing is not None:
                loser = v
                v = existing
            else:
                loser = None
                super().__setitem__(key, v)
                # ADVICE r10: the touch() above ran BEFORE the build, so a
                # concurrent touch-storm can evict this scope while the build
                # runs; storing then would leave dict contents whose scope is
                # absent from _scope_order, escaping the max_scopes bound
                # until the scope is touched again. Re-register (and re-run
                # the eviction bound) under the same lock as the store so the
                # two structures can never diverge.
                s = self._scope(key)
                if s not in self._scope_order:
                    self._scope_order.append(s)
                    while len(self._scope_order) > self._max_scopes:
                        old = self._scope_order.pop(0)
                        for k in [k for k in self if self._scope(k) == old]:
                            evicted.append(super().pop(k))
        for ev in evicted:
            _try_unpersist(ev)
        if loser is not None:
            _try_unpersist(loser)
        return v

    def purge(self, predicate, unpersist: bool = True) -> int:
        """Remove every entry whose KEY satisfies ``predicate``, maintaining
        the scope-order list; optionally unpersist the removed values.
        Returns the number of entries removed. This is the supported path
        for stale-session sweeps (don't `del cache[k]` in a loop over the
        cache from another thread)."""
        with self._lock:
            doomed = [k for k in self if predicate(k)]
            removed = []
            for k in doomed:
                removed.append(super().pop(k))
                self._drop_scope_if_empty(self._scope(k))
        if unpersist:
            for v in removed:
                _try_unpersist(v)
        return len(removed)

    def clear(self) -> None:  # session recycle: drop refs, no unpersist
        with self._lock:
            super().clear()
            self._scope_order.clear()


STORE = FitCache()


def dataset_cached(fn):
    """Cache ``fn(spark, sf_dir, *params)`` in ``STORE`` per (session,
    dataset, function, params); see the module docstring. The wrapper's
    ``cache_clear()`` drops (and unpersists) this function's entries."""
    sig = inspect.signature(fn)
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def cached(spark, sf_dir, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[2:]
        for p in params:
            if not isinstance(p, _KEY_TYPES):
                raise TypeError(
                    f"{name}: a {type(p).__name__} param cannot key a dataset"
                    " cache entry; derive it from (spark, sf_dir) instead"
                )
        app = spark.sparkContext.applicationId
        STORE.purge(lambda k: k[0] != app)
        return STORE.get_or_build(
            (app, sf_dir, name, params), lambda: fn(spark, sf_dir, *args, **kwargs)
        )

    cached.cache_clear = lambda: STORE.purge(lambda k: k[2] == name)
    return cached
