"""Session staging store: the one cache for artifacts a session builds
once per corpus and shares across queries (the ``staged_*`` functions
in ``queries/``). At 100 TB each entry is a written staging table a
campaign builds first; on one host it is a persisted DataFrame.

Entries are keyed ``(artifact, sf_dir, *params)``. Builders persist
what they want cached (the store persists nothing); the store holds
the entries, rebuilds one bound to a stopped session, and unpersists
them on ``release``. One re-entrant lock serializes builds, so
concurrent first calls share one build, and a builder may read other
staged artifacts.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

_LOCK = threading.RLock()
_ENTRIES: dict[tuple, object] = {}


def staging_stale(cached: object, spark: SparkSession) -> bool:
    """True when a staged entry (a DataFrame or a tuple whose first
    element is one) is bound to a DIFFERENT SparkSession than the
    caller's — e.g. the original session was stopped and recreated.
    Consumers of a stale entry fail with opaque py4j errors, so the
    store rebuilds instead."""
    head = cached[0] if isinstance(cached, tuple) else cached
    try:
        owner = head.sparkSession
        if owner is spark:
            return False
        return not owner._jsparkSession.equals(spark._jsparkSession)
    except Exception:
        return True


def _unpersist(entry) -> None:
    for df in entry if isinstance(entry, tuple) else (entry,):
        try:
            df.unpersist()
        except Exception:
            pass


def get(spark: SparkSession, key: tuple, build):
    """The entry under ``key``, built by ``build()`` on first use or
    when the cached one is bound to another session."""
    with _LOCK:
        entry = _ENTRIES.get(key)
        if entry is None or staging_stale(entry, spark):
            if entry is not None:
                _unpersist(entry)
            entry = _ENTRIES[key] = build()
        return entry


def release(sf_dir: str | None = None) -> None:
    """Unpersist and drop the entries of one corpus (every params-keyed
    entry included), or of every corpus when ``sf_dir`` is None. A
    long-lived session that walks many corpora calls this when a
    campaign finishes, so the executor cache holds only live ones."""
    with _LOCK:
        for key in [k for k in _ENTRIES if sf_dir is None or k[1] == sf_dir]:
            _unpersist(_ENTRIES.pop(key))
