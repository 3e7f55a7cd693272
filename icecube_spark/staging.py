"""Session staging store: the one cache for artifacts a session builds
once per corpus and shares across queries. At 100 TB each entry is a
written staging table a campaign builds first; on one host it is a
persisted DataFrame (or a tuple of them).

An artifact is a ``staged_<name>(spark, sf_dir)`` function under
``queries/`` decorated with ``@artifact``, which registers it in
``ARTIFACTS`` under ``<name>``; that registry is the one list of what
a session stages. A call returns the store's entry under
``(name, sf_dir)`` and runs the function body only to build it. The
body persists what it wants cached (the store persists nothing).

An entry is served while it is fresh: bound to the caller's session
(``staging_stale``) and built from the corpus files as they are now
(``catalog.stamp(sf_dir)``, the size and mtime of every table file).
Otherwise the store unpersists it and builds it again, so a rewritten
table never serves an old result; a rewrite of a table the artifact
does not read costs only a rebuild. ``release`` unpersists and drops
entries. One re-entrant lock serializes builds, so concurrent first
calls share one build, and a body may read other staged artifacts.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable

from pyspark.sql import SparkSession

from icecube_spark import catalog

_LOCK = threading.RLock()
# (name, sf_dir) -> (corpus stamp the entry was built from, entry)
_ENTRIES: dict[tuple[str, str], tuple[tuple, object]] = {}
ARTIFACTS: dict[str, Callable] = {}


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


def artifact(build: Callable) -> Callable:
    """Register ``staged_<name>(spark, sf_dir)`` as artifact ``<name>``
    and return the store's view of it: the fresh entry under
    ``(name, sf_dir)``, built by ``build(spark, sf_dir)`` when there is
    none."""
    name = build.__name__.removeprefix("staged_")

    @functools.wraps(build)
    def staged(spark: SparkSession, sf_dir: str):
        key = (name, sf_dir)
        with _LOCK:
            stamp = catalog.stamp(sf_dir)
            hit = _ENTRIES.get(key)
            if hit is None or hit[0] != stamp or staging_stale(hit[1], spark):
                if hit is not None:
                    _unpersist(hit[1])
                hit = _ENTRIES[key] = (stamp, build(spark, sf_dir))
            return hit[1]

    ARTIFACTS[name] = staged
    return staged


def release(sf_dir: str | None = None) -> None:
    """Unpersist and drop the entries of one corpus, or of every corpus
    when ``sf_dir`` is None. A long-lived session that walks many
    corpora calls this when a campaign finishes, so the executor cache
    holds only live ones."""
    with _LOCK:
        for key in [k for k in _ENTRIES if sf_dir is None or k[1] == sf_dir]:
            _unpersist(_ENTRIES.pop(key)[1])
