"""Session staging store (icecube_spark.staging) through its public
surface: the staged_* entry points, staging.get and staging.release.
Per-corpus release and full release return the executor cache to its
baseline — a long-lived session walking many corpora must not accrete
one persisted table set per sf_dir — and every .persist( under
queries/ stays inside a staged_* function, so session caching lives in
one place."""

import ast
import sys
import threading
from pathlib import Path

from icecube_spark import staging
from icecube_spark.queries import analytics as an
from icecube_spark.queries import llm_queries as lq
from icecube_spark.staging import staging_stale

SF = "/root/testdata/sf0.001"
QUERIES_ROOT = Path(__file__).resolve().parent.parent / "icecube_spark" / "queries"


def _persisted_ids(spark) -> set:
    # track IDs, not counts: Spark's async ContextCleaner may
    # concurrently drop checkpoint RDDs left by OTHER tests in the
    # shared session, so totals can shrink while staging is ADDING
    # persists — set differences against the baseline are immune
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_release_returns_cache_to_baseline(spark):
    staging.release()
    base_ids = _persisted_ids(spark)

    corpus = lq.staged_corpus(spark, SF)
    corpus[0].count()  # materialize the persists
    pairs = lq.staged_minhash_pairs(spark, SF)
    pairs.count()
    assert _persisted_ids(spark) - base_ids
    assert lq.staged_corpus(spark, SF) is corpus  # a hit, not a rebuild

    staging.release(SF)
    # id-set difference, not counts: what matters is that OUR staged
    # persists are gone (no NEW id survives the release)
    assert not (_persisted_ids(spark) - base_ids)
    assert lq.staged_minhash_pairs(spark, SF) is not pairs

    # releasing an unknown corpus must not touch another's entries
    corpus = lq.staged_corpus(spark, SF)
    staging.release("/nonexistent/sfX")
    assert lq.staged_corpus(spark, SF) is corpus
    staging.release()
    assert not (_persisted_ids(spark) - base_ids)


def test_release_frees_copurchase_tables(spark):
    staging.release()
    base_ids = _persisted_ids(spark)
    staged = an.staged_copurchase(spark, SF)
    staged.pairs.count()
    staged.edges2.count()
    assert _persisted_ids(spark) - base_ids

    # one call releases the analytics-side artifacts with the rest
    staging.release(SF)
    assert not (_persisted_ids(spark) - base_ids)
    assert an.staged_copurchase(spark, SF) is not staged

    an.staged_copurchase(spark, SF).pairs.count()
    staging.release()
    assert not (_persisted_ids(spark) - base_ids)


def test_release_frees_threshold_keyed_pairs(spark):
    staging.release()
    base_ids = _persisted_ids(spark)
    pairs = lq.staged_jaccard_pairs(spark, SF, 0.8)
    pairs.count()
    assert lq.staged_jaccard_pairs(spark, SF, 0.8) is pairs
    assert lq.staged_jaccard_pairs(spark, SF, 0.9) is not pairs
    staging.release(SF)
    assert not (_persisted_ids(spark) - base_ids)
    assert lq.staged_jaccard_pairs(spark, SF, 0.8) is not pairs
    staging.release()


def test_staging_stale_detects_foreign_session(spark):
    """A cached entry bound to another SparkSession (or holding no
    usable handle at all) must read as stale so the store rebuilds
    instead of handing consumers dead py4j references."""
    df = spark.range(3)
    assert staging_stale(df, spark) is False
    assert staging_stale((df, df), spark) is False  # tuple entries
    other = spark.newSession()
    assert staging_stale(df, other) is True
    assert staging_stale(object(), spark) is True  # no session handle


def test_stale_entry_is_rebuilt_not_returned(spark):
    staging.release()
    other = spark.newSession()
    foreign = lq.staged_candidates(other, SF)
    assert foreign.sparkSession is other

    rebuilt = lq.staged_candidates(spark, SF)
    assert rebuilt is not foreign
    assert rebuilt.sparkSession is spark
    assert lq.staged_corpus(spark, SF)[0].sparkSession is spark
    assert lq.staged_candidates(spark, SF) is rebuilt
    staging.release()


def test_concurrent_first_calls_share_one_build(spark):
    """Eight threads reaching a cold staged_* at once get the SAME
    object, and the executor cache grows by one build's worth — a
    racing second build would orphan a persisted table nobody
    releases."""
    staging.release()
    base_ids = _persisted_ids(spark)
    lq.staged_candidates(spark, SF).count()
    one_build = len(_persisted_ids(spark) - base_ids)
    staging.release()
    assert not (_persisted_ids(spark) - base_ids)

    barrier = threading.Barrier(8)
    got = [None] * 8

    def call(i):
        barrier.wait(timeout=60)
        got[i] = lq.staged_candidates(spark, SF)
        got[i].count()

    threads = [threading.Thread(target=call, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert got[0] is not None and all(g is got[0] for g in got)
    assert len(_persisted_ids(spark) - base_ids) == one_build
    staging.release()
    assert not (_persisted_ids(spark) - base_ids)


def test_persist_only_inside_staged_functions():
    """Session caching lives in one place: every .persist( under
    queries/ sits (at any depth) inside a top-level staged_* function,
    whose result the staging store owns and releases."""
    sites = []
    for path in sorted(QUERIES_ROOT.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            name = getattr(top, "name", "<module>")
            sites += [
                (f"{path.name}:{node.lineno}", name)
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
            ]
    stray = [f"{where} in {name}" for where, name in sites if not name.startswith("staged_")]
    assert not stray, f".persist( outside staged_*: {stray}"
    # the staged builders' own persists are found (else the sweep is blind)
    assert len(sites) >= 10
