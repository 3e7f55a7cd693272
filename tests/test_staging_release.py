"""Session staging store (icecube_spark.staging) through its public
surface: the @staging.artifact entry points (staged_*), the
staging.ARTIFACTS registry and staging.release. Per-corpus release and
full release return the executor cache to its baseline — a long-lived
session walking many corpora must not accrete one persisted table set
per sf_dir — an entry is rebuilt once its corpus files change, and
every .persist( under queries/ stays inside a registered staged_*
function, so session caching lives in one place."""

import ast
import importlib
import os
import shutil
import sys
import threading
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from icecube_spark import staging
from icecube_spark.queries import analytics as an
from icecube_spark.queries import llm_queries as lq
from icecube_spark.staging import staging_stale
from tests.conftest import run_in_job_group

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


def test_release_frees_candidate_overlaps(spark):
    staging.release()
    base_ids = _persisted_ids(spark)
    overlaps = lq.staged_candidates(spark, SF)
    overlaps.count()
    assert lq.staged_candidates(spark, SF) is overlaps
    staging.release(SF)
    assert not (_persisted_ids(spark) - base_ids)
    assert lq.staged_candidates(spark, SF) is not overlaps
    staging.release()


def test_staged_overlaps_make_d3_and_d6_threshold_filters(spark):
    """The staged candidate table carries each pair's overlap counts,
    so a warm D3 collect is one job that reads it (it was 3: the gram
    rejoin's two broadcasts and the verify) and a warm D6 collect runs
    at most 3 (it was 5: its trailing orderBy's range-sampling job ran
    the verify a second time)."""
    assert {"grams_a", "grams_b", "n_shared"} <= set(lq.staged_candidates(spark, SF).columns)
    lq.staged_candidates(spark, SF).count()
    for key, most in (("dedup_ngram_jaccard", 1), ("dedup_containment", 3)):
        fn = getattr(lq, key)
        fn(spark, SF).collect()  # warm
        jobs, _ = run_in_job_group(spark, lambda: fn(spark, SF).collect(), f"warm-{key}")
        assert 0 < jobs <= most, (key, jobs)


def test_rewritten_corpus_is_not_served_stale(spark, tmp_path):
    """A staged entry is keyed by its corpus files, not only their
    directory: after documents.parquet is rewritten in the same
    session, the next dedup_minhash_lsh reads the new corpus, and
    equals a build made from nothing staged."""
    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    for name in os.listdir(SF):
        shutil.copyfile(os.path.join(SF, name), os.path.join(sf, name))

    def pairs():
        return sorted(tuple(r) for r in lq.dedup_minhash_lsh(spark, sf).collect())

    try:
        before = pairs()
        assert before
        docs_path = os.path.join(sf, "documents.parquet")
        docs = pq.read_table(docs_path)
        docs = docs.filter(pc.not_equal(docs["doc_id"], before[0][0]))
        pq.write_table(docs, docs_path + ".tmp")
        os.replace(docs_path + ".tmp", docs_path)

        after = pairs()
        assert after != before
        staging.release(sf)
        assert after == pairs()
    finally:
        staging.release(sf)


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

    # staging.ARTIFACTS is the one artifact list: every top-level
    # staged_* (bar the no-op staged_tfidf_fit) and nothing else
    declared = set()
    for path in sorted(QUERIES_ROOT.glob("*.py")):
        module = f"icecube_spark.queries.{path.stem}"
        importlib.import_module(module)
        declared |= {
            (module, top.name)
            for top in ast.parse(path.read_text()).body
            if isinstance(top, ast.FunctionDef)
            and top.name.startswith("staged_")
            and top.name != "staged_tfidf_fit"
        }
    registered = {
        (fn.__module__, fn.__name__) for fn in staging.ARTIFACTS.values()
    }
    assert registered == declared
    assert all(fn.__name__ == f"staged_{n}" for n, fn in staging.ARTIFACTS.items())


def test_staged_table_is_stored_at_the_size_of_its_data(spark):
    """AQE coalesces a cached plan's output like any other shuffle's,
    so the 28-row staged pair table is stored in one or two partitions
    and a full read of it runs at most 2 tasks, not one per session
    shuffle partition (32)."""
    pairs = lq.staged_minhash_pairs(spark, SF)
    pairs.count()
    _, tasks = run_in_job_group(
        spark,
        lambda: pairs.write.format("noop").mode("overwrite").save(),
        "staged-pairs-noop",
    )
    assert 0 < tasks <= 2


def test_connected_components_leaves_no_cache_entry(spark):
    """dedup_clusters persists nothing past its call: the count of
    cached plans stays put across three calls (each call used to
    leave its last round's frame cached)."""
    from icecube_spark.queries.pipeline_queries import dedup_clusters

    cache = spark._jsparkSession.sharedState().cacheManager()
    lq.staged_minhash_pairs(spark, SF).count()
    counts, outs = [], []
    for _ in range(3):
        outs.append([tuple(r) for r in dedup_clusters(spark, SF).collect()])
        counts.append(cache.cachedData().size())
    assert counts[0] == counts[1] == counts[2]
    assert outs[0] == outs[1] == outs[2] and outs[0]


def test_unstaged_verify_leaves_no_cache_entry(spark, tmp_path):
    """D3 and D6 called without staged tables store their gram table
    behind a materialize() barrier, not in the cache: the count of
    cached plans is the same before and after a collect of each (a
    persisted gram table used to stay cached for the session). The
    corpus is a fresh copy, so no earlier test has cached its plan."""
    from icecube_spark import catalog
    from icecube_spark.operators import dedup

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    shutil.copyfile(os.path.join(SF, "documents.parquet"), os.path.join(sf, "documents.parquet"))
    docs = catalog.load(spark, sf, "documents")
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    assert dedup.ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    assert dedup.containment_pairs(docs, "doc_id", "text").collect()
    assert cache.cachedData().size() == before


def test_pagerank_leaves_no_cache_entry(spark):
    """pagerank's cached edge, node and sink tables are freed once the
    last iteration's ranks are stored: the count of cached plans is
    the same before and after a call (it used to rise by 3 here)."""
    from icecube_spark.operators import pipeline

    # node 4 is a sink, so the dangling-node table is cached too
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (1, 3)], "a long, b long"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    rows = pipeline.pagerank(edges, "a", "b").collect()
    assert cache.cachedData().size() == before
    assert sorted(r.node for r in rows) == [1, 2, 3, 4]
