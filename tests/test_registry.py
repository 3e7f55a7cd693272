"""Driver-contract invariants: the registry and oracle dict stay
consistent (every oracle key registered, no stray oracles, callables
importable), every oracle key has one parity test, and queries() keeps
the driver's grading order — catches wiring mistakes before the driver
does."""

import glob
import json
import os

import pytest

import __spark_entry__ as entry
import plan_audit  # scripts/, put on sys.path by conftest.py

from . import (
    test_analytics,
    test_datacube,
    test_llm_ops,
    test_pipeline_ops,
    test_timeseries,
)

ROOT = os.path.join(os.path.dirname(__file__), "..")


def test_every_oracle_key_has_one_parity_test():
    """The family parity tests, each parametrized from its family's
    oracle dict, check every oracle key exactly once, so no key goes
    without a tier-1 parity test."""
    keys = ["multimodal_frames"]  # test_multimodal_frames_fanout
    for test in (
        test_analytics.test_analytics_matches_oracle,
        test_datacube.test_datacube_matches_oracle,
        test_llm_ops.test_llm_matches_oracle,
        test_pipeline_ops.test_pipeline_matches_oracle,
        test_pipeline_ops.test_tpch_matches_oracle,
        test_pipeline_ops.test_contamination_matches_oracle,
        test_timeseries.test_timeseries_matches_oracle,
    ):
        (mark,) = [m for m in test.pytestmark if m.name == "parametrize"]
        keys += mark.args[1]
    assert sorted(keys) == sorted(entry.oracle_sql())


def test_queries_order_contract():
    """queries() lists never-graded oracle keys first, then the
    rows-only keys, then the driver-green keys; the green set is the
    union of fully green grades over the committed CORRECTNESS files."""
    green = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for k, g in json.load(f).items():
                if g["rows_match"] and g["schema_match"] and g["hash_match"]:
                    green.add(k)
    assert entry._DRIVER_GREEN == green
    assert green <= set(entry._QUERIES)

    def tier(k):
        if k in entry._NO_ORACLE:
            return 1
        return 2 if k in green else 0

    # stable sort: each tier keeps _QUERIES order
    assert list(entry.queries()) == sorted(entry._QUERIES, key=tier)


def test_every_oracle_key_is_registered():
    qs = entry.queries()
    orphans = [k for k in entry.oracle_sql() if k not in qs]
    assert orphans == [], f"oracles without queries: {orphans}"


def test_rows_only_keys_are_the_documented_set():
    qs = set(entry.queries())
    rows_only = qs - set(entry.oracle_sql())
    # embed_ann_ivf / ivf_probe_curve / part_pagerank left this set
    # in round 5 (exact-Lloyd/quantized-fold discipline);
    # text_features left in round 6 (stats from a native tokenizer
    # projection, the IDF fit staged as a side artifact);
    # mmr_diversify left in round 7 (pico-quantized sims make the
    # 8-step greedy replayable as chained argmax CTEs).
    assert rows_only == {
        "approx_quantiles",
        "approx_profile",
        "multimodal_features",
        "embed_pca_top",
    }, f"unexpected rows-only keys: {sorted(rows_only)}"


def test_all_query_callables_are_callable():
    assert all(callable(fn) for fn in entry.queries().values())
    assert len(entry.queries()) >= 174


def test_oracle_sql_is_nonempty_select():
    for k, sql in entry.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), k


def test_plans_audit_covers_every_registered_key():
    """PLANS.md (scripts/plan_audit.py output) must hold exactly one
    fingerprint line per registered query — the every-key plan-audit
    invariant (VERDICT r2 item 4)."""
    with open(os.path.join(ROOT, "PLANS.md")) as fh:
        keys = [plan_audit.parse_line(ln)[0] for ln in fh if " | ops: " in ln]
    assert sorted(keys) == sorted(entry.queries())


def test_survey_status_counts_match_registry():
    """SURVEY §2's STATUS paragraph must carry the live registry
    numbers (VERDICT r7 item 7) — same pin pattern as the PLANS.md
    section-count test, so the header can never silently go stale
    again."""
    import re

    path = os.path.join(ROOT, "SURVEY.md")
    text = open(path).read()
    m = re.search(r"STATUS: all (\d+) query keys", text)
    assert m, "SURVEY.md lost its STATUS sentence"
    assert int(m.group(1)) == len(entry.queries())
    m2 = re.search(r"(\d+)\s*\nrows-only by nature", text) or re.search(
        r"and (\d+)\s*rows-only by nature", text
    )
    assert m2, "SURVEY.md STATUS lost its rows-only count"
    assert int(m2.group(1)) == len(entry._NO_ORACLE)


def test_fast_funnel_sweep_over_pinned_plans_is_clean(plans):
    """The plan-smell gate over PLANS.md: every pinned fingerprint must
    read clean under the current rules — no empty/low-cardinality
    window partition without a provable bound, no CartesianProduct.
    The rules read the fingerprint's window sites, so a LOW_CARD_COLS
    or WHITELIST edit applies here without regenerating. The drift
    check (tests/test_scale_paths.py::test_registry_wide_funnel_sweep)
    keeps the lines equal to freshly built plans."""
    assert set(entry.queries()) <= set(plans)
    flagged, cartesians = [], []
    for k, fp in sorted(plans.items()):
        flagged.extend(plan_audit.violations(k, fp["windows"]))
        cartesians.extend(plan_audit.join_smells(k, fp))
    assert not flagged, f"pinned-plan funnels: {flagged[:5]}"
    assert not cartesians, f"pinned-plan cartesians: {cartesians[:5]}"




_SCAN = "FileScan parquet [lang#2,ts#1] PushedFilters: [], ReadSchema: struct<lang:string>"
_WIN = (
    "Window [row_number() windowspecdefinition({p}ts#1 ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#5]"
)
_LOW, _GLOBAL = _WIN.format(p="lang#2, "), _WIN.format(p="")
_EXCH = "Exchange hashpartitioning(lang#2, 32), ENSURE_REQUIREMENTS, [plan_id=1]"
# toString layouts as Spark prints them: an executed AdaptiveSparkPlan
# adds `== Final Plan ==` / `== Initial Plan ==` sections, and a cached
# plan's sections restart the indentation
_PLANS = {  # case: (plan, flagged partitions, CartesianProducts)
    "low_card_over_exchange": (f"""\
AdaptiveSparkPlan isFinalPlan=false
+- {_LOW}
   +- {_EXCH}
      +- {_SCAN}
""", [["lang"]], 0),
    "global_over_aggregate": (f"""\
AdaptiveSparkPlan isFinalPlan=false
+- {_GLOBAL}
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]
      +- HashAggregate(keys=[ts#1], functions=[count(1)])
         +- {_SCAN}
""", [], 0),
    "reused_exchange_on_aggregate": (f"""\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) BroadcastHashJoin [ts#1], [ts#6], Inner, BuildRight, false
   :- {_GLOBAL}
   :  +- ShuffleQueryStage 0
   :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=40]
   :        +- *(1) HashAggregate(keys=[ts#1], functions=[count(1)])
   :           +- {_SCAN}
   +- BroadcastQueryStage 2
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, timestamp, true]),false), [plan_id=60]
         +- {_GLOBAL}
            +- ShuffleQueryStage 1
               +- ReusedExchange [ts#6, n#7L], Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=40]
+- == Initial Plan ==
   BroadcastHashJoin [ts#1], [ts#6], Inner, BuildRight, false
""", [], 0),
    "initial_plan_twin_only": (f"""\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   LocalTableScan <empty>, [lang#2, ts#1, rn#5]
+- == Initial Plan ==
   {_LOW}
   +- {_EXCH}
      +- {_SCAN}
""", [], 0),
    "cached_relation_funnel": (f"""\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(1) Project [lang#2, rn#5]
   +- TableCacheQueryStage 0
      +- InMemoryTableScan [lang#2, rn#5]
            +- InMemoryRelation [lang#2, rn#5], StorageLevel(disk, memory, 1 replicas)
                  +- AdaptiveSparkPlan isFinalPlan=true
                  +- == Final Plan ==
                     {_LOW}
                     +- ShuffleQueryStage 0
                        +- {_EXCH}
                           +- {_SCAN}
                  +- == Initial Plan ==
                     {_LOW}
                     +- {_EXCH}
                        +- {_SCAN}
+- == Initial Plan ==
   Project [lang#2, rn#5]
""", [["lang"]], 0),
    "cartesian_product": (f"""\
AdaptiveSparkPlan isFinalPlan=false
+- CartesianProduct (ts#1 < ts#8)
   :- {_SCAN}
   +- {_SCAN}
""", [], 1),
}


@pytest.mark.parametrize("case", sorted(_PLANS))
def test_plan_scanner_rules(case):
    """The one scanner over executedPlan().toString() shapes: funnels
    over raw exchanges are flagged, aggregate grain is credited through
    a ReusedExchange, Initial Plan twins are skipped (nested cached ones
    included), cached-relation plans are scanned, a CartesianProduct is
    a join smell — and the fingerprint line round-trips."""
    plan, funnels, n_cartesian = _PLANS[case]
    fp = plan_audit.fingerprint(plan)
    flagged = plan_audit.violations(case, fp["windows"])
    assert [f["partition"] for f in flagged] == funnels
    assert len(plan_audit.join_smells(case, fp)) == n_cartesian
    line = plan_audit.format_line(case, fp)
    assert plan_audit.parse_line(line) == (case, fp)
