"""Driver-contract invariants: the registry and oracle dict stay
consistent (every oracle key registered, no stray oracles, callables
importable), every oracle key has one parity test, and queries() keeps
the driver's grading order — catches wiring mistakes before the driver
does."""

import glob
import json
import os
import sys

import __spark_entry__ as entry

from . import (
    test_analytics,
    test_datacube,
    test_llm_ops,
    test_pipeline_ops,
    test_timeseries,
)

ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import funnel_sweep as fs  # noqa: E402


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
    """PLANS.md (scripts/explain_audit.py output) must hold one plan
    section per registered query — the every-key explain-audit
    invariant (VERDICT r2 item 4)."""
    import re

    path = os.path.join(ROOT, "PLANS.md")
    sections = set(re.findall(r"^## (\S+)", open(path).read(), re.M))
    registered = set(entry.queries())
    missing = registered - sections
    stale = sections - registered
    assert not missing, f"PLANS.md missing sections: {sorted(missing)}"
    assert not stale, f"PLANS.md stale sections: {sorted(stale)}"


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


def test_fast_funnel_sweep_over_pinned_plans_is_clean():
    """The sub-second plan-smell gate (funnel_sweep --plans): every
    PLANS.md pinned formatted plan must scan clean — no
    empty/low-cardinality window partition without a provable bound,
    no CartesianProduct outside the broadcast-scalar idiom. The
    live-plan twin (tests/test_scale_paths.py::
    test_registry_wide_funnel_sweep) stays the round-close gate;
    this one makes plan smells surface on every pytest run without
    building 481 live plans."""
    path = os.path.join(ROOT, "PLANS.md")
    sections = fs._formatted_sections(open(path).read())
    registered = set(entry.queries())
    assert registered <= set(sections)
    flagged, cartesians = [], []
    for k in sorted(registered):
        flagged.extend(fs.violations_formatted(k, sections[k]))
        cartesians.extend(fs.join_smells(k, sections[k]))
    assert not flagged, f"pinned-plan funnels: {flagged[:5]}"
    assert not cartesians, f"pinned-plan cartesians: {cartesians[:5]}"
