"""Plan audit: one fingerprint line per registry key in PLANS.md, and
the window-funnel and join rules that read it.

``plan_line(spark, key, sf_dir)`` is the one plan pass: it builds
``queries()[key]`` with AQE off and fingerprints its
``executedPlan()``, running no action. ``python scripts/plan_audit.py
[key ...]`` rewrites the given keys' PLANS.md lines at sf0.01 (all keys
when none are given), printing ``== key`` to stderr before each, and
exits 1 on any funnel, CartesianProduct or failed key. Tier-1 builds
every key's line afresh and fails on any line that differs from PLANS.md
(``tests/test_scale_paths.py::test_registry_wide_funnel_sweep``), so
``git diff PLANS.md`` is the plan review; one full plan is
``df.explain("formatted")``. Only the eager ``materialize()`` barriers
inside a build run Spark jobs; a key's own plan is never executed here,
so its codegen failures surface in ``scripts/janino_hunt.py``.

A line is ``key | ops: | joins: | windows: | pushed: | codegen:``, each
multiset written ``token*count`` (``-`` when empty): operator names
(cached-relation plans in, ``== Initial Plan ==`` twins out), joins as
``node:type:build-side`` (plus ``cond``/``nocond`` for a nested-loop
join), window sites as ``partition-cols@bound``, parquet scans with
pushed filters / all scans, and codegen stages. No ids, sizes or counts
of rows or partitions, so a line moves only with the plan shape.

A window funnels when its partition spec is empty or only known
low-cardinality columns — it serializes corpus-grain rows into one task
whatever the cluster — unless a bound holds: ``pid`` (the distributed
primitives' per-range-partition local pass on ``__pid``), ``offsets``
(their tiny ``__ptot``/``__pcnt`` offset tables), ``group-limit`` or
``agg`` (a WindowGroupLimit or an aggregate in the window's input
subtree: aggregate grain, not raw rows), or a WHITELIST reason.
``tests/test_registry.py`` applies the rules to the PLANS.md lines.
"""

from __future__ import annotations

import re
from collections import Counter
from itertools import takewhile

# Columns whose cardinality does NOT grow with the corpus: a window
# partitioned by one of these over raw (non-aggregated) rows is a
# funnel. Aliases the query layer introduces (t, k, lang, label...)
# are included; corpus-scaled ids (user/order/doc/bucket ids) are not.
LOW_CARD_COLS = frozenset({
    "event_type", "type", "t", "source", "lang", "language",
    "label", "segment", "priority", "o_orderpriority", "c_mktsegment",
    "n_name", "r_name", "p_brand", "p_type", "p_container", "p_mfgr",
    "o_orderstatus", "l_returnflag", "l_linestatus", "l_shipmode",
    "l_shipinstruct", "band", "quality_bucket", "month", "dow", "hour",
    "year", "k", "grp", "split", "shard", "tile", "cls", "class",
})

# (key, partition-head) pairs allowed to keep a low-cardinality/global
# window with an inline justification. Keep this SHORT — the right fix
# is almost always distributed_rank/cumsum/lag; a whitelist entry must
# say why the frame is bounded WITHOUT an aggregate visible in the
# subtree (e.g. the input is a staged/checkpointed aggregate whose
# lineage the plan string no longer shows).
WHITELIST: dict[tuple[str, str], str] = {
}

_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_JOIN_NODES = (
    "BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
_JOIN_TYPES = (
    "Inner", "Cross", "LeftOuter", "RightOuter", "FullOuter", "LeftSemi",
    "LeftAnti", "LeftSingle", "ExistenceJoin",
)
# tree-drawing prefix of a toString plan line: 3 columns per level
_PREFIX = re.compile(r"(?:   |:  |\+- |:- )*")
_NAME = re.compile(r"(?:\*\(\d+\) )?(\w*)(?: (\w+))?")


def _split_top(args: str) -> list[str]:
    """Comma-separated top-level args of ``args``, up to its first
    unmatched closing bracket (the end of a call whose args it holds)."""
    out, depth, cur = [], 0, ""
    for ch in args:
        if ch in ")]" and depth == 0:
            break
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return out + [cur.strip()] if cur.strip() else out


def _partition_cols(spec_args: list[str]) -> list[str]:
    """Partition columns of one windowspecdefinition: its args before
    the first ordered arg (``... ASC/DESC NULLS ...``) or the frame."""
    return [_col_name(a) for a in takewhile(
        lambda a: not a.startswith("specifiedwindowframe")
        and not re.search(r"\b(ASC|DESC) NULLS", a), spec_args)]


def _col_name(expr: str) -> str:
    """Base column name of a partition expression (``t#12`` -> ``t``,
    ``cast(x#3 as int)`` -> its first referenced column); an
    expression with no column reference keeps its word characters."""
    m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", expr)
    return m.group(1) if m else re.sub(r"\W", "_", expr)


class _Node:
    __slots__ = ("text", "bars", "open", "regular", "children")

    def __init__(self, text: str, bars: str | None):
        # bars: the prefix a child line repeats before its marker;
        # None for a section, which takes only a marker-less root line
        self.text, self.bars, self.children = text, bars, []
        self.open = True  # no last ("+- ") regular child yet
        self.regular = False  # a regular child seen

    @property
    def name(self) -> str:
        """Operator name (``Scan ExistingRDD[...]`` -> ExistingRDD);
        empty for the ``== Final/Initial Plan ==`` section nodes."""
        m = _NAME.match(self.text)
        return m[2] if m[1] == "Scan" and m[2] else m[1]

    def takes(self, prefix: str) -> bool:
        """Whether a marker line with this prefix is a child: a regular
        child repeats the bars; an inner child (a cached relation, a
        subquery) adds one column and precedes the regular children."""
        head = prefix[:-3]
        if self.bars is None or not head.startswith(self.bars):
            return False
        extra = head[len(self.bars):]
        return extra in ("   ", ":  ") and not self.regular if extra else self.open


def _tree(plan: str) -> _Node:
    """Parse an ``executedPlan().toString()`` into a node tree.

    A line's parent is the innermost node on the current path that
    takes its prefix. An executed AdaptiveSparkPlan prints its final
    and initial plans under ``== Final Plan ==`` / ``== Initial Plan
    ==`` headers whose subplans restart the indentation (a nested
    cached plan loses the enclosing indent), so a header becomes a
    section node of the innermost AdaptiveSparkPlan waiting for it, and
    the marker-less line after it is the section's root."""
    root = _Node("", None)
    stack = [root]
    for raw in plan.splitlines():
        prefix = _PREFIX.match(raw).group(0)
        body = raw[len(prefix):]
        if body.startswith("== ") and body.endswith(" =="):
            if "Initial" in body:
                # the innermost plan whose final section is still open
                while stack[-1].text not in ("== Final Plan ==", "== Current Plan =="):
                    stack.pop()
                stack.pop()
            section = _Node(body, None)
            stack[-1].children.append(section)
            stack.append(section)
            continue
        marker = prefix[-3:]
        if stack[-1].bars is None:  # the root line of a plan or section
            node = _Node(body, prefix)
        elif marker in ("+- ", ":- ") and any(n.takes(prefix) for n in stack):
            while not stack[-1].takes(prefix):
                stack.pop()
            node = _Node(body, prefix[:-3] + ("   " if marker == "+- " else ":  "))
            if prefix[:-3] == stack[-1].bars:
                stack[-1].regular = True
                stack[-1].open = marker == ":- "
        else:
            stack[-1].text += "\n" + raw  # an expression spanning lines
            continue
        stack[-1].children.append(node)
        stack.append(node)
    return root


def _walk(node: _Node):
    """(node, parent) below ``node`` in pre-order, skipping every
    ``== Initial Plan ==`` twin."""
    for child in node.children:
        if child.text != "== Initial Plan ==":
            yield child, node
            yield from _walk(child)


def _plan_id(text: str) -> str | None:
    m = re.search(r"\[plan_id=(\d+)\]\s*$", text)
    return m.group(1) if m else None


def _bound(node: _Node, exchanges: dict[str, _Node]) -> str:
    """'group-limit' or 'agg' for the first WindowGroupLimit or
    aggregate met walking the window's input subtree in plan order,
    else 'none'. A ReusedExchange is read as the subtree of the
    Exchange it reuses (same ``plan_id``), which prints elsewhere."""
    for child, _ in _walk(node):
        if child.name == "WindowGroupLimit":
            return "group-limit"
        if child.name in _AGG_NODES:
            return "agg"
        pid = _plan_id(child.text)
        if child.name == "ReusedExchange" and pid in exchanges:
            found = _bound(exchanges[pid], exchanges)
            if found != "none":
                return found
    return "none"


def _sites(nodes: list[_Node]) -> list[dict]:
    exchanges = {
        _plan_id(n.text): n for n in nodes
        if n.name in ("Exchange", "BroadcastExchange") and _plan_id(n.text)
    }
    sites = []
    for n in nodes:
        if "windowspecdefinition" not in n.text:
            continue
        bound = None
        for m in re.finditer(r"windowspecdefinition\(", n.text):
            pcols = _partition_cols(_split_top(n.text[m.end():]))
            if any(c.startswith("__pid") for c in pcols):
                b = "pid"
            elif "__ptot" in n.text or "__pcnt" in n.text:
                b = "offsets"
            else:
                bound = bound or _bound(n, exchanges)
                b = bound
            sites.append({"partition": pcols, "bound": b})
    return sites


def _join(n: _Node) -> str:
    body = re.sub(r"^\*\(\d+\) ", "", n.text)
    args = _split_top(body.split(" ", 1)[1] if " " in body else "")
    jt = next((a.split("(")[0] for a in args if a.split("(")[0] in _JOIN_TYPES), "")
    build = next((a for a in args if a in ("BuildLeft", "BuildRight")), "")
    parts = [n.name, jt, build]
    if n.name == "BroadcastNestedLoopJoin":
        parts.append("cond" if len(args) > 2 else "nocond")
    return ":".join(p for p in parts if p)


def fingerprint(plan: str) -> dict:
    """The plan-shape record of an executed-plan string."""
    walked = list(_walk(_tree(plan)))
    nodes = [n for n, _ in walked if n.name]
    pushed = [
        m[1] for n in nodes
        if n.name == "FileScan" and (m := re.search(r"PushedFilters: \[([^\]]*)\]", n.text))
    ]
    # a codegen stage's root is the node whose parent is not in it
    stages = [
        n for n, parent in walked
        if (m := re.match(r"\*\(\d+\) ", n.text)) and not parent.text.startswith(m[0])
    ]
    return {
        "ops": Counter(n.name for n in nodes),
        "joins": Counter(_join(n) for n in nodes if n.name in _JOIN_NODES),
        "windows": sorted(_sites(nodes), key=format_site),
        "pushed": f"{sum(1 for p in pushed if p.strip())}/{len(pushed)}",
        "codegen": len(stages),
    }


def format_site(site: dict) -> str:
    return ",".join(site["partition"]) + "@" + site["bound"]


def _bag(tokens) -> str:
    return " ".join(
        t if n == 1 else f"{t}*{n}" for t, n in sorted(Counter(tokens).items())
    ) or "-"


def _unbag(text: str) -> Counter:
    out = Counter()
    for tok in [] if text == "-" else text.split():
        name, star, n = tok.rpartition("*")
        out[name if star else n] += int(n) if star else 1
    return out


def format_line(key: str, fp: dict) -> str:
    return " | ".join([
        key,
        f"ops: {_bag(fp['ops'].elements())}",
        f"joins: {_bag(fp['joins'].elements())}",
        f"windows: {_bag(map(format_site, fp['windows']))}",
        f"pushed: {fp['pushed']}",
        f"codegen: {fp['codegen']}",
    ])


def parse_line(line: str) -> tuple[str, dict]:
    """Inverse of format_line."""
    key, *fields = line.split(" | ")
    vals = dict(f.split(": ", 1) for f in fields)
    sites = [
        {"partition": part.split(",") if part else [], "bound": bound}
        for part, bound in (t.rsplit("@", 1) for t in _unbag(vals["windows"]).elements())
    ]
    return key, {
        "ops": _unbag(vals["ops"]),
        "joins": _unbag(vals["joins"]),
        "windows": sorted(sites, key=format_site),
        "pushed": vals["pushed"],
        "codegen": int(vals["codegen"]),
    }


def read_plans(path: str) -> dict[str, dict]:
    """{key: fingerprint} of the fingerprint lines in a PLANS.md."""
    with open(path) as fh:
        return dict(parse_line(ln) for ln in fh.read().splitlines() if " | ops: " in ln)


def violations(key: str, sites: list[dict]) -> list[dict]:
    """Window funnels among a key's sites (see the module docstring)."""
    return [
        {"key": key, "partition": s["partition"]} for s in sites
        if s["bound"] == "none"
        and all(c in LOW_CARD_COLS for c in s["partition"])
        and (key, s["partition"][0] if s["partition"] else "") not in WHITELIST
    ]


def join_smells(key: str, fp: dict) -> list[dict]:
    """Quadratic join shapes: a CartesianProduct node is an
    all-pairs shuffle-side cross join — never acceptable at corpus
    grain (broadcast nested-loop against a model-sized frame is the
    legitimate tiny-cross-join shape and is NOT flagged)."""
    return [
        {"key": key, "join": j} for j in fp["joins"]
        if j.startswith("CartesianProduct")
    ]


HEADER = """\
# PLANS — plan fingerprints

One line per registered key, sorted: the executed plan of
`queries()[key]` at sf0.01 with AQE off (its runtime re-plans race), as
`key | ops | joins | windows | pushed | codegen`, written by
`python scripts/plan_audit.py [key ...]`, whose docstring defines the
fields. The plans are built, not executed. Tier-1 rebuilds every line
and fails on any that differs from this file, so a plan change is this
file's line diff; one full plan is `df.explain("formatted")`. The lines
hold at a `defaultParallelism` of 4 or more (`local[N]`, N >= 4): below
that, `catalog.load` does not fan a one-row-group file out.

```text
"""


def plan_line(spark, key: str, sf_dir: str) -> str:
    """The PLANS.md line of ``queries()[key]`` built at ``sf_dir``,
    with AQE off for the call and no action run. AQE's runtime re-plans
    race: when both inputs of a join are small, whichever stage finishes
    first becomes the broadcast side. Staging is released first, so the
    key builds its own staged tables and its plan does not depend on
    which keys ran before it."""
    import __spark_entry__ as entry_mod
    from icecube_spark import staging

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        staging.release()
        df = entry_mod.queries()[key](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return format_line(key, fingerprint(plan))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def main(argv: list[str]) -> int:
    import json
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as entry_mod
    from icecube_spark import staging
    from icecube_spark.catalog import DEFAULT_SF_DIR
    from icecube_spark.session import get_spark

    # the scale-factor directories sit side by side
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    path = os.path.join(root, "PLANS.md")
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    keys = argv or sorted(qs)
    old = read_plans(path) if argv else {}
    lines = {k: format_line(k, fp) for k, fp in old.items() if k in qs}
    flagged, errors = [], {}
    for k in keys:
        print(f"== {k}", file=sys.stderr, flush=True)
        try:
            lines[k] = plan_line(spark, k, sf_dir)
        except Exception as exc:  # keep auditing the other keys
            errors[k] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        fp = parse_line(lines[k])[1]
        found = violations(k, fp["windows"]) + join_smells(k, fp)
        if found:
            print(json.dumps(found), flush=True)
        flagged.extend(found)
    staging.release()
    with open(path, "w") as fh:
        fh.write(HEADER + "".join(lines[k] + "\n" for k in sorted(lines)) + "```\n")
    print(json.dumps({
        "n_keys": len(keys),
        "flagged_keys": sorted({f["key"] for f in flagged}),
        "errors": errors,
    }, indent=1))
    return 1 if flagged or errors else 0


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv[1:]))
