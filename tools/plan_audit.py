"""Physical-plan audit over the whole registry: `python
tools/plan_audit.py [--sf-dir DIR] [name ...]`.

For every registered query, compiles the physical plan (no execution)
and counts the structures that matter at 100 TB: parquet scans (and
scans per distinct table), exchanges, single-partition exchanges,
explodes, join strategies, cartesian products, and Python-eval nodes
(Arrow-batched vs row-at-a-time). It also applies the two plan-tree
rules that tests/test_plan_invariants.py asserts over the registry:
partition-less windows over unbounded inputs, and duplicated exchange
work (`duplicate_exchanges`). Prints one JSON line per query plus a
summary of flagged queries.

Flags are for a human to read, not failures: the fixture-window L3/L4
forms legitimately use a single partition (their scale-safe twins are
separate queries), and the test suite keeps the exact allowlists. The
audit makes every such choice visible so it is a decision, not an
accident. The exit code is 1 when any query fails to build or plan.
"""

from __future__ import annotations

import json
import re
import sys

from sweep import parse, parser, session, sweep


def _count_exchanges(plan: str) -> tuple[int, int, int]:
    """(shuffle, broadcast, reused) Exchange node counts.

    Counted per-line by node NAME, not by substring: a naive
    ``plan.count("Exchange")`` also hits ``ReusedExchange`` and
    ``BroadcastExchange``, and a ReusedExchange line embeds its child's
    full description (including the literal ``Exchange hashpartitioning``
    text), so even a regex over the whole string over-counts.
    """
    shuffle = broadcast = reused = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-*()0123456789")
        if node.startswith("ReusedExchange"):
            reused += 1
        elif node.startswith("BroadcastExchange"):
            broadcast += 1
        elif node.startswith("Exchange"):
            shuffle += 1
    return shuffle, broadcast, reused


def audit_frame(df) -> dict:
    """``audit_plan`` over the frame's compiled physical plan."""
    return audit_plan(df._jdf.queryExecution().executedPlan().toString())


def audit_plan(plan: str) -> dict:
    tables = re.findall(r"Scan parquet\s*\S*\[?([a-z_]*)", plan)
    scan_files = re.findall(r"Location:.*?/([a-z_]+)\.parquet", plan)
    per_table: dict[str, int] = {}
    for t in scan_files or tables:
        if t:
            per_table[t] = per_table.get(t, 0) + 1
    shuffle_ex, broadcast_ex, reused_ex = _count_exchanges(plan)
    return {
        "scans": plan.count("Scan parquet"),
        "scans_per_table": per_table,
        "exchanges": shuffle_ex,
        "broadcast_exchanges": broadcast_ex,
        "reused_exchanges": reused_ex,
        "single_partition": plan.count("SinglePartition"),
        "generates": plan.count("Generate"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "arrow_python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("FlatMapCoGroupsInPandas"),
        "row_python": plan.count("BatchEvalPython"),
    }


# --- partition-less Window audit --------------------------------------
# A Window with no PARTITION BY moves its entire input to ONE
# partition — fine above an aggregate/limit whose output is
# schema-sized, a 100 TB scale-killer above anything corpus-sized.
# Tree walk over the JVM plan (not text): WindowExec's partitionSpec
# and the bounding Aggregate/Limit are unambiguous on the nodes,
# brittle in the string form.

# Only WindowExec is the hazard: WindowGroupLimitExec is Spark's
# rank-limit PUSHDOWN (a partial-mode WGL keeps k rows per partition,
# scale-safe by construction), so it counts as a BOUND below.
_WINDOW_NODES = {"WindowExec"}
_BOUNDING_NODES = {
    # aggregates: output is group-count-sized, not input-sized
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    # limits: output is limit-sized by construction
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "TakeOrderedAndProjectExec",
    "WindowGroupLimitExec",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _jchildren(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.initialPlan()]
    if name == "ReusedExchangeExec":
        # references (not re-executes) another exchange subtree — the
        # bound, if any, lives in the referenced child
        return [node.child()]
    return _seq(node.children())


# Row-multiplying nodes BETWEEN a bound and the window re-expand
# cardinality (explode(agg(...))), so the bounded-subtree search stops
# when it crosses one. Every join exec can multiply rows, so any *Join*
# node name stops it — and CartesianProductExec, whose name does NOT
# contain "Join", is listed explicitly.
_ROW_MULTIPLYING_NODES = {
    "GenerateExec",
    "ExpandExec",
    "CartesianProductExec",
}


def _is_row_multiplying(name: str) -> bool:
    return name in _ROW_MULTIPLYING_NODES or "Join" in name


def _subtree_is_bounded(node) -> bool:
    name = node.getClass().getSimpleName()
    if name in _BOUNDING_NODES:
        return True
    if _is_row_multiplying(name):
        return False
    children = _jchildren(node)
    if name == "UnionExec":
        # a union's cardinality is the SUM of its children — one
        # bounded branch does not bound the union
        return bool(children) and all(
            _subtree_is_bounded(c) for c in children
        )
    return any(_subtree_is_bounded(c) for c in children)


def unbounded_global_windows(df) -> list[str]:
    """Partition-less Window nodes whose input subtree carries NO
    Aggregate/Limit bound — each is a whole-input single-partition
    sort. Returns one description per violation (empty = clean)."""
    out: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if (
            name in _WINDOW_NODES
            and node.partitionSpec().isEmpty()
            and not any(_subtree_is_bounded(c) for c in _jchildren(node))
        ):
            out.append(
                f"{name} with empty partitionSpec over an unbounded "
                f"input: {node.nodeName()}"
            )
        for c in _jchildren(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


# --- duplicate-work audit ---------------------------------------------
# AQE reuses an exchange only when its subtree matches another one
# EXACTLY under Catalyst's `canonicalized` form. Column pruning breaks
# that: two consumers of one frame that read different columns get two
# exchanges that differ only in their column lists, and the input runs
# twice. The rule fingerprints every exchange subtree with pruning
# ignored — projections, scan column lists and aggregate functions
# skipped, inferred IsNotNull conjuncts dropped — and flags a pair whose
# fingerprints match but whose canonical forms do not.

# carry no work of their own beyond the column list
_TRANSPARENT_NODES = {
    "ProjectExec", "ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec"
}
_GROUPING_ALIAS = "_groupingexpression"


def _sql(e, aliases: dict) -> str:
    """`e.sql()` (names, no expression ids), with the planner's
    `_groupingexpression` aliases replaced by what they alias — every
    pulled-out grouping key prints under that one name."""
    text = e.sql()
    if _GROUPING_ALIAS not in text:
        return text
    if e.getClass().getSimpleName() == "AttributeReference":
        return aliases.get(e.exprId().id(), text)
    kids = ", ".join(_sql(c, aliases) for c in _seq(e.children()))
    return f"{text}[{kids}]"


def _conjuncts(e, aliases: dict) -> list[str]:
    """Condition conjuncts without IsNotNull: Catalyst infers those on
    one join side only, so they differ between consumers of the same
    input."""
    kind = e.getClass().getSimpleName()
    if kind == "And":
        return _conjuncts(e.left(), aliases) + _conjuncts(e.right(), aliases)
    return [] if kind == "IsNotNull" else [_sql(e, aliases)]


def _node_key(node, name: str, aliases: dict):
    """What two nodes must share to do the same work, column lists
    aside; None makes the node transparent."""

    def sqls(seq) -> tuple[str, ...]:
        return tuple(_sql(e, aliases) for e in _seq(seq))

    def cond(opt) -> tuple[str, ...]:  # sorted: pushdown order varies
        c = _conjuncts(opt.get(), aliases) if opt.isDefined() else []
        return tuple(sorted(c))

    if name in _TRANSPARENT_NODES:
        return None
    if name.endswith("AggregateExec"):
        return (name, sqls(node.groupingExpressions()))
    if name == "FilterExec":
        conj = tuple(sorted(_conjuncts(node.condition(), aliases)))
        return (name, conj) if conj else None
    if name.endswith("HashJoinExec") or name == "SortMergeJoinExec":
        keys = (sqls(node.leftKeys()), sqls(node.rightKeys()))
        return (name, node.joinType().toString(), keys, cond(node.condition()))
    if name == "BroadcastNestedLoopJoinExec":
        sides = (node.joinType().toString(), node.buildSide().toString())
        return (name, sides, cond(node.condition()))
    if name == "WindowExec":
        return (name, sqls(node.partitionSpec()), sqls(node.orderSpec()))
    if name == "GenerateExec":
        return (name, _sql(node.generator(), aliases), node.outer())
    if name == "ShuffleExchangeExec":
        p = node.outputPartitioning()
        kind = p.getClass().getSimpleName()
        keyed = kind in ("HashPartitioning", "RangePartitioning")
        exprs = sqls(p.children()) if keyed else ()
        return (name, kind, p.numPartitions(), exprs)
    if name == "FileSourceScanExec":
        return (name, node.relation().location().rootPaths().toString())
    if name == "RDDScanExec":  # a pin: the checkpointed RDD is the input
        return (name, node.rdd().id())
    if name == "InMemoryTableScanExec":
        return (name, node.relation().cacheBuilder().hashCode())
    if name == "RangeExec":
        return (name, node.range().toString())
    return (name, sqls(node.expressions()))  # anything else in full


def duplicate_exchanges(df) -> list[str]:
    """Exchange subtrees that compute the same input as another one but
    cannot be reused by it: equal with column pruning ignored, unequal
    under `canonicalized`. A broadcast of a scan plus filters and
    projections is exempt — the broadcast threshold bounds its size.
    Returns one description per duplicated subtree (empty = clean)."""
    aliases: dict = {}  # _groupingexpression exprId -> aliased sql
    exchanges: dict = {}  # fingerprint -> [exchange nodes]

    def walk(node) -> tuple[tuple, bool]:
        """(fingerprint, is the subtree a scan plus filters/projects);
        bottom-up, so a grouping alias is known before its users."""
        name = node.getClass().getSimpleName()
        kids = [walk(c) for c in _jchildren(node)]
        if name == "AdaptiveSparkPlanExec":
            return kids[0]
        if name == "ProjectExec":
            for e in _seq(node.projectList()):
                if e.getClass().getSimpleName() == "Alias" and e.name(
                ).startswith(_GROUPING_ALIAS):
                    aliases[e.exprId().id()] = e.child().sql()
        scan_only = (
            "Scan" in name
            or name in _TRANSPARENT_NODES | {"FilterExec", "RangeExec"}
        ) and all(s for _, s in kids)
        key = _node_key(node, name, aliases)
        fps = tuple(fp for fp, _ in kids)
        fp = fps[0] if key is None else (key, fps)
        if name == "ShuffleExchangeExec" or (
            name == "BroadcastExchangeExec" and not kids[0][1]
        ):
            exchanges.setdefault(fp, []).append(node)
        return fp, scan_only

    walk(df._jdf.queryExecution().executedPlan())
    out = []
    for nodes in exchanges.values():
        forms = [nodes[0]]
        for n in nodes[1:]:
            if not any(n.sameResult(f) for f in forms):
                forms.append(n)
        if len(forms) > 1:
            cols = [[a.name() for a in _seq(f.output())] for f in forms]
            out.append(f"{forms[0].nodeName()} x{len(nodes)}, columns {cols}")
    return out


def flags_for(a: dict) -> list[str]:
    out = []
    if a["cartesian"]:
        out.append("CARTESIAN")
    if a["row_python"]:
        out.append("ROW_PYTHON")
    if a["single_partition"] >= 2:
        out.append(f"SINGLE_PART x{a['single_partition']}")
    return out


def _audit(df) -> tuple[dict, list[str]]:
    a = audit_frame(df)
    fl = flags_for(a)
    for v in unbounded_global_windows(df):
        fl.append(f"UNBOUNDED_GLOBAL_WINDOW: {v[:120]}")
    for v in duplicate_exchanges(df):
        fl.append(f"DUPLICATE_EXCHANGE: {v[:160]}")
    return a, fl


def main(argv=None) -> int:
    args = parse(parser(__doc__), argv)
    (sf_dir,) = args.sf_dir
    spark = session("plan-audit")
    flagged: dict[str, list[str]] = {}
    failed = 0
    for r in sweep(spark, args.names, sf_dir, _audit):
        if r.error is not None:
            print(json.dumps({"name": r.name, "error": r.error[:200]}))
            flagged[r.name] = ["ERROR"]
            failed += 1
            continue
        a, fl = r.value
        if fl:
            flagged[r.name] = fl
        print(json.dumps({"name": r.name, **a, "flags": fl}))

    print(
        json.dumps(
            {"metric": "flagged", "n": len(flagged), "queries": flagged}
        ),
        file=sys.stderr,
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
