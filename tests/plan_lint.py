"""Plan-quality linter behind tests/test_plan_lint.py.

The full-registry test enforces these rules on every declared query;
``assert_scalable_plan`` applies the same checks to one frame:

    from tests.plan_lint import assert_scalable_plan
    assert_scalable_plan(df)            # raises with the offending plan
    assert_scalable_plan(df, allow={"single_partition"})  # documented

Checked antipatterns — each one is benign at fixture scale and a
cluster-killer at 100 TB:

- ``cartesian``: CartesianProduct — O(|L|·|R|) rows.
- ``nested_loop``: BroadcastNestedLoopJoin — a join that degraded off
  the hash path (usually an inequality-only condition).
- ``single_partition``: Exchange SinglePartition — a global shuffle
  into ONE task. Legitimate for scalar aggregates and tiny-dim key
  assignment; fatal for fact-scale data.
- ``python_row_udf``: BatchEvalPython — a row-at-a-time Python UDF in
  the plan (the ~10-100x-slower-than-Arrow path). Pandas/Arrow
  evaluation (ArrowEvalPython / MapInPandas / MapInArrow) is allowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RULES: dict[str, str] = {
    "cartesian": "CartesianProduct",
    "nested_loop": "BroadcastNestedLoopJoin",
    "single_partition": "Exchange SinglePartition",
    "python_row_udf": "BatchEvalPython",
}


def plan_findings(df: DataFrame) -> dict[str, bool]:
    """Which antipatterns the physical plan of ``df`` contains."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {rule: marker in plan for rule, marker in RULES.items()}


_DIV_CLASSES = {"Divide", "IntegralDivide", "Remainder", "Pmod"}
#: expression classes that make a denominator (or an enclosing branch)
#: safe under ANSI: CASE/If evaluate branches lazily, NullIf/nullifzero
#: turn 0 into NULL (x / NULL is NULL, not an error), Greatest is the
#: greatest(d, 1) floor idiom.
_GUARD_CLASSES = {"CaseWhen", "If", "NullIf", "Greatest"}


def _parse_tree(flat: list[dict], i: int = 0):
    """Reconstruct one (node, children) tree from TreeNode.toJSON's
    preorder flat list; returns (tree, next_index)."""
    node = flat[i]
    children = []
    j = i + 1
    for _ in range(int(node.get("num-children", 0))):
        child, j = _parse_tree(flat, j)
        children.append(child)
    return (node, children), j


def _cls(node: dict) -> str:
    return node.get("class", "").rsplit(".", 1)[-1]


def _expr_flat_lists(val):
    """Yield expression flat lists from a plan-node JSON field value —
    either one flat list of expression dicts or a list of such lists."""
    if not isinstance(val, list) or not val:
        return
    if isinstance(val[0], dict) and "class" in val[0]:
        yield val
    elif isinstance(val[0], list):
        for sub in val:
            if sub and isinstance(sub[0], dict) and "class" in sub[0]:
                yield sub


def _expr_id(node: dict):
    eid = node.get("exprId") or {}
    return (eid.get("id"), eid.get("jvmId"))


def _subtree_has_guard(tree, defs: dict, seen: frozenset = frozenset()
                       ) -> bool:
    node, children = tree
    c = _cls(node)
    if c in _GUARD_CLASSES:
        return True
    if c == "Literal":
        v = node.get("value")
        # literal NULL divides to NULL (no ANSI error); nonzero literal
        # can't be zero. Only a literal 0 is left unguarded (flagged).
        return v is None or str(v) not in {"0", "0.0", "0.00"}
    if c == "Count":
        # count(1)/count(*) over a group is >= 1 (groups exist only
        # with rows); count(col) can be 0 when all values are NULL.
        return all(_cls(ch[0]) == "Literal" for ch in children) and children
    if c == "AttributeReference":
        # chase the defining Alias (an upstream Aggregate/Project/
        # Window output) so `n = count(*)` guards `s / n`
        eid = _expr_id(node)
        if eid in defs and eid not in seen:
            return _subtree_has_guard(defs[eid], defs, seen | {eid})
        return False
    return any(_subtree_has_guard(ch, defs, seen) for ch in children)


def _attr_names(tree, out: set):
    node, children = tree
    if _cls(node) == "AttributeReference":
        out.add(node.get("name", "?"))
    for ch in children:
        _attr_names(ch, out)


def _walk_divides(tree, guarded: bool, filtered_ids: set, defs: dict,
                  findings: list[str]) -> None:
    node, children = tree
    c = _cls(node)
    if c in _DIV_CLASSES and not guarded:
        den = children[1] if len(children) > 1 else None
        if den is not None and not _subtree_has_guard(den, defs):
            ids: set = set()
            _collect_expr_ids(den, ids)
            if not (ids and ids <= filtered_ids):
                names: set = set()
                _attr_names(den, names)
                findings.append(
                    f"{c} with unguarded denominator over "
                    f"{sorted(names) or ['<literal expr>']}"
                )
    # CaseWhen/If branches evaluate lazily; Try* wrappers (try_divide,
    # try_mod) catch the error by definition — either makes every
    # division underneath safe
    child_guard = guarded or c in {"CaseWhen", "If"} or c.startswith("Try")
    for ch in children:
        _walk_divides(ch, child_guard, filtered_ids, defs, findings)


def _collect_aliases(tree, defs: dict) -> None:
    node, children = tree
    if _cls(node) == "Alias" and children:
        defs[_expr_id(node)] = children[0]
    for ch in children:
        _collect_aliases(ch, defs)


def _collect_expr_ids(tree, out: set) -> None:
    node, children = tree
    if _cls(node) == "AttributeReference":
        eid = node.get("exprId") or {}
        out.add((eid.get("id"), eid.get("jvmId")))
    for ch in children:
        _collect_expr_ids(ch, out)


def divide_findings(df: DataFrame) -> list[str]:
    """ANSI divide-by-zero lint over the ANALYZED plan: every
    Divide/IntegralDivide/Remainder/Pmod must have its denominator
    guarded — a CASE/If/NullIf/greatest in the denominator subtree, a
    lazy CASE/If branch enclosing the division, a count(*)-style
    denominator, a non-zero (or NULL) literal, or an upstream
    Filter/Join condition constraining every attribute the denominator
    reads (optimistic: the filter is assumed to exclude zero — the
    point of the lint is surfacing divisions nobody thought about,
    round 6's recurring ADVICE bug class).

    KNOWN-UNSOUND by design: the optimistic Filter heuristic cleared 6
    real crash sites in round 7 (e.g. burstiness's filter on n_gaps
    does not imply sg + mu != 0). The sound counterpart is the DYNAMIC
    sweep — tests/test_degenerate_sweep.py executes every registry
    query under ANSI on a warehouse where every degenerate shape is
    present — so the division of labor is: this lint reviews NEW
    queries cheaply at plan level; the sweep is the ground-truth gate.
    Tightening the heuristic instead would flood the allowlist with
    hundreds of genuinely-guarded sites for no added safety.

    Returns human-readable findings; empty == lint-clean.
    """
    import json  # noqa: PLC0415

    flat_plan = json.loads(df._jdf.queryExecution().analyzed().toJSON())
    # pass 1: attribute exprIds constrained by ANY Filter/Join
    # condition count as guarded (HAVING n > 0, join on d != 0, ...),
    # and every Alias defines an exprId -> expression mapping so
    # `n = count(*)` guards a downstream `s / n`
    filtered_ids: set = set()
    defs: dict = {}
    trees: list = []
    cond_classes = {"Filter", "Join"}
    for pnode in flat_plan:
        is_cond = _cls(pnode) in cond_classes
        for key, val in pnode.items():
            if key in {"class", "num-children"}:
                continue
            for fl in _expr_flat_lists(val):
                tree, _ = _parse_tree(fl)
                trees.append(tree)
                _collect_aliases(tree, defs)
                if is_cond and key == "condition":
                    _collect_expr_ids(tree, filtered_ids)
    findings: list[str] = []
    for tree in trees:
        _walk_divides(tree, False, filtered_ids, defs, findings)
    return findings


def assert_scalable_plan(
    df: DataFrame, allow: frozenset[str] | set[str] = frozenset()
) -> None:
    """Raise ``ValueError`` if the plan contains a scale antipattern
    not explicitly allowed. ``allow`` entries are RULES keys — forcing
    the caller to name (and thereby document) each exception."""
    unknown = set(allow) - set(RULES)
    if unknown:
        raise ValueError(f"unknown lint rules in allow: {sorted(unknown)}")
    hits = [
        rule
        for rule, found in plan_findings(df).items()
        if found and rule not in allow
    ]
    if hits:
        plan = df._jdf.queryExecution().executedPlan().toString()
        raise ValueError(
            f"plan contains scale antipatterns {hits}:\n{plan}"
        )
