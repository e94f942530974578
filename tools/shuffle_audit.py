"""Shuffle-budget audit: count the exchanges in every registered
query's physical plan and write SHUFFLES.md.

A shuffle is the unit of cluster cost — each Exchange repartitions its
input across the network. This audit makes the per-query shuffle budget
reviewable at a glance (and diffable across rounds): queries are listed
by descending exchange count, with broadcast exchanges (cheap: dim-sized
payloads) separated from hash/single-partition exchanges (data-sized),
plus the Python-eval markers (Arrow-vectorized stages).

Counts are CACHE-DEDUPED (VERDICT r6 item 6): a persisted subtree
prints once per consumer in the plan text, but its exchanges execute
once — the audit walks the SparkPlan tree and descends into each
InMemoryRelation exactly once (keyed by its cache builder), skips
ReusedExchange (executes at its original site), and still includes
subquery plans. The old regex-over-toString numbers were upper bounds;
these are the true static counts. A `raw` column keeps the per-
appearance count so the dedup effect stays visible.

Run: python tools/shuffle_audit.py  [writes SHUFFLES.md in this checkout]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

#: queries whose data-shuffle count legitimately exceeds 10 — each a
#: composition or bounded iteration, not an accidental re-execution
#: (those get persist() instead; see tfidf_cosine_pairs 35 -> 12).
JUSTIFIED = {
    "tfidf_cosine_pairs": (
        "11 = the SEQUENTIAL stages of a sparse-vector similarity "
        "pipeline, no stage executing twice (tf/w/wn all persisted "
        "after the audit caught 5x re-execution at 35): tokenize/TF, "
        "two-phase distinct DF, norms, both sides of the "
        "inverted-index self-join, the pair aggregate — plus 2 "
        "fixture-only spread() round-robins that no-op at scale"
    ),
    "retrieval_ndcg": (
        "eval harness composing the hybrid ranking, the exact-cosine "
        "judge and the per-query eval joins; round-8 deduped the "
        "ranking's internal scoring leg onto the eval's persisted "
        "scored frame and fused the eval tail into one outer join + "
        "one groupBy (20 -> 15), round-10's join-free RRF fusion "
        "took the ranking leg from 6 to 2 — what remains is each "
        "stage once, shortlist-grain after scoring"
    ),
    "dedup_cluster_labels": (
        "N_LABEL_ITERS bounded min-label propagation rounds over a "
        "checkpointed edge list — ~3 exchanges per round by design "
        "(converged labels: dedup_connected_components)"
    ),
    "dedup_cc_star": (
        "alternating large-star/small-star contraction — exchanges "
        "scale with O(log^2 n) ROUNDS, not with data width"
    ),
    "pagerank_near_dup": (
        "power iteration: 1 data shuffle per round + a scalar "
        "dangling-mass job, fixed round count"
    ),
    "kcore_near_dup": ("iterative degree-peel: 1-2 exchanges per "
                       "round, bounded rounds"),
    "dedup_connected_components": (
        "alternating large-star/small-star contraction (also "
        "registered as dedup_cc_star) — exchanges scale with "
        "O(log^2 n) ROUNDS, not with data width"
    ),
}

#: Queries whose returned frame is localCheckpoint-truncated: their
#: exchanges execute INSIDE the query call (the checkpoint is eager)
#: but the returned plan is a bare checkpoint scan, so the static
#: audit books them at ~0. Recorded here with their last
#: pre-truncation audited counts so the budget stays reviewable —
#: a regression inside these queries shows up in bench/SCALING
#: timings, not in this table.
CHECKPOINT_TRUNCATED = {
    "dedup_cluster_labels": (
        "~11 data shuffles at call time (last audited before the "
        "result moved behind an eager localCheckpoint): N_LABEL_ITERS "
        "bounded propagation rounds over the checkpointed edge list, "
        "~3 exchanges/round"
    ),
    "dedup_connected_components": (
        "large-star/small-star contraction (also registered as "
        "dedup_cc_star): 2-4 exchanges per round at call time, "
        "O(log^2 n) rounds, per-round localCheckpoint"
    ),
    "dedup_cc_star": (
        "large-star/small-star contraction: 2-4 exchanges per round "
        "at call time, O(log^2 n) rounds, per-round localCheckpoint"
    ),
}

_ARROW_CLASSES = {
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "MapInArrowExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "FlatMapCoGroupsInPandasExec",
}


def _walk(p, seen: set, c: dict) -> None:
    # every SparkPlan node has a session-unique id; a node (an
    # exchange under a cached relation consumed 5 times, a scalar
    # subquery referenced by 3 operators) EXECUTES once however many
    # times it appears — visit each id once
    nid = p.id()
    if nid in seen:
        return
    seen.add(nid)
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(p.initialPlan(), seen, c)
        return
    if cls == "InMemoryTableScanExec":
        key = ("cache", p.relation().cacheBuilder().hashCode())
        if key not in seen:
            seen.add(key)
            _walk(p.relation().cachedPlan(), seen, c)
        return
    if cls == "ShuffleExchangeExec":
        part = p.outputPartitioning().toString()
        if part.startswith("SinglePartition"):
            c["single"] += 1
        else:
            c["data"] += 1
    elif cls == "BroadcastExchangeExec":
        c["bcast"] += 1
    elif cls in _ARROW_CLASSES:
        c["arrow"] += 1
    ch = p.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), seen, c)
    sq = p.subqueries()
    for i in range(sq.size()):
        _walk(sq.apply(i), seen, c)


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark("shuffle-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    rows = []
    for name, fn in sorted(queries.items()):
        try:
            df = fn(spark, SF_DIR)
            jplan = df._jdf.queryExecution().executedPlan()
            plan_txt = jplan.toString()
            c = {"data": 0, "single": 0, "bcast": 0, "arrow": 0}
            _walk(jplan, set(), c)
        except Exception as exc:  # noqa: BLE001 - audit must not abort
            rows.append((name, None, None, None, None,
                         type(exc).__name__))
            continue
        raw = len(
            re.findall(r"Exchange (?:hash|range)partitioning", plan_txt)
        )
        rows.append(
            (name, c["data"], raw, c["single"], c["bcast"], c["arrow"])
        )

    rows.sort(key=lambda r: (-(r[1] or 0), r[0]))
    lines = [
        "# SHUFFLES — per-query exchange budget (physical plans at "
        f"{SF_DIR})",
        "",
        "Generated by `tools/shuffle_audit.py`. `data shuffles` =",
        "hash + range exchanges (data-sized network repartitions — the",
        "number that matters at 100 TB), CACHE-DEDUPED: each persisted",
        "subtree's exchanges are counted once (they execute once),",
        "ReusedExchange is not double-counted, subquery plans are",
        "included. `raw` = the per-appearance upper bound the plan",
        "TEXT shows (cached subtrees print once per consumer). `1-",
        "part` = single-partition exchanges (all lint-allowlisted:",
        "scalar aggregates or provably tiny frames). `bcast` =",
        "broadcast exchanges (dim-sized payloads shipped to every task",
        "— cheap by design). `arrow` = vectorized Python stages. AQE",
        "may fuse or convert some of these at runtime; counts are the",
        "static executed-plan shape.",
        "",
        "| query | data shuffles | raw | 1-part | bcast | arrow |",
        "|---|---|---|---|---|---|",
    ]
    for name, dx, raw, sx, bc, ar in rows:
        if dx is None:
            lines.append(f"| {name} | plan-error | | | | {ar} |")
        else:
            lines.append(
                f"| {name} | {dx} | {raw} | {sx} | {bc} | {ar} |"
            )
    lines += [
        "",
        "## Justified >10-shuffle queries",
        "",
    ]
    flagged = {name for name, dx, *_ in rows
               if dx is not None and dx > 10}
    for name in sorted(flagged):
        reason = JUSTIFIED.get(name)
        lines.append(
            f"- `{name}`: {reason}" if reason
            else f"- `{name}`: UNJUSTIFIED — investigate"
        )
    lines += [
        "",
        "## Checkpoint-truncated queries (exchanges execute at call "
        "time, invisible above)",
        "",
        "These return an eagerly localCheckpoint-ed frame: the static "
        "plan the audit walks is a bare checkpoint scan, so the table "
        "books ~0 where the call actually runs the counts below. "
        "Regressions here surface in bench/SCALING timings, not in "
        "this table.",
        "",
    ]
    for name, note in sorted(CHECKPOINT_TRUNCATED.items()):
        lines.append(f"- `{name}`: {note}")
    total = sum(r[1] or 0 for r in rows)
    n = len(rows)
    lines += [
        "",
        f"**{n} queries, {total} data-sized exchanges total "
        f"({total / n:.1f}/query, cache-deduped; checkpoint-truncated "
        f"queries above excluded from the total by construction).**",
        "",
    ]
    with open(os.path.join(REPO, "SHUFFLES.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote SHUFFLES.md ({n} queries, {total} data shuffles)")


if __name__ == "__main__":
    main()
