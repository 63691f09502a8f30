"""Physical-plan audit over every driver query → PLANS.md.

Executes each `__spark_entry__.queries()` entry at sf0.01 (so AQE settles
on its FINAL plan) and records the plan-shape facts that matter at 100 TB:
shuffle count, broadcast joins, whole-stage-codegen stages, Python
(Arrow/eval) stages, sort-merge joins, and whether a TakeOrderedAndProject
(heap top-k, never a global sort) handles the limit.  The output is a
regenerable evidence table — rerun after any operator change:

    python tools/plan_audit.py          # writes PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(
            re.findall(r"Exchange (?:hash|range|SinglePartition|RoundRobin)", plan)
        ),
        # widths of the repartition(n) fan-outs (operators/_parallel.fan_out
        # and explicit repartitions), in plan order
        "fan_outs": [int(n) for n in re.findall(r"Exchange RoundRobinPartitioning\((\d+)\)", plan)],
        "bcast_joins": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("FlatMapGroupsInPandas"),
        "topk_heap": plan.count("TakeOrderedAndProject"),
        "bnl": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
    }


def main() -> int:
    # audit the checkout this script lives in; done here, not at import, so
    # a caller importing audit_plan keeps its own open_vector_tile_spark
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from open_vector_tile_spark.plans import get_spark

    spark = get_spark("plan-audit", cores=8)
    rows = []
    for name, fn in sorted(entry.queries().items()):
        try:
            df = fn(spark, SF)
            n = len(df.collect())  # execute THIS df so AQE finalizes it
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the adaptive toString appends the pre-AQE "Initial Plan" —
            # audit only the final one
            plan = plan.split("== Initial Plan ==")[0]
            facts = audit_plan(plan)
            rows.append((name, n, facts, None))
        except Exception as exc:  # pragma: no cover - audit tool
            rows.append((name, None, None, str(exc)[:120]))
    lines = [
        "# PLANS — executed physical-plan audit (sf0.01, AQE final plans)",
        "",
        "Generated by `python tools/plan_audit.py`; rerun after operator",
        "changes.  Columns: shuffles (Exchange hash/range/single/round-robin),",
        "the widths of the round-robin fan-outs among them, broadcast",
        "hash joins, sort-merge joins, distinct whole-stage-codegen stages,",
        "Python/Arrow stages, TakeOrderedAndProject top-k heaps, and",
        "broadcast-nested-loop/cartesian joins.  BNL > 0 is reviewed, not",
        "banned: every nonzero here is a deliberate broadcast CROSS join",
        "whose build side is bounded by construction — a 1-row stats/filter",
        "aggregate (bm25, tfidf, bloom; mix_weights' total + sorted-fold",
        "normalizer), a small anchor/covering dim (knn, spatial_join_dist,",
        "grid_remap), or a <=5-row probe side (pq_topk's in-query recall",
        "gate joins the exact-L2 top-50 of 5 query vectors); an UNBOUNDED",
        "nested loop would be a bug.",
        "",
        "| query | rows | shuffles | fan-outs | bcast | smj | codegen | python | topk | BNL |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    bad = 0
    for name, n, facts, err in rows:
        if err:
            lines.append(f"| {name} | ERROR: {err} | | | | | | | | |")
            bad += 1
            continue
        lines.append(
            f"| {name} | {n} | {facts['exchanges']} "
            f"| {' '.join(map(str, facts['fan_outs'])) or '-'} | {facts['bcast_joins']} "
            f"| {facts['smj']} | {facts['codegen']} | {facts['python']} "
            f"| {facts['topk_heap']} | {facts['bnl']} |"
        )
        if facts["bnl"]:
            bad += 1
    total_bnl = sum(f["bnl"] for _, _, f, e in rows if not e)
    lines += [
        "",
        f"Queries audited: {len(rows)}; nested-loop/cartesian joins: {total_bnl}.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"PLANS.md written; {len(rows)} queries, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
