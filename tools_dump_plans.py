#!/usr/bin/env python3
"""Regenerate PLANS.md: the formatted physical plan of every headline
query at sf0.1 — the artifact a plan audit reads (broadcasts, pushdown,
partial aggregation, exchange counts) without re-running anything."""
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, SF_DIR  # noqa: E402


def normalize_plan(plan: str) -> str:
    """Replace the ids a Spark session assigns per run (expression ids,
    ``plan_id``, RDD numbers and the ``localCheckpoint`` call site) with
    placeholders, so two dumps of an identical plan are byte-identical."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    return re.sub(r"at localCheckpoint at [^,]*,",
                  "at localCheckpoint at <site>,", plan)


def main():
    from tally_database_loader_spark.plans import gate
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS
    from tally_database_loader_spark.session import get_spark
    spark = get_spark("plandump")
    out = io.StringIO()
    body = io.StringIO()
    bnlj: dict[str, int] = {}
    # headline slots (incl. the *_prod bench twins) plus the exact-arm
    # gate twins they replaced in the bench — same audit list as
    # test_bnlj_inventory_whitelisted
    audit = list(HEADLINE) + ["sketch_suite", "hll_token_distinct",
                              "temperature_resample"]
    for name in audit:
        if name in gate.QUERIES:
            df = gate.QUERIES[name](spark, SF_DIR)
        elif name in BENCH_PLANS:
            df = BENCH_PLANS[name](spark, SF_DIR)
        else:
            continue
        tree = df._jdf.queryExecution().executedPlan().toString()
        if "BroadcastNestedLoopJoin" in tree:
            bnlj[name] = tree.count("BroadcastNestedLoopJoin")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        plan = normalize_plan(plan)
        body.write(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    inventory = ", ".join(f"`{n}` ({c})" for n, c in sorted(bnlj.items())) \
        or "none"
    out.write(
        "# PLANS — formatted physical plans of the headline queries\n\n"
        f"Generated by `python tools_dump_plans.py` at `{SF_DIR}`. Things a\n"
        "reviewer can check per plan: filters reach the `FileScan`\n"
        "(PushedFilters/DataFilters), scans list only referenced columns,\n"
        "dimension joins are `BroadcastHashJoin`, aggregations appear as\n"
        "partial+final `HashAggregate` pairs, no `CartesianProduct`, and\n"
        "windows never plan an `Exchange SinglePartition`.\n\n"
        "**BroadcastNestedLoopJoin inventory** (review r4 #5 — checked as\n"
        "an invariant by `tests/test_plans_scale.py::"
        "test_bnlj_inventory_whitelisted`):\n"
        f"{inventory}. Exactly two benign shapes are adjudicated:\n"
        "1-row scalar cross-joins (`hll_token_distinct`, `sketch_suite`\n"
        "— the exact side-by-side verification values; and since r6\n"
        "`temperature_resample`/`selection_suite` — the in-plan (N, W)\n"
        "totals re-entering onto the GROUP-level threshold table, review\n"
        "r5 #3 — all benign at any scale) and the explicit |Q|=8\n"
        "query-set broadcast in the brute-force exact-kNN arms\n"
        "(`similarity_topk_suite`, `pq_adc_topk` — linear in corpus, the\n"
        "documented exact baseline beside the LSH/IVF/PQ arms). Any\n"
        "other BNLJ fails the test.\n")
    out.write(body.getvalue())
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "PLANS.md"), "w") as fh:
        fh.write(out.getvalue())
    print("PLANS.md written,", len(HEADLINE), "queries")
    spark.stop()


if __name__ == "__main__":
    main()
