#!/usr/bin/env python3
"""Dump `.explain('formatted')` for named slots into plans/<tag>/
<slot>_<suffix>.txt — the before/after evidence pair the optimization
rounds commit (VERDICT r11 #7).

Usage: python tools_dump_slot_plans.py <tag> <suffix> <slot> [<slot>...]
e.g.   python tools_dump_slot_plans.py r12 before lm_score_suite
Per-run ids are normalized (``tools_dump_plans.normalize_plan``) so
before/after diffs are clean.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools_dump_plans import normalize_plan  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix, *slots = sys.argv[1:]
    from tally_database_loader_spark.plans import gate
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS
    from tally_database_loader_spark.session import get_spark
    plans = dict(gate.QUERIES)
    plans.update(BENCH_PLANS)
    unknown = [s for s in slots if s not in plans]
    if unknown:
        sys.exit(f"unknown slot(s): {', '.join(unknown)}")
    spark = get_spark("plandump")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    for slot in slots:
        df = plans[slot](spark, SF_DIR)
        plan = normalize_plan(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(out_dir, f"{slot}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan.strip() + "\n")
        print(path)
    spark.stop()


if __name__ == "__main__":
    main()
