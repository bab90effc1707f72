#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tally_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` in the repository root, which is also where run records
and traces are written. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A wrong result exits with status 1 after printing it; an
error exits with status 1 without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "cycle_s": "s", "peak_rss_mb": "MB"}


def per_layer_names() -> dict[str, str]:
    from perfbench.workloads import REPORTS, SLOTS
    units = {
        "session.start_s": "s", "main.run_import_s": "s",
        "tally_xml.parse_s": "s", "tally_xml.mb_per_s": "MB/s",
        "tally_xml.rows": "count", "tally_xml.tasks": "count",
        "store.write_s": "s", "store.bytes_written": "bytes",
        "store.files_written": "count", "store.jobs": "count",
        "store.files_read": "count", "store.space_ratio": "ratio",
        "merge.call_s": "s", "merge.scoped_base_s": "s",
        "merge.write_scoped_s": "s", "merge.jobs": "count",
        "merge.tasks": "count", "merge.shuffle_bytes": "bytes",
        "merge.buckets_rewritten": "count", "merge.bucket_hit_ratio": "ratio",
        "merge.bytes_rewritten": "bytes", "merge.rows_deleted": "count",
        "merge.rows_appended": "count",
        "report.plan_s": "s", "report.jobs": "count",
        "report.shuffle_bytes": "bytes",
        "spark.jobs": "count", "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.gc_s": "s", "trace.overhead_s": "s",
        "sync.full_s": "s",
        "report.library_s": "s", "report.p50_s": "s", "report.tail_s": "s",
        "llm.curation_s": "s", "run.failed_ratio": "ratio",
    }
    units.update({f"report.{r}_s": "s" for r in REPORTS})
    for s in SLOTS:
        units[f"llm.{s}.build_s"] = "s"
        units[f"llm.{s}.exec_s"] = "s"
    return units


def _env(work: str) -> None:
    """Process environment the session and its Python workers inherit:
    the repository on ``PYTHONPATH`` (pandas-UDF workers import the
    engine), one local core per CPU, and every temporary path inside the
    run's own directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    for key, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[key] = os.path.join(work, sub)
        os.makedirs(os.environ[key], exist_ok=True)
    # every JVM the session starts (the launcher and Spark's own) keeps its
    # temporary files in the run directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _calibrate(spark) -> dict:
    """Host witness: fixed single-core Python and Spark work. The Spark
    probe is timed twice and the second (JIT-warm) time recorded."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1000003
    py = time.perf_counter() - t0
    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.range(0, 50_000_000, 1, 1)
              .agg(F.sum((F.col("id") * 2654435761) % 1000003)).collect())
        times.append(time.perf_counter() - t0)
    return {"python_s": py, "spark_1core_s": times[1],
            "spark_1core_first_s": times[0]}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _tails(run) -> None:
    """Record each step kind's tail with its percentile and sample counts
    (the tail rule of ``checks.tail``)."""
    from perfbench import checks
    kinds = {kind for kind, _, _ in run.steps}
    out = {}
    for kind in sorted(kinds) + ["all"]:
        xs = [s for k, _, s in run.steps if kind in (k, "all")]
        value, pct, beyond = checks.tail(xs)
        out[kind] = {"value": value, "percentile": pct, "samples": len(xs),
                     "samples_beyond": beyond}
    run.info["tails"] = out


def end_to_end(run, spark) -> dict[str, float]:
    return {"setup_s": statistics.median(run.setup),
            "cycle_s": statistics.median(run.cycles),
            "peak_rss_mb": _jvm_peak_rss_mb(spark)}


def per_layer(run, session_s: float) -> dict[str, float]:
    """Per-layer numbers of a traced run, per cycle; the parse numbers are
    the median set-up parse. Layers the workload does not exercise read
    0."""
    from perfbench import checks
    from perfbench.trace import Tracer
    tr = run.tracer
    info = run.info
    n = len(run.cycles)
    out = {k: 0.0 for k in per_layer_names()}
    for k, v in run.layer.items():
        out[k] = v / n
    out["session.start_s"] = session_s
    if info.get("parse_s"):
        parse_s = statistics.median(info["parse_s"])
        out["tally_xml.parse_s"] = parse_s
        out["tally_xml.mb_per_s"] = info["xml_bytes"] / 1e6 / parse_s
        out["tally_xml.rows"] = sum(info["rows"].values())
        out["tally_xml.tasks"] = Tracer.total(
            tr.select("tally_xml.parse"), "tasks") / len(info["parse_s"])
    out["main.run_import_s"] = tr.self_times().get("main.run_import", 0.0) / n
    writes = [s for s in tr.select("store.", within="main.run_import")
              if s["name"] == "store.write"]
    out["store.write_s"] = max(
        0.0, Tracer.total(writes, "duration") / n - out["tally_xml.parse_s"])
    out["store.jobs"] = Tracer.total(writes, "jobs") / n

    merges = tr.select("incremental.sync_frames")
    if merges:
        inside = tr.select("", within="incremental.sync_frames")
        out["merge.call_s"] = Tracer.total(merges, "duration") / n
        for key, name in (("scoped_base_s", "store.scoped_base"),
                          ("write_scoped_s", "store.write_scoped")):
            out[f"merge.{key}"] = Tracer.total(
                [s for s in inside if s["name"] == name], "duration") / n
        for key in ("jobs", "tasks", "shuffle_bytes"):
            out[f"merge.{key}"] = Tracer.total(inside, key) / n

    reports = tr.select("report.")
    if reports:
        out["report.plan_s"] = Tracer.total(
            [s for s in reports if s["name"].endswith(".build")],
            "duration") / n
        out["report.jobs"] = Tracer.total(reports, "jobs") / n
        out["report.shuffle_bytes"] = Tracer.total(
            reports, "shuffle_bytes") / n
        rep = [s for kind, _, s in run.steps if kind == "report"]
        out["report.library_s"] = statistics.median(info["library_s"])
        out["report.p50_s"] = statistics.median(rep)
        out["report.tail_s"] = checks.tail(rep)[0]
    if info.get("full_sync_s"):
        out["sync.full_s"] = statistics.median(info["full_sync_s"])
    if any(kind == "slot" for kind, _, _ in run.steps):
        out["llm.curation_s"] = statistics.median(run.cycles)

    # the workload's timed calls: not the session start, the set-ups, nor
    # the untimed rename batch
    skip = {s["id"] for name in ("session", "setup", "rename.sync_frames")
            for s in tr.select("", within=name)}
    own = [s for s in tr.spans if s["id"] not in skip]
    for key, span_key in (("jobs", "jobs"), ("tasks", "tasks"),
                          ("shuffle_write_bytes", "shuffle_bytes"),
                          ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s")):
        out[f"spark.{key}"] = Tracer.total(own, span_key) / n
    out["trace.overhead_s"] = tr.overhead_s / n
    out["run.failed_ratio"] = run.failed / max(run.attempted, 1)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, "runs", tag)
    records = os.path.join(WORK, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)
    _env(work)
    spark = None
    try:
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, Run
        from tally_database_loader_spark.session import get_spark
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(WORKLOADS)}")
        load_before = os.getloadavg()
        tracer = Tracer(bool(args.trace))
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = get_spark("perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        run = Run(spark, tracer, work, args.seed, args.seconds)
        WORKLOADS[args.workload](run)
        witness = _calibrate(spark)
        run.info["wall_s"] = time.perf_counter() - t0
        _tails(run)
        if args.trace:
            metrics = per_layer(run, session_s)
            units = per_layer_names()
            tracer.dump(os.path.join(records, f"{tag}.trace.json"))
        else:
            metrics = end_to_end(run, spark)
            units = END_TO_END
        witness.update(nproc=len(os.sched_getaffinity(0)),
                       load_before=load_before, load_after=os.getloadavg())
        correct = not run.failures
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "host": witness,
                  "session_s": session_s, "setup": run.setup,
                  "cycles": run.cycles, "steps": run.steps,
                  "info": run.info, "failures": run.failures,
                  "unverified": run.unverified, "metrics": metrics}
        with open(os.path.join(records, f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        print(json.dumps({"host": witness, "unverified": run.unverified,
                          "failures": run.failures[:20]}, default=str))
        print(json.dumps({
            "correct": correct, "attempted": run.attempted,
            "failed": min(run.failed, run.attempted),
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}), flush=True)
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (its
    Python workers exit with it)."""
    proc = spark.sparkContext._gateway.proc
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
