"""In-memory spans around the calls the benchmark makes into the engine.

A span records its name, start, end and parent. While tracing is on, each
span also tags the Spark jobs it launches with its own job group, so the
jobs, tasks, shuffle bytes, spill and GC time read back from Spark's
status store are attributed to the innermost span that caused them.
Reading the status store happens once, after the last timed step, and
every second the tracer spends on its own bookkeeping is
added to ``overhead_s``.

With tracing off, ``span`` is a no-op context manager and no proxy is
installed, so untraced runs execute exactly the engine's own calls.
Spark's status store keeps the jobs of the whole run
(``spark.ui.retainedJobs`` is raised for every run, traced or not).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_IDLE = "perfbench-idle"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    def _group(self, sid: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", _IDLE if sid is None else f"perfbench-{sid}")

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": 0.0, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def collect(self) -> None:
        """Attach Spark job metrics to every span: jobs, completed tasks,
        shuffle write bytes, spilled bytes and GC seconds of the jobs its
        job group ran. Called once, after the last timed step; the status
        store's job and stage lists cross the gateway as two JSON strings.
        A stage shared by several jobs counts once, for the first job
        that lists it."""
        if self._sc is None:
            return
        t = time.perf_counter()
        jvm = self._sc._jvm
        store = self._sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for st in json.loads(mapper.writeValueAsString(store.stageList(
                None, False, False,
                self._sc._gateway.new_array(jvm.double, 0), None))):
            acc = stages[st["stageId"]]
            acc["shuffle_bytes"] += st["shuffleWriteBytes"]
            acc["spill_bytes"] += (st["memoryBytesSpilled"]
                                   + st["diskBytesSpilled"])
            acc["gc_s"] += st["jvmGcTime"] / 1000.0
        by_span: dict[int, dict] = {}
        seen: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if not group.startswith("perfbench-") or group == _IDLE:
                continue
            acc = by_span.setdefault(int(group.split("-")[1]), {
                "jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                "spill_bytes": 0, "gc_s": 0.0})
            acc["jobs"] += 1
            acc["tasks"] += job["numCompletedTasks"]
            for sid in job["stageIds"]:
                if sid not in seen:
                    seen.add(sid)
                    for key, v in stages.get(sid, {}).items():
                        acc[key] += v
        for rec in self.spans:
            rec.update(by_span.get(rec["id"], {}))
        self.overhead_s += time.perf_counter() - t

    # -- summaries -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by child
        spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def select(self, prefix: str, within: str | None = None) -> list[dict]:
        """Spans whose name starts with ``prefix``; with ``within``, only
        that span itself and the spans below it."""
        by_id = {s["id"]: s for s in self.spans}

        def under(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == within:
                    return True
                p = by_id[p]["parent"]
            return False

        return [s for s in self.spans if s["name"].startswith(prefix)
                and (within is None or under(s) or s["name"] == within)]

    @staticmethod
    def total(spans: list[dict], key: str) -> float:
        if key == "duration":
            return sum(s["end"] - s["start"] for s in spans)
        return sum(s.get(key, 0) for s in spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "overhead_s": self.overhead_s}, fh, indent=0)


class TracedStore:
    """Proxy around a table store that records a span per store call.
    Everything else is delegated unchanged."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._store, name)

    def write(self, df, table):
        with self._tracer.span("store.write", table=table):
            return self._store.write(df, table)

    def write_scoped(self, df, table, touched_keys):
        with self._tracer.span("store.write_scoped", table=table) as rec:
            n = self._store.write_scoped(df, table, touched_keys)
            rec["buckets"] = n
            return n

    def scoped_base(self, spark, table, touched_keys):
        with self._tracer.span("store.scoped_base", table=table):
            return self._store.scoped_base(spark, table, touched_keys)

    def read(self, spark, table, version=None):
        with self._tracer.span("store.read", table=table):
            return self._store.read(spark, table, version)

    def column_max(self, table, col):
        with self._tracer.span("store.column_max", table=table):
            return self._store.column_max(table, col)


@contextlib.contextmanager
def traced_engine(tracer: Tracer):
    """While active and tracing is on, ``run_import`` builds its store and
    parses its dumps through traced proxies (it looks both up at call
    time)."""
    if not tracer.enabled:
        yield
        return
    from tally_database_loader_spark.operators import table_format
    from tally_database_loader_spark.sources import tally_xml

    make_store, read_tdl = table_format.make_store, tally_xml.read_tdl_response

    def traced_make_store(*a, **kw):
        return TracedStore(make_store(*a, **kw), tracer)

    def traced_read(spark, path, spec):
        with tracer.span("tally_xml.read", table=spec.name):
            return read_tdl(spark, path, spec)

    table_format.make_store = traced_make_store
    tally_xml.read_tdl_response = traced_read
    try:
        yield
    finally:
        table_format.make_store = make_store
        tally_xml.read_tdl_response = read_tdl
