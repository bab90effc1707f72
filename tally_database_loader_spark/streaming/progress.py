"""Run/stream observability (SURVEY §2.H6).

The reference relays per-table import logs and child-process sync events to
a browser console over WebSocket (reference src/server.mts:13-15,32-40;
src/logger.mts:13-28; per-table counts src/tally.mts:360; import-log.txt).
Spark-first: a plain run-log writer with the same line shape, plus a
``StreamingQueryListener`` that turns Structured Streaming progress events
into the same feed — the engine-native replacement for the fork+WebSocket
relay (job state lives in the driver; no side channel needed).
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class SyncLogger:
    """import-log-style sink: one line per table load — name, row count,
    seconds (reference logs `{table}: {rows} in {s} sec`,
    src/tally.mts:360, src/logger.mts:13-19) — plus one line per timed
    sync phase. ``log_line`` is the hook a live feed overrides."""

    def __init__(self, path: str):
        self.path = path

    def log_table(self, table: str, rows: int,
                  seconds: float | None = None) -> None:
        """``seconds=None``: the table's time was not measured on its
        own (it was merged inside a phase logged by ``log_phase``)."""
        self.log_line(f"{table}: {rows}" if seconds is None
                      else f"{table}: {rows} in {seconds:.3f} sec")

    def log_phase(self, phase: str, seconds: float) -> None:
        self.log_line(f"{phase} in {seconds:.3f} sec")

    def log_line(self, line: str) -> None:
        self._append(line)

    def log_message(self, message: str, *, now: datetime.datetime) -> None:
        self._append(f"{now:%Y-%m-%d %H:%M:%S} {message}")

    def _append(self, line: str) -> None:
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(line + "\n")


class SyncProgressListener(StreamingQueryListener):
    """Streaming progress feed: collects per-batch (query, batch_id,
    input rows, duration) — what the reference's GUI console shows per
    poll. Attach with ``spark.streams.addListener``; events arrive on the
    listener bus, off the query's hot path."""

    def __init__(self, emit=None):
        self.events: list[dict] = []
        self._emit = emit

    def onQueryStarted(self, event):
        self.events.append({"kind": "started", "id": str(event.id),
                            "name": event.name})

    def onQueryProgress(self, event):
        p = event.progress
        rec = {"kind": "progress", "id": str(p.id), "batch_id": p.batchId,
               "num_input_rows": p.numInputRows}
        self.events.append(rec)
        if self._emit:
            self._emit(json.dumps(rec))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.events.append({"kind": "terminated", "id": str(event.id)})


def attach_listener(spark: SparkSession, emit=None) -> SyncProgressListener:
    listener = SyncProgressListener(emit)
    spark.streams.addListener(listener)
    return listener
