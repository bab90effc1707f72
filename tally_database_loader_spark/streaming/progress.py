"""Sync run log (SURVEY §2.H6).

The reference relays per-table import logs and child-process sync events to
a browser console over WebSocket (reference src/server.mts:13-15,32-40;
src/logger.mts:13-28; per-table counts src/tally.mts:360; import-log.txt).
Here a plain run-log writer keeps the same line shape; GUI mode
(``__main__.serve``) overrides ``log_line`` to put each line on the sync
server's ``/log`` feed as well.
"""

from __future__ import annotations

import datetime


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
