"""CLI sync runner — the reference's ``node dist/index.mjs`` entry point
(reference src/index.mts:44-90) as ``python -m tally_database_loader_spark``.

Same UX: ``config.json`` defaults layered under ``--section-key value``
overrides (A5), one-shot import when ``tally.frequency <= 0``, a polling
loop otherwise (H1; the engine-native continuous mode is the Structured
Streaming source in ``streaming/continuous.py`` — this loop is the
reference-parity on-demand scheduler), per-table import-log lines and a
completion message (``src/tally.mts:360``, ``src/logger.mts``).

Sources (``tally`` section):
- ``dumpdir``: a directory of per-table TDL response files
  ``{table}.xml`` (the XML-dump workflow; parsed distributed by
  ``read_tdl_response``). Missing files are skipped.
- otherwise ``server``/``port``: live Tally HTTP fetch per table spec
  (requires a reachable Tally XML server, like the reference).

Sinks (``database.technology``):
- ``parquet`` (native): versioned hash-bucketed ``ParquetStore`` under
  ``database.loadpath`` + the B10 config table.
- ``csv`` / ``json``: one file per table under ``database.loadpath``
  with the reference's CSV conventions (BOM, quoting, blank dates).
- ``mssql`` / ``mysql`` / ``postgres``: JDBC batched inserts with the
  reference's batching levers (B1-B4).

Every sink loads the tables concurrently, one driver thread per table
(each load is a single-task job, so a serial loop would leave all but
one core idle); extraction stays serial, so a live Tally server sees one
request at a time. Each table's row count is observed on its write job,
never by a second scan. Import-log lines keep definition order and carry
each table's own seconds; in incremental mode the E-protocol merge is
logged once as a phase, followed by each merged table's row count from
the store's file statistics.

Table definitions come from ``tally.definition`` when it points at an
existing YAML file (A4), else the built-in 22-table reference model.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession

_sleep = time.sleep  # monkeypatch point for loop tests


def _load_specs(cfg):
    from .sources.registry import default_tables, load_yaml_spec
    path = str(cfg.get("tally", "definition") or "")
    if path and os.path.isfile(path):
        with open(path, encoding="utf-8") as fh:
            return load_yaml_spec(fh.read())
    return default_tables()


def _extract(spark: SparkSession, cfg, specs) -> dict[str, DataFrame]:
    tally = cfg["tally"]
    dumpdir = str(tally.get("dumpdir", "") or "")
    frames: dict[str, DataFrame] = {}
    if dumpdir:
        from .sources.tally_xml import read_tdl_response
        for name, spec in specs.items():
            p = os.path.join(dumpdir, f"{name}.xml")
            if os.path.isfile(p):
                frames[name] = read_tdl_response(spark, p, spec)
    else:
        from .sources.tally_http import fetch_table
        url = f"http://{tally['server']}:{tally['port']}"
        for name, spec in specs.items():
            frames[name] = fetch_table(
                spark, spec, url=url, company=tally["company"] or None)
    return frames


class SyncAborted(RuntimeError):
    """Raised between tables when a cooperative abort was requested."""


def _check_abort(aborted) -> None:
    if aborted is not None and aborted():
        raise SyncAborted("sync aborted")


def _sink(spark: SparkSession, db):
    """``load_one(name, df)``: the full-load writer of one table for the
    configured ``database.technology``."""
    from .sinks import writers
    tech = db["technology"]
    loadpath = str(db.get("loadpath", "") or "output")
    if tech == "parquet":
        from .operators.table_format import make_store
        store = make_store(loadpath, spark=spark,
                           fmt=str(db.get("format", "manifest") or "manifest"))
        return lambda name, df: store.write(df, name)
    if tech in ("csv", "json"):
        os.makedirs(loadpath, exist_ok=True)
        write = writers.write_csv if tech == "csv" else writers.write_json
        return lambda name, df: write(
            df, os.path.join(loadpath, f"{name}.{tech}"), single_file=True)
    if tech in ("mssql", "mysql", "postgres"):
        url = _jdbc_url(tech, db)
        creds = {"user": str(db["username"]), "password": str(db["password"])}
        return lambda name, df: writers.write_jdbc(
            df, url, f"{db['schema']}.{name}", technology=tech,
            properties=creds)
    raise SystemExit(f"unsupported database.technology: {tech}")


def _load(spark: SparkSession, cfg, frames: dict[str, DataFrame],
          log, aborted=None) -> dict[str, int]:
    """Full load of ``frames`` into the sink, the tables concurrently
    (``sinks.writers.load_tables``); one import-log line per loaded
    table, in definition order, with its observed row count and its own
    seconds. Raises ``SyncAborted`` after logging the tables that loaded
    when ``aborted()`` stopped any table from starting."""
    from .sinks.writers import load_tables
    loaded = load_tables(spark, frames, _sink(spark, cfg["database"]),
                         aborted)
    for name, (rows, seconds) in loaded.items():
        log.log_table(name, rows, seconds)
    if len(loaded) < len(frames):
        raise SyncAborted("sync aborted")
    return {name: rows for name, (rows, _) in loaded.items()}


def _jdbc_url(tech: str, db) -> str:
    host, port = db["server"], db["port"]
    if tech == "mssql":
        return (f"jdbc:sqlserver://{host}:{port};"
                f"databaseName={db['schema']}")
    scheme = {"mysql": "mysql", "postgres": "postgresql"}[tech]
    return f"jdbc:{scheme}://{host}:{port}/{db['schema']}"


def run_import(spark: SparkSession, cfg, log,
               aborted=None) -> dict[str, int]:
    """One sync: extract every configured table, load into the sink.

    ``tally.sync: full`` = truncate-and-load (B9, the reference default).
    ``tally.sync: incremental`` (parquet sink only) runs the E-protocol
    over the extracted frames — anti-join deletes, version-mismatch
    modifies, scoped upsert commits, cascades — logged as one timed
    phase plus each merged table's post-merge row count. Any table
    missing from the store (the very first run, or one newly added to
    the definition) then bootstraps with a full load — the reference's
    first-run behavior, applied per table so a definition edit can
    never be silently skipped. ``aborted`` is the cooperative-stop
    predicate (checked before the merge and as each table's load
    starts)."""
    specs = _load_specs(cfg)
    frames = _extract(spark, cfg, specs)
    db = cfg["database"]
    if str(cfg.get("tally", "sync")) != "incremental" \
            or db["technology"] != "parquet":
        return _load(spark, cfg, frames, log, aborted=aborted)
    from .operators.incremental import IncrementalSync
    from .operators.table_format import make_store
    store = make_store(str(db.get("loadpath", "") or "output"), spark=spark,
                       fmt=str(db.get("format", "manifest") or "manifest"))
    # diff/merge over the already-synced tables FIRST — bootstrapping a
    # new table would advance the sink AlterId watermark and mask the
    # pending changes of the old ones — then full-load any table missing
    # from the store (first run, or newly added to the definition;
    # silently skipping it would lose the table forever)
    existing = {t: df for t, df in frames.items() if store.exists(t)}
    counts: dict[str, int] = {}
    if existing:
        _check_abort(aborted)
        t0 = time.perf_counter()
        IncrementalSync(spark, store, specs).incremental_sync_frames(existing)
        log.log_phase("incremental sync", time.perf_counter() - t0)
        # post-merge sizes from the store's metadata; the merge is one
        # phase, so these lines carry no per-table time
        for name in existing:
            counts[name] = store.row_count(spark, name)
            log.log_table(name, counts[name])
    counts.update(_load(spark, cfg, {t: df for t, df in frames.items()
                                     if t not in existing},
                        log, aborted=aborted))
    return {t: counts[t] for t in frames}


def serve(cfg_path: str, *, spark: SparkSession,
          host: str = "127.0.0.1", port: int = 8997,
          cli_overrides: list[str] | None = None):
    """GUI mode (the reference's ``run-gui.bat`` → ``server.mjs``): a
    ``SyncServer`` whose ``POST /sync`` body is layered over the config
    file as section overrides and drives ``run_import`` on the shared
    SparkSession — the child-process fork of the reference replaced by a
    driver thread running distributed plans. ``cli_overrides`` are the
    launch command's ``--section-key value`` pairs, layered UNDER the
    POST body (file < CLI < GUI form — latest wins). Returns the started
    server (caller blocks or stops it)."""
    import datetime

    from .config import load_config
    from .streaming.progress import SyncLogger
    from .streaming.server import SyncServer

    def run_sync(config: dict, emit, aborted) -> None:
        cfg_text = None
        if os.path.isfile(cfg_path):
            with open(cfg_path, encoding="utf-8") as fh:
                cfg_text = fh.read()
        overrides: list[str] = list(cli_overrides or [])
        for section, kv in (config or {}).items():
            for key, val in (kv or {}).items():
                overrides += [f"--{section}-{key}", str(val)]
        cfg = load_config(cfg_text, overrides)

        class _FeedLogger(SyncLogger):
            def log_line(self, line):
                super().log_line(line)
                emit(line)

        log = _FeedLogger(str(cfg["database"].get("logpath", "")
                              or "import-log.txt"))
        try:
            counts = run_import(spark, cfg, log, aborted=aborted)
        except SyncAborted:
            msg = "Import aborted"
            log.log_message(msg, now=datetime.datetime.now())
            emit(msg)
            return
        msg = f"Import completed successfully ({sum(counts.values())} rows)"
        log.log_message(msg, now=datetime.datetime.now())
        emit(msg)

    return SyncServer(cfg_path, run_sync, host=host, port=port).start()


def main(argv: list[str] | None = None, *, spark: SparkSession | None = None,
         max_ticks: int | None = None) -> dict[str, int]:
    """Entry point. ``--config PATH`` names the config file (default
    ``./config.json`` when present, as the reference); every other
    ``--section-key value`` pair overrides it. ``--gui`` starts the sync
    control-plane server instead of syncing (reference run-gui.bat).
    ``max_ticks`` bounds the continuous loop for tests (None = run
    forever, like the reference's ``setInterval``)."""
    import datetime

    from .config import load_config
    from .streaming.progress import SyncLogger

    args = list(sys.argv[1:] if argv is None else argv)
    if "--help" in args or "-h" in args:
        print(__doc__)
        print("usage: python -m tally_database_loader_spark "
              "[--config config.json] [--gui] [--section-key value ...]")
        return {}
    cfg_path = "config.json"
    explicit_cfg = False
    if "--config" in args:
        i = args.index("--config")
        if i + 1 >= len(args):
            raise SystemExit("--config requires a path argument "
                             "(usage: --config config.json)")
        cfg_path = args[i + 1]
        explicit_cfg = True
        del args[i:i + 2]
    if explicit_cfg and not os.path.isfile(cfg_path):
        # only the IMPLICIT ./config.json may be absent (reference
        # behavior); an explicitly named file that does not exist would
        # silently run the sync against built-in defaults
        raise SystemExit(f"config file not found: {cfg_path}")
    if "--gui" in args:
        own = spark is None
        if own:
            from .session import get_spark
            spark = get_spark("tally-sync-gui")
        srv = serve(cfg_path, spark=spark,
                    cli_overrides=[a for a in args if a != "--gui"])
        print(f"Sync server started on {srv.url}")
        try:
            while max_ticks is None:
                time.sleep(3600)
        finally:
            srv.stop()
            if own:
                spark.stop()
        return {}
    cfg_text = None
    if os.path.isfile(cfg_path):
        with open(cfg_path, encoding="utf-8") as fh:
            cfg_text = fh.read()
    cfg = load_config(cfg_text, args)

    own_spark = spark is None
    if own_spark:
        from .session import get_spark
        spark = get_spark("tally-sync")
    log = SyncLogger(str(cfg["database"].get("logpath", "") or "import-log.txt"))

    def tick() -> dict[str, int]:
        counts = run_import(spark, cfg, log)
        log.log_message("Import completed successfully",
                        now=datetime.datetime.now())
        return counts

    try:
        freq_min = int(cfg.get("tally", "frequency") or 0)
        if freq_min <= 0:
            return tick()
        ticks = 0
        counts: dict[str, int] = {}
        while max_ticks is None or ticks < max_ticks:
            counts = tick()
            ticks += 1
            if max_ticks is not None and ticks >= max_ticks:
                break
            _sleep(freq_min * 60)
        return counts
    finally:
        if own_spark:
            spark.stop()


def cli() -> int:
    """``[project.scripts]`` entry. ``main`` returns the per-table row
    counts for tests and ``python -m`` callers, but setuptools wraps the
    script entry in ``sys.exit(...)`` — and ``sys.exit(<dict>)`` prints
    the dict to stderr and exits 1, reporting every successful sync as a
    shell failure. Swallow the counts, return a proper status code."""
    main()
    return 0


if __name__ == "__main__":
    main()
