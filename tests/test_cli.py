"""CLI sync runner (__main__.py ↔ reference src/index.mts): config
layering, dump-dir extraction, sink dispatch, import-log lines, and the
bounded continuous loop."""

from __future__ import annotations

import json
import os

import pytest

from tally_database_loader_spark.__main__ import main

_DEFINITION = """
master:
  - name: mst_unit
    collection: Unit
    fields:
      - name: guid
        field: $Guid
        type: text
      - name: name
        field: $Name
        type: text
      - name: opening
        field: $OpeningBalance
        type: amount
transaction: []
"""


def _dump(tmp_path, rows):
    body = "\r\n".join(
        f"  <F01>{g}</F01><F02>{n}</F02><F03>{a}</F03>" for g, n, a in rows)
    d = tmp_path / "dump"
    d.mkdir(exist_ok=True)
    (d / "mst_unit.xml").write_text(
        f"<ENVELOPE>\r\n{body}\r\n</ENVELOPE>", encoding="utf-8")
    return str(d)


@pytest.fixture()
def setup(tmp_path):
    dumpdir = _dump(tmp_path, [
        ("u-1", "Nos", "10.00"),
        ("u-2", "Box &amp; Crate", "-2.50"),
    ])
    defpath = tmp_path / "spec.yaml"
    defpath.write_text(_DEFINITION, encoding="utf-8")
    cfgpath = tmp_path / "config.json"
    cfgpath.write_text(json.dumps({
        "database": {"technology": "csv",
                     "loadpath": str(tmp_path / "out"),
                     "logpath": str(tmp_path / "import-log.txt")},
        "tally": {"definition": str(defpath), "dumpdir": dumpdir},
    }), encoding="utf-8")
    return tmp_path, cfgpath


def test_cli_csv_sync_end_to_end(spark, setup):
    tmp_path, cfgpath = setup
    counts = main(["--config", str(cfgpath)], spark=spark)
    assert counts == {"mst_unit": 2}
    out = (tmp_path / "out" / "mst_unit.csv").read_text(encoding="utf-8-sig")
    assert "u-1" in out and "Box & Crate" in out  # entity unescape survives
    log = (tmp_path / "import-log.txt").read_text(encoding="utf-8")
    assert "mst_unit: 2 in " in log              # reference import-log shape
    assert "Import completed successfully" in log


def test_cli_override_and_parquet_sink(spark, setup, tmp_path):
    _, cfgpath = setup
    store_path = tmp_path / "pq"
    counts = main(["--config", str(cfgpath),
                   "--database-technology", "parquet",
                   "--database-loadpath", str(store_path)], spark=spark)
    assert counts == {"mst_unit": 2}
    from tally_database_loader_spark.operators.incremental import ParquetStore
    store = ParquetStore(str(store_path))
    got = {r.guid: str(r.opening) for r in store.read(spark, "mst_unit").collect()}
    assert got == {"u-1": "10.00", "u-2": "-2.50"}


def test_cli_continuous_loop_bounded(spark, setup, monkeypatch):
    import tally_database_loader_spark.__main__ as cli
    monkeypatch.setattr(cli, "_sleep", lambda s: None)
    tmp_path, cfgpath = setup
    counts = main(["--config", str(cfgpath),
                   "--tally-frequency", "1"], spark=spark, max_ticks=2)
    assert counts == {"mst_unit": 2}
    log = (tmp_path / "import-log.txt").read_text(encoding="utf-8")
    # two ticks ran without sleeping between (max_ticks bound, then stop)
    assert log.count("Import completed successfully") >= 2


_DEF_INCR = """
master:
  - name: mst_unit
    collection: Unit
    fields:
      - name: guid
        field: $Guid
        type: text
      - name: name
        field: $Name
        type: text
      - name: alterid
        field: $AlterId
        type: number
transaction: []
"""


def _dump_incr(tmp_path, rows):
    body = "\r\n".join(
        f"  <F01>{g}</F01><F02>{n}</F02><F03>{a}</F03>" for g, n, a in rows)
    d = tmp_path / "dump_incr"
    d.mkdir(exist_ok=True)
    (d / "mst_unit.xml").write_text(
        f"<ENVELOPE>\r\n{body}\r\n</ENVELOPE>", encoding="utf-8")
    return str(d)


def test_cli_incremental_sync_from_dump(spark, tmp_path):
    """tally.sync: incremental over an XML dump drives the E-protocol:
    first run bootstraps full, a mutated dump applies deletes/modifies/
    inserts via scoped commits, and an unchanged dump is a no-op tick
    (the store version history shows no extra commit churn)."""
    dumpdir = _dump_incr(tmp_path, [("u-1", "Nos", "1"), ("u-2", "Kg", "2")])
    defpath = tmp_path / "spec.yaml"
    defpath.write_text(_DEF_INCR, encoding="utf-8")
    cfgpath = tmp_path / "config.json"
    store_path = tmp_path / "incstore"
    cfgpath.write_text(json.dumps({
        "database": {"technology": "parquet", "loadpath": str(store_path),
                     "logpath": str(tmp_path / "log.txt")},
        "tally": {"definition": str(defpath), "dumpdir": dumpdir,
                  "sync": "incremental"},
    }), encoding="utf-8")

    counts = main(["--config", str(cfgpath)], spark=spark)   # bootstrap
    assert counts == {"mst_unit": 2}

    # mutate: delete u-1, modify u-2, insert u-3
    _dump_incr(tmp_path, [("u-2", "Kilogram", "3"), ("u-3", "Box", "4")])
    counts = main(["--config", str(cfgpath)], spark=spark)
    assert counts == {"mst_unit": 2}
    from tally_database_loader_spark.operators.incremental import ParquetStore
    store = ParquetStore(str(store_path))
    got = {r.guid: r.name for r in store.read(spark, "mst_unit").collect()}
    assert got == {"u-2": "Kilogram", "u-3": "Box"}

    # unchanged dump → the AlterId gate short-circuits (no new version)
    hist_before = store.history("mst_unit")
    main(["--config", str(cfgpath)], spark=spark)
    assert store.history("mst_unit") == hist_before


def test_cli_poll_loop_converges_and_idles(spark, tmp_path, monkeypatch):
    """The poll loop (``tally.frequency`` > 0) in incremental mode: the
    tick after the source changed leaves the store equal to the changed
    source, and a tick over an unchanged source commits no new version."""
    import tally_database_loader_spark.__main__ as cli
    from tally_database_loader_spark.operators.incremental import ParquetStore
    dumpdir = _dump_incr(tmp_path, [("u-1", "Nos", "1"), ("u-2", "Kg", "2")])
    defpath = tmp_path / "spec.yaml"
    defpath.write_text(_DEF_INCR, encoding="utf-8")
    cfgpath = tmp_path / "config.json"
    store_path = tmp_path / "loopstore"
    logpath = tmp_path / "log.txt"
    cfgpath.write_text(json.dumps({
        "database": {"technology": "parquet", "loadpath": str(store_path),
                     "logpath": str(logpath)},
        "tally": {"definition": str(defpath), "dumpdir": dumpdir,
                  "sync": "incremental", "frequency": 1},
    }), encoding="utf-8")
    store = ParquetStore(str(store_path))
    sleeps, after_tick2 = [], {}

    def between_ticks(seconds):
        sleeps.append(seconds)
        if len(sleeps) == 1:   # delete u-1, modify u-2, insert u-3
            _dump_incr(tmp_path, [("u-2", "Kilogram", "3"),
                                  ("u-3", "Box", "4")])
        else:
            after_tick2["rows"] = sorted(map(tuple, store.read(
                spark, "mst_unit").select("guid", "name", "alterid")
                .collect()))
            after_tick2["history"] = store.history("mst_unit")

    monkeypatch.setattr(cli, "_sleep", between_ticks)
    counts = main(["--config", str(cfgpath)], spark=spark, max_ticks=3)
    assert counts == {"mst_unit": 2}
    assert sleeps == [60, 60]
    assert after_tick2["rows"] == [("u-2", "Kilogram", 3), ("u-3", "Box", 4)]
    # tick 3 sees an unchanged source: the AlterId gate commits nothing
    assert store.history("mst_unit") == after_tick2["history"]
    log = logpath.read_text(encoding="utf-8")
    assert log.count("Import completed successfully") == 3


def test_cli_incremental_bootstraps_new_table_without_masking_changes(
        spark, tmp_path):
    """A table added to the definition AFTER the first sync must load —
    and its bootstrap must not advance the sink AlterId watermark before
    the old tables' pending changes are applied (the diff/merge runs
    over the existing tables FIRST)."""
    dumpdir = _dump_incr(tmp_path, [("u-1", "Nos", "1")])
    defpath = tmp_path / "spec.yaml"
    defpath.write_text(_DEF_INCR, encoding="utf-8")
    cfgpath = tmp_path / "config.json"
    store_path = tmp_path / "nbstore"
    cfgpath.write_text(json.dumps({
        "database": {"technology": "parquet", "loadpath": str(store_path),
                     "logpath": str(tmp_path / "log.txt")},
        "tally": {"definition": str(defpath), "dumpdir": dumpdir,
                  "sync": "incremental"},
    }), encoding="utf-8")
    assert main(["--config", str(cfgpath)], spark=spark) == {"mst_unit": 1}

    # add a second table to the definition AND mutate the first; the new
    # table carries a HIGHER alterid than the pending mst_unit change
    defpath.write_text(_DEF_INCR.replace(
        "transaction: []",
        """  - name: mst_category
    collection: Category
    fields:
      - name: guid
        field: $Guid
        type: text
      - name: name
        field: $Name
        type: text
      - name: alterid
        field: $AlterId
        type: number
transaction: []"""), encoding="utf-8")
    _dump_incr(tmp_path, [("u-1", "Numbers", "2")])
    d = tmp_path / "dump_incr"
    (d / "mst_category.xml").write_text(
        "<ENVELOPE>\r\n  <F01>c-1</F01><F02>Primary</F02><F03>9</F03>"
        "\r\n</ENVELOPE>", encoding="utf-8")
    counts = main(["--config", str(cfgpath)], spark=spark)
    assert counts == {"mst_unit": 1, "mst_category": 1}
    from tally_database_loader_spark.operators.incremental import ParquetStore
    store = ParquetStore(str(store_path))
    assert [r.name for r in store.read(spark, "mst_unit").collect()] \
        == ["Numbers"]  # the pending modify was NOT masked by the bootstrap
    assert store.read(spark, "mst_category").count() == 1


def test_run_import_cooperative_abort(spark, setup):
    """run_import checks the abort predicate between tables and raises
    SyncAborted — the consumer the GUI server's /abort wires in."""
    from tally_database_loader_spark.__main__ import SyncAborted, run_import
    from tally_database_loader_spark.config import load_config
    from tally_database_loader_spark.streaming.progress import SyncLogger
    tmp_path, cfgpath = setup
    cfg = load_config(cfgpath.read_text(encoding="utf-8"), [])
    log = SyncLogger(str(tmp_path / "abort-log.txt"))
    with pytest.raises(SyncAborted):
        run_import(spark, cfg, log, aborted=lambda: True)


def test_gui_serve_posts_config_and_syncs(spark, setup, tmp_path):
    """GUI mode parity (reference run-gui.bat → server.mjs → fork
    index.mjs with the posted config): POST /sync overrides layer onto
    the config file, the feed carries per-table import-log lines and a
    completion message, and the chosen sink receives the load."""
    import time as _time
    import urllib.request

    from tally_database_loader_spark.__main__ import serve

    _, cfgpath = setup
    srv = serve(str(cfgpath), spark=spark, port=0)
    try:
        body = json.dumps({"database": {
            "technology": "parquet",
            "loadpath": str(tmp_path / "guistore")}}).encode()
        req = urllib.request.Request(srv.url + "/sync", data=body,
                                     method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.read().decode() == "Sync started"
        deadline = _time.time() + 120
        lines: list[str] = []
        cursor = 0
        while _time.time() < deadline and "~" not in lines:
            with urllib.request.urlopen(
                    f"{srv.url}/log?since={cursor}", timeout=10) as resp:
                feed = json.loads(resp.read().decode())
            lines += feed["lines"]
            cursor = feed["next"]
            _time.sleep(0.05)
        assert "~" in lines
        assert any(l.startswith("mst_unit: 2 in ") for l in lines)
        assert any(l.startswith("Import completed successfully") for l in lines)
    finally:
        srv.stop()
    from tally_database_loader_spark.operators.incremental import ParquetStore
    assert ParquetStore(str(tmp_path / "guistore")).read(
        spark, "mst_unit").count() == 2


def test_cli_rejects_unknown_sink(spark, setup):
    _, cfgpath = setup
    with pytest.raises(SystemExit):
        main(["--config", str(cfgpath),
              "--database-technology", "oracle"], spark=spark)


def test_console_script_entry_exits_zero(monkeypatch):
    """ADVICE r3: setuptools wraps [project.scripts] in sys.exit(...);
    main() returns a counts dict, and sys.exit(<dict>) reports success as
    shell failure. The cli() wrapper must return a clean 0 instead."""
    from tally_database_loader_spark.__main__ import cli
    import tally_database_loader_spark.__main__ as m
    monkeypatch.setattr(m, "main", lambda *a, **k: {"mst_unit": 3})
    assert cli() == 0
    # and pyproject points the script at the wrapper, not main
    import pathlib
    toml = pathlib.Path(__file__).resolve().parents[1] / "pyproject.toml"
    assert "__main__:cli" in toml.read_text()


def test_cli_http_loop_and_abort(spark, setup, monkeypatch, stub_tally):
    """VERDICT r3 #6: the full CLI lifecycle against a live-ish Tally —
    the continuous frequency>0 loop fetching every tick over a stub
    Tally XML HTTP server (not a dump dir), plus the cooperative abort
    on the same HTTP-sourced config."""
    import tally_database_loader_spark.__main__ as cli
    from tally_database_loader_spark.__main__ import SyncAborted, run_import
    from tally_database_loader_spark.config import load_config
    from tally_database_loader_spark.streaming.progress import SyncLogger

    port, hits = stub_tally
    tmp, cfgpath = setup
    overrides = ["--tally-dumpdir", "",          # falsy ⇒ live HTTP path
                 "--tally-server", "127.0.0.1",
                 "--tally-port", str(port),
                 "--tally-company", "Acme Traders"]
    monkeypatch.setattr(cli, "_sleep", lambda s: None)
    counts = main(["--config", str(cfgpath), *overrides,
                   "--tally-frequency", "1"], spark=spark, max_ticks=2)
    assert counts == {"mst_unit": 2}
    assert len(hits) == 2  # one POST per table per tick, two ticks
    log = (tmp / "import-log.txt").read_text(encoding="utf-8")
    assert log.count("Import completed successfully") >= 2
    # cooperative abort raises cleanly on the HTTP-sourced config too
    cfg = load_config(cfgpath.read_text(encoding="utf-8"), overrides)
    with pytest.raises(SyncAborted):
        run_import(spark, cfg, SyncLogger(str(tmp / "abort-log.txt")),
                   aborted=lambda: True)


def test_cli_live_poll_loop_requires_company(spark, setup, stub_tally):
    """A live poll loop (``tally.frequency`` > 0, no dump directory)
    with an empty ``tally.company`` would sync whatever company Tally
    has open, so a company switched mid-loop would merge its rows over
    the previous company's. The CLI refuses to start it, naming the
    setting, before any request reaches Tally."""
    port, bodies = stub_tally
    _, cfgpath = setup
    with pytest.raises(SystemExit, match="tally.company"):
        main(["--config", str(cfgpath), "--tally-dumpdir", "",
              "--tally-server", "127.0.0.1", "--tally-port", str(port),
              "--tally-frequency", "1"], spark=spark, max_ticks=1)
    assert bodies == []


def test_cli_live_fetch_substitutes_the_date_window(spark, setup, stub_tally):
    """The live extraction posts a TDL program with every placeholder
    filled: ``SVFROMDATE`` carries the configured ``tally.fromdate`` and
    ``todate: auto`` the end of the default window, both in Tally's
    d-MMM-yyyy."""
    port, bodies = stub_tally
    _, cfgpath = setup
    counts = main(["--config", str(cfgpath), "--tally-dumpdir", "",
                   "--tally-server", "127.0.0.1", "--tally-port", str(port),
                   "--tally-fromdate", "2024-04-01"], spark=spark)
    assert counts == {"mst_unit": 2}
    assert len(bodies) == 1
    assert "{" not in bodies[0], "unfilled placeholder in the TDL program"
    assert "<SVFROMDATE>1-Apr-2024</SVFROMDATE>" in bodies[0]
    assert "<SVTODATE>31-Dec-2099</SVTODATE>" in bodies[0]


def test_explicit_missing_config_rejected(spark):
    """Review r4: an explicitly named --config path that does not exist
    must fail loudly — silently running against built-in defaults sent
    the sync to the wrong sink. The implicit ./config.json staying
    optional is reference behavior and unaffected."""
    with pytest.raises(SystemExit, match="config file not found"):
        main(["--config", "no-such-config.json"], spark=spark)


def test_gui_applies_cli_overrides(spark, setup, tmp_path):
    """Review r4: --section-key overrides given on the GUI launch command
    must layer into every sync (file < CLI < POST body)."""
    import time as _time
    import urllib.request

    from tally_database_loader_spark.__main__ import serve
    from tally_database_loader_spark.operators.incremental import ParquetStore

    _, cfgpath = setup
    srv = serve(str(cfgpath), spark=spark, port=0,
                cli_overrides=["--database-technology", "parquet",
                               "--database-loadpath",
                               str(tmp_path / "clistore")])
    try:
        req = urllib.request.Request(srv.url + "/sync", data=b"{}",
                                     method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.read().decode() == "Sync started"
        deadline = _time.time() + 120
        lines, cursor = [], 0
        while _time.time() < deadline and "~" not in lines:
            with urllib.request.urlopen(
                    f"{srv.url}/log?since={cursor}", timeout=10) as resp:
                feed = json.loads(resp.read().decode())
            lines += feed["lines"]
            cursor = feed["next"]
            _time.sleep(0.05)
        assert "~" in lines
    finally:
        srv.stop()
    # the CLI override redirected the sink away from the config's csv
    assert ParquetStore(str(tmp_path / "clistore")).read(
        spark, "mst_unit").count() == 2


def test_cli_format_knob_selects_backend(spark, setup, tmp_path):
    """``database.format`` has one legal value. 'manifest' syncs through
    ParquetStore; any other value, from the CLI flag or from the config
    file, fails in ``load_config`` with a ValueError naming the key,
    before any store directory exists, so a config written for another
    table format never silently gets a manifest store."""
    from tally_database_loader_spark.operators.incremental import (
        ParquetStore)
    _, cfgpath = setup
    counts = main(["--config", str(cfgpath),
                   "--database-technology", "parquet",
                   "--database-format", "manifest",
                   "--database-loadpath", str(tmp_path / "m")], spark=spark)
    assert counts == {"mst_unit": 2}
    assert ParquetStore(str(tmp_path / "m")).exists("mst_unit")
    for fmt in ("delta", "iceberg"):
        with pytest.raises(ValueError, match="database.format"):
            main(["--config", str(cfgpath),
                  "--database-technology", "parquet",
                  "--database-format", fmt,
                  "--database-loadpath", str(tmp_path / fmt)], spark=spark)
        assert not (tmp_path / fmt).exists()
    doc = json.loads(cfgpath.read_text(encoding="utf-8"))
    doc["database"].update(technology="parquet", format="delta",
                           loadpath=str(tmp_path / "file"))
    delta_cfg = tmp_path / "delta.json"
    delta_cfg.write_text(json.dumps(doc), encoding="utf-8")
    with pytest.raises(ValueError, match="database.format"):
        main(["--config", str(delta_cfg)], spark=spark)
    assert not (tmp_path / "file").exists()
