"""Config layering (SURVEY §2.A5) and observability (§2.H6) tests."""

from __future__ import annotations

import datetime

from tally_database_loader_spark.config import load_config
from tally_database_loader_spark.streaming.progress import SyncLogger


def test_config_layering_precedence():
    cfg = load_config(
        config_json='{"tally": {"fromdate": "2024-04-01", "frequency": 5},'
                    ' "database": {"technology": "postgres"}}',
        cli_args=["--tally-fromdate", "2024-07-01", "--database-port", "5432"])
    # CLI beats file beats defaults (reference src/index.mts:10-26)
    assert cfg.get("tally", "fromdate") == "2024-07-01"
    assert cfg.get("tally", "frequency") == 5            # file beats default
    assert cfg.get("tally", "todate") == "auto"          # default survives
    assert cfg.get("database", "technology") == "postgres"
    assert cfg.get("database", "port") == 5432           # coerced to int


def test_sync_logger(tmp_path):
    log = SyncLogger(str(tmp_path / "import-log.txt"))
    log.log_table("mst_ledger", 3546, 1.2345)
    log.log_message("sync complete",
                    now=datetime.datetime(2026, 8, 13, 10, 0, 0))
    lines = open(log.path).read().splitlines()
    assert lines[0] == "mst_ledger: 3546 in 1.234 sec"   # reference line shape
    assert lines[1].endswith("sync complete")


def test_default_driver_mem_scales_with_host_ram(monkeypatch):
    """ADVICE r7: the local driver-heap default derives from physical
    RAM — min(16 GiB, RAM/4), floor 2 — instead of an unconditional
    16g that over-commits small hosts; SPARK_GRAFT_DRIVER_MEM always
    overrides (exercised implicitly: get_spark reads the env first)."""
    import os as _os

    from tally_database_loader_spark.session import _default_driver_mem_gib

    real_sysconf = _os.sysconf

    def fake_sysconf(name, _pages={"SC_PHYS_PAGES": None}):
        if name == "SC_PAGE_SIZE":
            return 4096
        if name == "SC_PHYS_PAGES":
            return fake_sysconf.pages
        return real_sysconf(name)

    monkeypatch.setattr(_os, "sysconf", fake_sysconf)
    for ram_gib, want in ((256, 16), (128, 16), (64, 16), (32, 8),
                          (8, 2), (4, 2)):
        fake_sysconf.pages = ram_gib * (1 << 30) // 4096
        assert _default_driver_mem_gib() == want, ram_gib

    def broken_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(_os, "sysconf", broken_sysconf)
    assert _default_driver_mem_gib() == 4
