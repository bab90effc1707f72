"""Concurrent table loads and the changed-tables-only merge: one write
job per table in the caller's job group, the cooperative abort, import-log
order and counts, and a CDC batch that leaves untouched primaries alone."""

from __future__ import annotations

import json
import re
import threading
import uuid

import pytest

from tally_database_loader_spark.__main__ import SyncAborted, run_import
from tally_database_loader_spark.config import load_config
from tally_database_loader_spark.operators.incremental import (
    IncrementalSync, ParquetStore)
from tally_database_loader_spark.session import run_concurrently
from tally_database_loader_spark.sources.registry import load_yaml_spec
from tally_database_loader_spark.streaming.progress import SyncLogger

# definition order is deliberately not alphabetical
TABLES = {
    "mst_unit": [("u-1", "Nos", 1), ("u-2", "Box", 2), ("u-3", "Kg", 3)],
    "mst_group": [("g-1", "Primary", 4)],
    "mst_category": [("c-1", "A", 5), ("c-2", "B", 6), ("c-3", "C", 7),
                     ("c-4", "D", 8)],
    "mst_godown": [("d-1", "Main", 9), ("d-2", "Annex", 10)],
}

_COLLECTION = {"mst_unit": "Unit", "mst_group": "Group",
               "mst_category": "Category", "mst_godown": "Godown"}


def _definition() -> str:
    out = ["master:"]
    for name in TABLES:
        out += [f"  - name: {name}",
                f"    collection: {_COLLECTION[name]}",
                "    fields:",
                "      - {name: guid, field: $Guid, type: text}",
                "      - {name: name, field: $Name, type: text}",
                "      - {name: alterid, field: $AlterId, type: number}"]
    return "\n".join(out + ["transaction: []", ""])


@pytest.fixture()
def dump(tmp_path):
    d = tmp_path / "dump"
    d.mkdir()
    for name, rows in TABLES.items():
        body = "\r\n".join(f"  <F01>{g}</F01><F02>{n}</F02><F03>{a}</F03>"
                           for g, n, a in rows)
        (d / f"{name}.xml").write_text(f"<ENVELOPE>\r\n{body}\r\n</ENVELOPE>",
                                       encoding="utf-8")
    spec = tmp_path / "spec.yaml"
    spec.write_text(_definition(), encoding="utf-8")

    def config(technology: str, sync: str = "full"):
        return load_config(json.dumps({
            "database": {"technology": technology,
                         "loadpath": str(tmp_path / f"out-{technology}")},
            "tally": {"definition": str(spec), "dumpdir": str(d),
                      "sync": sync}}), [])

    return tmp_path, config


def _rows(spark, store, table):
    return sorted((r.guid, r.name, r.alterid)
                  for r in store.read(spark, table).collect())


def _log_lines(path):
    return path.read_text(encoding="utf-8").splitlines()


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_run_concurrently_keeps_each_threads_properties(spark):
    """More workers than cores, each setting its own job description
    while jobs run on the others: every worker still reads its own (a
    shared property set would lose updates), every worker inherits the
    caller's job group, results come back in item order, and the first
    failure in item order is re-raised."""
    import sys

    sc = spark.sparkContext
    group = f"stress-{uuid.uuid4().hex}"

    def work(i):
        sc.setJobDescription(f"item-{i}")
        spark.range(10).count()
        return (i, sc.getLocalProperty("spark.job.description"),
                sc.getLocalProperty("spark.jobGroup.id"))

    def fail(i):
        if i in (2, 4):
            raise ValueError(i)
        return i

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    sc.setJobGroup(group, "stress")
    try:
        got = run_concurrently(spark, work, range(12))
        caller = sc.getLocalProperty("spark.job.description")
        with pytest.raises(ValueError) as err:
            run_concurrently(spark, fail, range(6))
    finally:
        sys.setswitchinterval(interval)
        _clear_job_group(sc)
    assert got == [(i, f"item-{i}", group) for i in range(12)]
    assert caller == "stress"   # no worker's description leaked back
    assert err.value.args == (2,)


def test_full_load_is_one_job_per_table_in_the_callers_group(spark, dump):
    """Each table's load is ONE job (the row count rides on the write),
    and every job of the concurrent loads carries the caller's job group
    — what ``cancelJobGroup`` needs to stop a running sync."""
    tmp_path, config = dump
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"sync-{uuid.uuid4().hex}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "full sync")
    try:
        counts = run_import(spark, config("parquet"),
                            SyncLogger(str(tmp_path / "log.txt")))
    finally:
        _clear_job_group(sc)
    assert counts == {t: len(rows) for t, rows in TABLES.items()}
    assert len(tracker.getJobIdsForGroup(group)) == len(TABLES)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    store = ParquetStore(str(tmp_path / "out-parquet"))
    for t, rows in TABLES.items():
        assert _rows(spark, store, t) == sorted(rows)


def test_abort_after_first_table_commits_only_started_tables(spark, dump):
    """The abort predicate is checked as each table starts. Flipping it
    after the first check lets exactly one table load: it commits
    complete and is logged; no other table gets a version."""
    tmp_path, config = dump
    lock = threading.Lock()
    checks = [0]

    def aborted():
        with lock:
            checks[0] += 1
            return checks[0] > 1

    log = tmp_path / "log.txt"
    with pytest.raises(SyncAborted):
        run_import(spark, config("parquet"), SyncLogger(str(log)),
                   aborted=aborted)
    store = ParquetStore(str(tmp_path / "out-parquet"))
    committed = [t for t in TABLES if store.exists(t)]
    assert len(committed) == 1
    (t,) = committed
    assert store.history(t) == [1]
    assert _rows(spark, store, t) == sorted(TABLES[t])
    assert [line.split(" in ")[0] for line in _log_lines(log)] \
        == [f"{t}: {len(TABLES[t])}"]


@pytest.mark.parametrize("technology", ["parquet", "csv"])
def test_import_log_keeps_definition_order_and_counts(spark, dump,
                                                      technology):
    tmp_path, config = dump
    log = tmp_path / "log.txt"
    run_import(spark, config(technology), SyncLogger(str(log)))
    got = [re.fullmatch(r"(\w+): (\d+) in \d+\.\d{3} sec", line).groups()
           for line in _log_lines(log)]
    assert got == [(t, str(len(rows))) for t, rows in TABLES.items()]


def test_incremental_log_times_the_merge_once(spark, dump):
    """Incremental mode logs the E-protocol phase once, each merged
    table's post-merge size (from the store's file statistics, no time
    of its own), and each bootstrapped table with its own time."""
    tmp_path, config = dump
    store = ParquetStore(str(tmp_path / "out-parquet"))
    for t, rows in TABLES.items():
        if t != "mst_godown":                        # mst_godown is new
            store.write(spark.createDataFrame(
                [r for r in rows if r[0] != "c-4"],  # c-4 is new
                "guid string, name string, alterid long"), t)
    log = tmp_path / "log.txt"
    counts = run_import(spark, config("parquet", sync="incremental"),
                        SyncLogger(str(log)))
    assert counts == {t: len(rows) for t, rows in TABLES.items()}
    lines = _log_lines(log)
    assert re.fullmatch(r"incremental sync in \d+\.\d{3} sec", lines[0])
    assert lines[1:4] == ["mst_unit: 3", "mst_group: 1", "mst_category: 4"]
    assert re.fullmatch(r"mst_godown: 2 in \d+\.\d{3} sec", lines[4])
    assert len(lines) == 5
    for t, rows in TABLES.items():
        assert store.row_count(spark, t) == len(rows)
        assert _rows(spark, store, t) == sorted(rows)


_CDC_SPEC = """
master:
  - name: mst_ledger
    collection: Ledger
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: name, field: $Name, type: text}
      - {name: alterid, field: $AlterId, type: number}
transaction:
  - name: trn_voucher
    collection: Voucher
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: voucher_number, field: $VoucherNumber, type: text}
      - {name: alterid, field: $AlterId, type: number}
    cascade_delete:
      trn_accounting: guid
  - name: trn_accounting
    collection: Voucher.AllLedgerEntries
    nature: Derived
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: ledger, field: $LedgerName, type: text}
      - {name: _ledger, field: $LedgerGuid, type: text}
      - {name: amount, field: $Amount, type: number}
    cascade_update:
      ledger: mst_ledger.name
"""


def test_voucher_only_batch_leaves_masters_untouched(spark, tmp_path):
    """A CDC batch that changes only vouchers gives the ledger table no
    new version (no empty commit, no E9 repair pass over its children),
    still reports 0 deleted / 0 appended for it, and converges."""
    specs = load_yaml_spec(_CDC_SPEC)
    store = ParquetStore(str(tmp_path / "st"), n_buckets=4)
    eng = IncrementalSync(spark, store, specs)

    def frames(vouchers, lines):
        return {
            "mst_ledger": spark.createDataFrame(
                [("l-1", "Cash", 1), ("l-2", "Sales", 2)],
                "guid string, name string, alterid long"),
            "trn_voucher": spark.createDataFrame(
                vouchers, "guid string, voucher_number string, alterid long"),
            "trn_accounting": spark.createDataFrame(
                lines, "guid string, ledger string, _ledger string, "
                       "amount long")}

    before = frames([("v-1", "1", 10), ("v-2", "2", 11), ("v-3", "3", 12)],
                    [("v-1", "Cash", "l-1", 5), ("v-1", "Sales", "l-2", -5),
                     ("v-2", "Cash", "l-1", 7), ("v-3", "Sales", "l-2", 9)])
    for t, df in before.items():
        store.write(df, t)
    history = {t: store.history(t) for t in before}

    # modify v-1 (alterid 13), delete v-2, insert v-4 (alterid 14)
    after = frames([("v-1", "1", 13), ("v-3", "3", 12), ("v-4", "4", 14)],
                   [("v-1", "Cash", "l-1", 6), ("v-1", "Sales", "l-2", -6),
                    ("v-3", "Sales", "l-2", 9), ("v-4", "Cash", "l-1", 1)])
    stats = eng.incremental_sync_frames(after)

    assert not stats["skipped"]
    assert stats["deleted"]["mst_ledger"] == 0
    assert stats["appended"]["mst_ledger"] == 0
    assert stats["deleted"]["trn_voucher"] == 2      # v-1 modified, v-2 gone
    assert stats["appended"]["trn_voucher"] == 2     # v-1 again, v-4 new
    assert store.history("mst_ledger") == history["mst_ledger"]
    assert store.history("trn_voucher") == history["trn_voucher"] + [2]
    assert store.history("trn_accounting") \
        == history["trn_accounting"] + [2]           # the E7 edge only
    for t, df in after.items():
        cols = sorted(df.columns)
        got = sorted(tuple(r) for r in store.read(spark, t)
                     .select(cols).collect())
        assert got == sorted(tuple(r) for r in df.select(cols).collect()), t


_RENUMBER_SPEC = """
master:
  - name: mst_vouchertype
    collection: VoucherType
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: name, field: $Name, type: text}
      - {name: numbering_method, field: $NumberingMethod, type: text}
      - {name: alterid, field: $AlterId, type: number}
transaction:
  - name: trn_voucher
    collection: Voucher
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: voucher_type, field: $VoucherTypeName, type: text}
      - {name: voucher_number, field: $VoucherNumber, type: text}
      - {name: alterid, field: $AlterId, type: number}
    cascade_delete:
      trn_accounting: guid
  - name: trn_accounting
    collection: Voucher.AllLedgerEntries
    nature: Derived
    fields:
      - {name: guid, field: $Guid, type: text}
      - {name: ledger, field: $LedgerName, type: text}
      - {name: amount, field: $Amount, type: number}
"""

# Spark jobs of the batch below: a scoped commit of trn_voucher, its
# cascade into trn_accounting and the renumbering commit, each probing
# its touched buckets once (a distinct-collect of two jobs); the same
# batch ran 46 when scoped_base and write_scoped each probed
_BATCH_JOBS = 40


def test_cdc_batch_job_budget(spark, tmp_path):
    """An insert that shifts later auto-numbered vouchers: the batch
    converges, and a plan edit that adds a Spark job to it (such as a
    second bucket probe of one touched-keys frame) fails here."""
    specs = load_yaml_spec(_RENUMBER_SPEC)
    store = ParquetStore(str(tmp_path / "st"), n_buckets=4)
    eng = IncrementalSync(spark, store, specs)

    def frames(vouchers, lines):
        return {
            "mst_vouchertype": spark.createDataFrame(
                [("t-1", "Sales", "Automatic", 1)],
                "guid string, name string, numbering_method string, "
                "alterid long"),
            "trn_voucher": spark.createDataFrame(
                vouchers, "guid string, voucher_type string, "
                          "voucher_number string, alterid long"),
            "trn_accounting": spark.createDataFrame(
                lines, "guid string, ledger string, amount long")}

    for t, df in frames(
            [("v-1", "Sales", "1", 10), ("v-2", "Sales", "2", 11),
             ("v-3", "Sales", "3", 12)],
            [("v-1", "Cash", 5), ("v-2", "Cash", 7),
             ("v-3", "Sales", 9)]).items():
        store.write(df, t)
    # v-4 is inserted as number 2: v-2 and v-3 shift to 3 and 4 without
    # a new AlterId, so only the renumbering pass can repair them
    after = frames([("v-1", "Sales", "1", 10), ("v-4", "Sales", "2", 13),
                    ("v-2", "Sales", "3", 11), ("v-3", "Sales", "4", 12)],
                   [("v-1", "Cash", 5), ("v-2", "Cash", 7),
                    ("v-3", "Sales", 9), ("v-4", "Cash", 1)])

    sc = spark.sparkContext
    group = f"batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cdc batch")
    try:
        eng.incremental_sync_frames(after)
    finally:
        _clear_job_group(sc)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    for t, df in after.items():
        cols = sorted(df.columns)
        got = sorted(tuple(r) for r in store.read(spark, t)
                     .select(cols).collect())
        assert got == sorted(tuple(r) for r in df.select(cols).collect()), t
    assert jobs == _BATCH_JOBS
