"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q

The Spark-backed tests start one small local session for the module.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402


@pytest.fixture(scope="module")
def tables():
    return gen.bench_tables(7, 120)


@pytest.fixture(scope="module")
def frames(tables):
    return gen.derive_slice(tables)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    from tally_database_loader_spark.session import get_spark
    s = get_spark("perfbench-tests",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


# -- inputs ---------------------------------------------------------------------

def test_inputs_are_seeded(tables):
    again = gen.bench_tables(7, 120)
    other = gen.bench_tables(8, 120)
    assert all(tables[k].equals(again[k]) for k in tables)
    assert not tables["lineitem"].equals(other["lineitem"])
    docs = gen.corpus(7, 30, 30)
    assert all(docs[k].equals(gen.corpus(7, 30, 30)[k]) for k in docs)
    assert not docs["documents"].equals(gen.corpus(8, 30, 30)["documents"])


def test_xml_cells_escape_and_encode_nulls():
    frame = gen.pd.DataFrame({"a": ["x & <y>"], "d": [None],
                              "n": [3], "m": [gen.decimal.Decimal("-1.50")]})
    xml = gen.dump_xml(frame, {"a": "text", "d": "date", "n": "number",
                               "m": "amount"})
    assert "<F01>x &amp; &lt;y&gt;</F01>" in xml
    assert "<F02>ñ</F02>" in xml and "<F04>-1.50</F04>" in xml


def test_xml_round_trip(spark, frames, tmp_path):
    """Every generated dump parses back, through the engine's reader, to
    exactly the source rows."""
    import duckdb

    from tally_database_loader_spark.sources.registry import load_yaml_spec
    from tally_database_loader_spark.sources.tally_xml import \
        read_tdl_response
    specs = load_yaml_spec(gen.SPEC_YAML)
    assert list(specs) == gen.TABLES
    gen.write_dumps(frames, str(tmp_path))
    con = duckdb.connect()
    for name in gen.TABLES:
        got = read_tdl_response(spark, str(tmp_path / f"{name}.xml"),
                                specs[name]).toArrow()
        ok, msg = checks.frames_match(con, got, gen.arrow(name, frames[name]))
        assert ok, f"{name}: {msg}"


def test_slice_matches_report_gate_derivation(tables, frames, tmp_path):
    """The pandas slice equals the report gates' own SQL derivation, and
    the check notices a slice that does not."""
    import duckdb

    from perfbench.workloads import check_derivation
    gen.write_bench_tables(tables, str(tmp_path))
    con = duckdb.connect()
    for t in ("orders", "customer", "part", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path / (t + '.parquet')}')")
    check_derivation(con, frames)
    bad = dict(frames, trn_voucher=frames["trn_voucher"].assign(
        narration="x"))
    with pytest.raises(RuntimeError, match="trn_voucher"):
        check_derivation(con, bad)


# -- CDC batch sequence ------------------------------------------------------------

def _run_batches(frames, seed, n=4):
    f = copy.deepcopy(frames)
    seq = gen.CdcSequence(f, seed)
    return f, [seq.apply(i, rename=i == n - 1) for i in range(n)]


def test_batch_sequence_is_deterministic(frames):
    f1, t1 = _run_batches(frames, 3)
    f2, t2 = _run_batches(frames, 3)
    assert t1 == t2
    for name in gen.TABLES:
        assert gen.arrow(name, f1[name]).equals(gen.arrow(name, f2[name]))
    _, t3 = _run_batches(frames, 4)
    assert t3 != t1


def test_batch_is_the_scaled_clustered_shape():
    """At 1 500 orders a batch mutates the 4 most recent vouchers (two
    modified, two deleted) and inserts one; only a rename batch touches a
    ledger."""
    frames = gen.derive_slice(gen.bench_tables(7, 1500))
    f = copy.deepcopy(frames)
    seq = gen.CdcSequence(f, 3)
    assert (seq.tail, seq.inserts) == (4, 1)
    recent = set(frames["trn_voucher"].nlargest(4, "alterid")["guid"])
    touched = seq.apply(0)
    v = f["trn_voucher"]
    assert len(v) == len(frames["trn_voucher"]) - 2 + 1
    assert touched["trn_voucher"] - recent == set(v["guid"]) - set(
        frames["trn_voucher"]["guid"])
    assert len(touched["trn_voucher"]) == 5
    assert (v["narration"] == "edited in batch 0").sum() == 2
    assert touched["mst_ledger"] == set()
    assert touched["trn_accounting"] == touched["trn_voucher"]


def test_rename_batch_cascades_the_new_name(frames):
    f, touched = _run_batches(frames, 3)
    assert [len(t["mst_ledger"]) for t in touched] == [0, 0, 0, 1]
    assert (f["mst_ledger"]["name"].str.contains(" R")).sum() == 1
    assert f["trn_voucher"]["guid"].is_unique
    # alterids stay unique within the voucher counter
    assert f["trn_voucher"]["alterid"].is_unique
    led = f["mst_ledger"].set_index("guid")["name"]
    acc = f["trn_accounting"]
    assert (acc["ledger"] == acc["_ledger"].map(led)).all()
    renamed = f["trn_voucher"]["party_name"].str.contains(" R")
    assert set(f["trn_voucher"].loc[renamed, "guid"]) <= touched[-1][
        "trn_voucher"]


# -- statistics ----------------------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, beyond = checks.tail(xs)
    assert (value, pct, beyond) == (90.0, 90, 10)
    value, pct, beyond = checks.tail(xs[:40])
    assert (pct, beyond) == (75, 10) and value == 30.0


def test_tail_falls_back_to_median_on_small_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert checks.tail(xs) == (3.0, 50, 2)


def test_tail_counts_only_strictly_greater_samples():
    xs = [1.0] * 30 + [2.0] * 5
    # no percentile has 10 samples strictly above it
    assert checks.tail(xs)[1] == 50


# -- store checks ----------------------------------------------------------------------

def _manifest_store(root, table, versions):
    """A store in the manifest layout: ``versions`` maps version →
    {bucket: [(file name, rows) written by that version, or a path of an
    earlier version carried forward]}."""
    for v, buckets in versions.items():
        vdir = os.path.join(root, table, f"v{v}")
        os.makedirs(vdir, exist_ok=True)
        man = {}
        for b, entries in buckets.items():
            files = []
            for e in entries:
                if isinstance(e, str):
                    files.append(e)
                    continue
                fname, rows = e
                rel = f"v{v}/__bucket={b}/{fname}"
                os.makedirs(os.path.join(root, table, os.path.dirname(rel)),
                            exist_ok=True)
                pq.write_table(pa.table({"guid": [r[0] for r in rows],
                                         "x": [r[1] for r in rows]}),
                               os.path.join(root, table, rel))
                files.append(rel)
            man[str(b)] = files
        with open(os.path.join(vdir, "_manifest.json"), "w") as fh:
            json.dump({"version": v, "buckets": man}, fh)


def test_store_matches_and_rewritten_buckets(tmp_path):
    import duckdb
    root = str(tmp_path)
    _manifest_store(root, "t", {
        1: {0: [("a.parquet", [("g1", 1), ("g2", 2)])],
            1: [("b.parquet", [("g3", 3)])]},
        2: {0: ["v1/__bucket=0/a.parquet"],
            1: [("c.parquet", [("g3", 4)])]}})
    con = duckdb.connect()
    want = pa.table({"guid": ["g1", "g2", "g3"], "x": [1, 2, 4]})
    assert checks.store_matches(con, root, "t", want) == (True, "")
    stale = pa.table({"guid": ["g1", "g2", "g3"], "x": [1, 2, 3]})
    ok, msg = checks.store_matches(con, root, "t", stale)
    assert not ok and "1 unexpected rows, 1 missing" in msg
    buckets, nbytes = checks.rewritten_buckets(root, "t", after=1)
    assert buckets == {1} and nbytes == os.path.getsize(
        os.path.join(root, "t", "v2", "__bucket=1", "c.parquet"))
    assert checks.rewritten_buckets(root, "t", after=0)[0] == {0, 1}


def test_key_buckets_follow_the_store_layout(spark, tmp_path):
    """``key_buckets`` places keys where ``ParquetStore`` writes them."""
    from tally_database_loader_spark.operators.incremental import \
        ParquetStore
    keys = [f"k{i}" for i in range(40)]
    store = ParquetStore(str(tmp_path), n_buckets=8)
    store.write(spark.createDataFrame([(k, 1) for k in keys],
                                      "guid string, x int"), "t")
    placed = {}
    for b, files in checks.manifest(str(tmp_path), "t", 1).items():
        for f in files:
            for k in pq.read_table(os.path.join(tmp_path, "t", f),
                                   columns=["guid"]).column(0).to_pylist():
                placed[k] = b
    got = checks.key_buckets(spark, {"a": set(keys[:5]), "b": set()}, 8)
    assert got == {"a": {placed[k] for k in keys[:5]}, "b": set()}
