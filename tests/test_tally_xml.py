"""Tally XML source tests (SURVEY §2.A1-A3): TDL program compilation,
parameter substitution, and distributed response parsing."""

from __future__ import annotations

import datetime
import decimal

import pytest

from tally_database_loader_spark.sources.registry import (
    FieldSpec, TableSpec, default_tables,
)
from tally_database_loader_spark.sources.tally_xml import (
    generate_tdl_xml, read_tdl_response, substitute_parameters,
)

LEDGER_SPEC = TableSpec("mst_test", "Ledger", [
    FieldSpec("guid", "$Guid"),
    FieldSpec("name", "$Name"),
    FieldSpec("opening_balance", "$OpeningBalance", "amount"),
    FieldSpec("first_date", "$FirstDate", "date"),
    FieldSpec("is_revenue", "$IsRevenue", "logical"),
], filters=["NOT $IsCancelled"])


def _response_xml() -> str:
    """A Tally TDL response in the wire shape the reference rewrites at
    src/tally.mts:514-539: rows as <F01>..</F01><F02>..</F02> runs inside
    one ENVELOPE, with entities, blank dates (ñ) and negative amounts."""
    rows = [
        ("g-001", "Cash &amp; Bank", "1200.50", "2024-04-01", "0"),
        ("g-002", "Sharma &lt;Traders&gt;", "-99.25", "ñ", "1"),
        ("g-003", "O&apos;Brien &quot;Exports&quot;", "0.00", "2024-07-15", "0"),
    ]
    body = "\r\n".join(
        f"  <F01>{r[0]}</F01><F02>{r[1]}</F02><F03>{r[2]}</F03>"
        f"<F04>{r[3]}</F04><F05>{r[4]}</F05>" for r in rows)
    return f"<ENVELOPE>\r\n{body}\r\n</ENVELOPE>"


def test_read_tdl_response(spark, tmp_path):
    p = tmp_path / "resp.xml"
    p.write_text(_response_xml(), encoding="utf-8")
    df = read_tdl_response(spark, str(p), LEDGER_SPEC)
    assert [f.name for f in df.schema.fields] == \
           ["guid", "name", "opening_balance", "first_date", "is_revenue"]
    got = {r["guid"]: r for r in df.collect()}
    assert len(got) == 3
    assert got["g-001"]["name"] == "Cash & Bank"            # entity unescape
    assert got["g-002"]["name"] == "Sharma <Traders>"
    assert got["g-003"]["name"] == 'O\'Brien "Exports"'
    assert got["g-002"]["first_date"] is None               # ñ sentinel → NULL
    assert got["g-001"]["first_date"] == datetime.date(2024, 4, 1)
    assert got["g-002"]["opening_balance"] == decimal.Decimal("-99.25")
    assert got["g-002"]["is_revenue"] == 1


def test_read_tdl_response_is_distributed(spark, tmp_path):
    """The parse must not hinge on a single record/partition: a many-row
    response still yields exactly one DataFrame row per source row."""
    rows = "\r\n".join(
        f"<F01>g-{i:05d}</F01><F02>L{i}</F02><F03>{i}.00</F03>"
        f"<F04>ñ</F04><F05>0</F05>" for i in range(5000))
    p = tmp_path / "big.xml"
    p.write_text(f"<ENVELOPE>\r\n{rows}\r\n</ENVELOPE>", encoding="utf-8")
    df = read_tdl_response(spark, str(p), LEDGER_SPEC)
    assert df.count() == 5000
    assert df.filter("first_date is not null").count() == 0


def test_generate_tdl_xml_nesting_and_filters():
    spec = default_tables()["trn_bank"]  # 3-level nested collection
    xml = generate_tdl_xml(spec, company="Demo & Co")
    # one PART per nesting level: root + AllLedgerEntries + BankAllocations
    assert xml.count("<PART NAME=") == 3
    assert "MyLine01 : MyCollection" in xml
    assert "MyLine02 : AllLedgerEntries" in xml
    assert "MyLine03 : BankAllocations" in xml
    assert "<TYPE>Voucher</TYPE>" in xml
    assert "Demo &amp; Co" in xml
    v = generate_tdl_xml(default_tables()["trn_voucher"])
    assert '<SYSTEM TYPE="Formulae" NAME="Fltr01">NOT $IsCancelled</SYSTEM>' in v
    assert "<SVCURRENTCOMPANY>" not in v                    # no company given
    # date fields carry the ñ-sentinel TDL encoding
    assert "$$StrByCharCode:241" in v


def test_substitute_parameters():
    xml = "<A>{fromDate}</A><B>{flag}</B><C>{company}</C><D>{n}</D>"
    out = substitute_parameters(xml, {
        "fromDate": datetime.date(2024, 4, 1),
        "flag": True,
        "company": 'P&L "Demo"',
        "n": 42,
    })
    assert "<A>1-Apr-2024</A>" in out                       # d-MMM-yyyy
    assert "<B>Yes</B>" in out
    assert "&amp;" in out and "42" in out


def test_ddl_generation_all_dialects():
    """DDL derives from the registry for each reference dialect variant
    (reference platform/{mysql,postgresql,google-bigquery} + root mssql
    DDL) — dialect-specific types land, unknown dialects are rejected."""
    import pytest
    from tally_database_loader_spark.sources.registry import default_tables
    tables = default_tables()
    assert len(tables) >= 22
    grp = tables["mst_group"]
    assert "name nvarchar(1024)" in grp.ddl("mssql")
    assert "name varchar(1024)" in grp.ddl("mysql")
    assert "is_revenue tinyint" in grp.ddl("mysql")
    assert "is_revenue smallint" in grp.ddl("postgres")
    assert "name string(1024)" in grp.ddl("bigquery")
    led = tables["mst_ledger"].ddl("postgres")
    assert "opening_balance decimal(17,2)" in led
    for spec in tables.values():
        for d in ("mssql", "mysql", "postgres", "bigquery"):
            assert spec.ddl(d).startswith(f"create table {spec.name}")
    with pytest.raises(ValueError, match="unknown DDL dialect"):
        grp.ddl("oracle")


def test_live_http_fetch_roundtrip(spark, tmp_path):
    """A1 live half: POST the compiled TDL program to a (stub) Tally XML
    server and parse the response distributed — asserts the UTF-16LE
    request body convention (reference src/tally.mts:448-490) and the
    typed result."""
    import http.server
    import threading

    from tally_database_loader_spark.sources.tally_http import (
        fetch_table, post_tally_xml)

    response = _response_xml()
    received = {}

    class StubTally(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            received["body"] = self.rfile.read(n)
            received["ctype"] = self.headers["Content-Type"]
            payload = response.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), StubTally)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}"
    try:
        df = fetch_table(spark, LEDGER_SPEC, url=url,
                         subs={"targetCompany": "##SVCurrentCompany"},
                         stage_dir=str(tmp_path))
        got = {r["guid"]: r for r in df.collect()}
        assert len(got) == 3 and got["g-002"]["first_date"] is None
        # the request carried the compiled TDL program, UTF-16LE encoded
        sent = received["body"].decode("utf-16le")
        assert "<REPORT" in sent and "$OpeningBalance" in sent
        assert "utf-16" in received["ctype"]
        # raw POST helper returns the body verbatim
        assert post_tally_xml(url, "<x/>") == response
    finally:
        srv.shutdown()


def test_both_readers_decode_empty_cells_alike(spark, tmp_path):
    """A full and an all-empty record of every field type decode to
    fixed rows. An empty cell is NULL for date, logical, amount, quantity
    and rate, 0 for number and '' for text; an empty date must not abort
    the scan. The two tables together carry all seven field types."""
    specs = default_tables()
    full = {"text": "x", "logical": "1", "date": "2024-04-01",
            "number": "7", "amount": "-1.50", "quantity": "2.0000",
            "rate": "3.2500"}
    want = {
        # text ×7, conversion, opening_balance/_rate/_value, text ×3,
        # gst_rate, text
        "mst_stock_item": [
            ("", "", "", "", "", "", "", 0, None, None, None,
             "", "", "", 0, ""),
            ("x", "x", "x", "x", "x", "x", "x", 7,
             decimal.Decimal("2.0000"), decimal.Decimal("3.2500"),
             decimal.Decimal("-1.50"), "x", "x", "x", 7, "x"),
        ],
        # item, applicable_from, text ×2, rate (amount),
        # is_rcm_applicable, text ×4
        "mst_gst_effective_rate": [
            ("", None, "", "", None, None, "", "", "", ""),
            ("x", datetime.date(2024, 4, 1), "x", "x",
             decimal.Decimal("-1.50"), 1, "x", "x", "x", "x"),
        ],
    }
    for table, rows_want in want.items():
        spec = specs[table]
        rows = [[full[f.type] for f in spec.fields],
                ["" for _ in spec.fields]]
        body = "\r\n".join("  " + _record(r) for r in rows)
        p = tmp_path / f"{table}.xml"
        p.write_text(f"<ENVELOPE>\r\n{body}\r\n</ENVELOPE>",
                     encoding="utf-8")
        got = sorted(map(tuple, read_tdl_response(
            spark, str(p), spec).collect()), key=repr)
        assert got == rows_want, table


HOSTILE_SPEC = TableSpec("mst_hostile", "Ledger", [
    FieldSpec("guid", "$Guid"),
    FieldSpec("name", "$Name"),
    FieldSpec("flag", "$IsRevenue", "logical"),
    FieldSpec("day", "$FirstDate", "date"),
    FieldSpec("n", "$AlterId", "number"),
    FieldSpec("amt", "$OpeningBalance", "amount"),
    FieldSpec("qty", "$ClosingBalance", "quantity"),
    FieldSpec("rate", "$Rate", "rate"),
])


def _record(cells) -> str:
    return "".join(f"<F{i:02d}>{v}</F{i:02d}>"
                   for i, v in enumerate(cells, start=1))


def test_read_tdl_response_pads_short_records(spark, tmp_path):
    """A record with fewer cells than the spec has fields parses with NULL
    in the missing fields instead of failing the whole job."""
    spec = default_tables()["mst_group"]
    full = ["g1", "Primary", "", "Primary", "1", "0", "1", "0", "5"]
    p = tmp_path / "mst_group.xml"
    p.write_text("<ENVELOPE>\r\n" + _record(full)
                 + "\r\n<F01>g2</F01><F02>only</F02>\r\n</ENVELOPE>",
                 encoding="utf-8")
    got = sorted(map(tuple, read_tdl_response(spark, str(p), spec).collect()))
    assert got == [("g1", "Primary", "", "Primary", 1, 0, 1, 0, 5),
                   ("g2", "only") + (None,) * 7]


def test_readers_agree_on_hostile_dump(spark, tmp_path):
    """``read_tdl_response`` gives fixed rows on a dump that exercises
    every rewrite step: nested and numeric entities, a bare '&', line
    breaks and a tab inside a value, a FLDBLANK run, non-space edge
    characters, digits beyond ASCII, half-way decimals, an integer past
    2**53, an empty cell of every type, a short record and whitespace
    after ``</ENVELOPE>``."""
    records = [
        _record(["h-1", "&amp;lt;Tag&amp;gt; &#39;q&#39; A & B&tab;C",
                 "1", "2024-04-01", "9007199254740993", "1.005",
                 "-2.00005", "18.0000"]),
        _record(["h-2", "Line1\r\nLine2\tEnd &quot;&apos;", "0", "ñ",
                 "-7", "-0.125", "3", "0.00005"]) + "<FLDBLANK></FLDBLANK>",
        _record(["h-3", "\u00a0pad\u00a0 &#\u0661\u0662; x", "1",
                 "1999-12-31", "0", "2.5", "0.5", "1"]),
        _record([""] * len(HOSTILE_SPEC.fields)),
        "<F01>h-5</F01><F02>only</F02>",
    ]
    text = ("<ENVELOPE>\r\n  " + "\r\n  ".join(records)
            + "\r\n</ENVELOPE> \t \r\n")
    p = tmp_path / "hostile.xml"
    p.write_bytes(text.encode("utf-8"))
    got = sorted(map(tuple, read_tdl_response(
        spark, str(p), HOSTILE_SPEC).collect()), key=lambda r: r[0])
    D = decimal.Decimal
    assert got == [
        # every cell empty: text '', number 0, the other types NULL
        ("", "", None, None, 0, None, None, None),
        # sequential unescape, &tab; and numeric entities dropped; the
        # integer 2**53 + 1 exact; ROUND_HALF_UP to the type's scale
        ("h-1", "<Tag> q A & BC", 1, datetime.date(2024, 4, 1),
         9007199254740993, D("1.01"), D("-2.0001"), D("18.0000")),
        # line breaks dropped, tab to space; the ñ date is NULL; half-up
        # rounds away from zero
        ("h-2", 'Line1Line2 End "\'', 0, None, -7, D("-0.13"),
         D("3.0000"), D("0.0001")),
        # NBSP edges kept; an entity of non-ASCII digits is not numeric
        ("h-3", "\u00a0pad\u00a0 &#\u0661\u0662; x", 1,
         datetime.date(1999, 12, 31), 0, D("2.50"), D("0.5000"),
         D("1.0000")),
        # a short record pads with NULL
        ("h-5", "only") + (None,) * 6,
    ]


def test_read_tdl_response_build_round_trips(spark, tmp_path,
                                             py4j_round_trips):
    """Building the reader's plan is a few SQL projections, not one JVM
    call per Column operation: at most 50 Py4J round trips for a 9- and
    a 13-field table. No Spark action runs."""
    p = tmp_path / "empty.xml"
    p.write_text("<ENVELOPE>\r\n</ENVELOPE>", encoding="utf-8")
    specs = default_tables()
    for table in ("mst_group", "trn_voucher"):
        n = py4j_round_trips(
            lambda: read_tdl_response(spark, str(p), specs[table]))
        assert n <= 50, (table, n)


def test_tablespec_rejects_unknown_watermark_group():
    """ADVICE r4: a directly-constructed TableSpec with a bogus group
    must fail with the field named, not as an unexplained KeyError deep
    inside incremental_sync_frames' by_group split."""
    import pytest
    from tally_database_loader_spark.sources.registry import TableSpec
    spec = TableSpec("t", "Ledger", [], group="bogus")
    with pytest.raises(ValueError, match="master.*transaction|group"):
        spec.watermark_group()
    # the two real groups and the derive-from-collection default still work
    assert TableSpec("t", "Ledger", [], group="master").watermark_group() == "master"
    assert TableSpec("t", "Voucher", [], group="transaction").watermark_group() == "transaction"
    assert TableSpec("t", "Voucher.LedgerEntries", []).watermark_group() == "transaction"
