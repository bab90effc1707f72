"""Sink-layer tests (SURVEY §2.B): CSV/JSON parity conventions, CDM model
metadata, config table. Roundtrips go through real files on tmp_path."""

from __future__ import annotations

import csv
import datetime
import json
import os

import pytest
from pyspark.sql import types as T

from tally_database_loader_spark.sinks import (
    jdbc_writer_options, write_cdm, write_config_table,
    write_csv, write_json,
)
from tally_database_loader_spark.sources.registry import default_tables


@pytest.fixture()
def sample(spark):
    """Rows exercising the reference's edge cases: embedded quotes/commas,
    unicode, null date (the ñ-sentinel case), exact decimals."""
    schema = T.StructType([
        T.StructField("guid", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("amount", T.DecimalType(17, 2)),
    ])
    rows = [
        ("g1", 'He said "hi", twice', datetime.date(2024, 4, 1), None),
        ("g2", "Ünïcode ñ", None, __import__("decimal").Decimal("-12345.67")),
        ("g3", "plain", datetime.date(2024, 3, 31),
         __import__("decimal").Decimal("0.05")),
    ]
    return spark.createDataFrame(rows, schema)


def test_csv_single_file_parity(sample, tmp_path):
    out = str(tmp_path / "t.csv")
    write_csv(sample.repartition(2), out, single_file=True, bom=True)
    raw = open(out, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")          # Excel BOM (B7)
    with open(out, encoding="utf-8-sig", newline="") as fh:
        got = list(csv.reader(fh))
    assert got[0] == ["guid", "name", "date", "amount"]
    body = {r[0]: r for r in got[1:]}
    assert len(body) == 3
    assert body["g1"][1] == 'He said "hi", twice'    # "" doubling survived
    assert body["g2"][2] == ""                       # null date → blank
    assert body["g2"][3] == "-12345.67"              # exact decimal text
    assert body["g3"][2] == "2024-03-31"             # ISO date


def test_csv_distributed_roundtrip(sample, spark, tmp_path):
    out = str(tmp_path / "csvdir")
    write_csv(sample, out)
    back = (spark.read.option("header", "true").option("escape", '"')
            .schema(sample.schema).csv(out))
    key = lambda r: r["guid"]  # noqa: E731
    assert sorted((r.asDict() for r in back.collect()), key=key) == \
           sorted((r.asDict() for r in sample.collect()), key=key)


def test_json_array_typed(sample, tmp_path):
    out = str(tmp_path / "t.json")
    write_json(sample, out, single_file=True)
    rows = {r["guid"]: r for r in json.load(open(out, encoding="utf-8"))}
    assert len(rows) == 3
    assert "date" not in rows["g2"] or rows["g2"]["date"] is None  # null date
    assert rows["g3"]["date"] == "2024-03-31"
    assert float(rows["g2"]["amount"]) == -12345.67


def test_cdm_model_json(sample, spark, tmp_path):
    specs = default_tables()
    led = spark.createDataFrame(
        [("g1", "Cash", "")], "guid string, name string, parent string")
    model_path = write_cdm({"mst_group": led}, specs, str(tmp_path / "cdm"))
    model = json.load(open(model_path))
    ent = model["entities"][0]
    assert ent["name"] == "mst_group"
    attrs = {a["name"]: a["dataType"] for a in ent["attributes"]}
    # type map per reference src/database.mts:341-360
    assert attrs["name"] == "string"
    assert attrs["is_revenue"] == "int64"
    assert attrs["sort_position"] == "int64"
    assert ent["partitions"], "partitions must list the csv part files"
    part = os.path.join(str(tmp_path / "cdm"), ent["partitions"][0]["location"])
    assert os.path.exists(part)


def test_jdbc_options():
    opts = jdbc_writer_options("mysql")
    assert opts["batchsize"] == "1000"               # reference 1000-row cap
    assert opts["rewriteBatchedStatements"] == "true"
    assert jdbc_writer_options("mssql")["queryTimeout"] == "0"
    assert jdbc_writer_options("postgres")["truncate"] == "true"


def test_overwrite_and_config_table(spark, tmp_path):
    cfg = str(tmp_path / "config")
    write_config_table(spark, cfg, company="Old Co", from_date="2023-04-01",
                       to_date="2024-03-31", updated_at="2025-01-01 00:00:00")
    # a second write replaces the first (truncate-before-load, B10)
    write_config_table(spark, cfg, company="Demo Co (Quoted)",
                       from_date="2024-04-01", to_date="2025-03-31",
                       updated_at="2026-08-13 00:00:00")
    got = {r["name"]: r["value"] for r in spark.read.parquet(cfg).collect()}
    assert got["Company Name"] == "Demo Co (Quoted)"
    assert got["Period From"] == "2024-04-01"
    assert len(got) == 4


def test_bigquery_stub_load_job(spark, tmp_path):
    """B5: the stubbed BigQuery path stages the CSV the reference uploads
    and emits the exact load-job config it submits
    (reference src/database.mts:290-305)."""
    import json
    from tally_database_loader_spark.sinks.writers import (
        bigquery_writer_options, write_bigquery)

    df = spark.createDataFrame(
        [("g-1", "Cash", 100.50), ("g-2", "Bank", -20.25)],
        "guid string, ledger string, amount double")
    n = write_bigquery(df, "tallydb", "trn_accounting", stub_dir=str(tmp_path))
    assert n == 2
    staged = (tmp_path / "trn_accounting.csv").read_text(encoding="utf-8")
    lines = staged.strip().splitlines()
    assert lines[0] == "guid,ledger,amount" and len(lines) == 3
    job = json.loads((tmp_path / "trn_accounting.load.json").read_text())
    load = job["configuration"]["load"]
    assert load["destinationTable"] == {"datasetId": "tallydb",
                                        "tableId": "trn_accounting"}
    assert load["skipLeadingRows"] == 1
    assert load["writeDisposition"] == "WRITE_TRUNCATE"
    assert job["statistics"]["load"]["outputRows"] == 2
    # connector-option surface (used when the jar is present)
    opts = bigquery_writer_options("tallydb", "trn_accounting",
                                   truncate=False, temp_bucket="b")
    assert opts == {"table": "tallydb.trn_accounting",
                    "writeDisposition": "WRITE_APPEND",
                    "intermediateFormat": "parquet",
                    "temporaryGcsBucket": "b"}

