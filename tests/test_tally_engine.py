"""End-to-end Tally-model tests: nested source → extraction (flatten +
TDL expression compiler + type encodings) → all 15 reports hash-matched
against DuckDB oracles over the SAME extracted relational tables.

The oracle SQL below is an ANSI translation of the reference report SQL
(reference reports/mssql/*.sql), so a pass means our DataFrame programs
compute what the reference's SQL computes."""

from __future__ import annotations

import decimal
import os
import re

import pytest

from tally_database_loader_spark.operators.flatten import extract_all
from tally_database_loader_spark.plans import tally_reports as R
from tally_database_loader_spark.sources.registry import default_tables
from tests.oracle_utils import compare_spark_duckdb
from tests.tally_fixtures import tally_source

FROM, TO = "2020-04-01", "2021-03-31"


@pytest.fixture(scope="session")
def tally_cat(spark, tmp_path_factory):
    src = tally_source(spark)
    cat = extract_all(src, default_tables())
    # persist to parquet so DuckDB sees identical values (incl. decimals)
    root = tmp_path_factory.mktemp("tally_tables")
    out = {}
    for name, df in cat.items():
        p = os.path.join(str(root), name)
        df.write.mode("overwrite").parquet(p)
        out[name] = spark.read.parquet(p)
    return out


@pytest.fixture(scope="session")
def tally_duck(tally_cat, tmp_path_factory):
    import duckdb
    con = duckdb.connect()
    for name, df in tally_cat.items():
        path = df.inputFiles()[0].rsplit("/", 1)[0].replace("file:", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    yield con
    con.close()


EXPECTED_COUNTS = {
    "mst_group": 9, "mst_ledger": 8, "mst_vouchertype": 9, "mst_uom": 2,
    "mst_godown": 2, "mst_stock_group": 2, "mst_stock_item": 2,
    "mst_cost_category": 1, "mst_cost_centre": 1,
    "mst_gst_effective_rate": 1, "mst_opening_batch_allocation": 1,
    "mst_opening_bill_allocation": 1, "trn_closingstock_ledger": 2,
    "mst_stockitem_standard_cost": 1, "mst_stockitem_standard_price": 1,
    "trn_voucher": 12, "trn_accounting": 20, "trn_inventory": 4,
    "trn_cost_centre": 1, "trn_bill": 1, "trn_bank": 1, "trn_batch": 1,
    "config": 4,
}


def test_extraction_counts(tally_cat):
    got = {name: df.count() for name, df in tally_cat.items()}
    assert got == EXPECTED_COUNTS


def test_extraction_conventions(tally_cat):
    # sign convention: Credit=+/Debit=− (docs/data-structure.md:68-72)
    acc = {(r.guid, r.ledger): r.amount for r in tally_cat["trn_accounting"].collect()}
    assert acc[("v-002", "Party X")] == decimal.Decimal("-500.00")
    assert acc[("v-002", "Sales Local")] == decimal.Decimal("500.00")
    # quantity: unit suffix stripped, Inward=+/Outward=−
    inv = {r.guid: r.quantity for r in tally_cat["trn_inventory"].collect()}
    assert inv["v-008"] == decimal.Decimal("10.0000")
    assert inv["v-010"] == decimal.Decimal("-5.0000")
    # Primary parent → '' (IsEqual/SysName translation)
    grp = {r.name: r.parent for r in tally_cat["mst_group"].collect()}
    assert grp["Sales Accounts"] == ""
    assert grp["Vehicle Loans"] == "Staff Loans"
    # logical encoding 0/1; blank date → NULL
    vch = {r.guid: r for r in tally_cat["trn_voucher"].collect()}
    assert vch["v-007"].is_order_voucher == 1
    assert vch["v-002"].is_order_voucher == 0
    assert vch["v-002"].reference_date is None
    # parent-scope field: derived bank row carries its ledger
    bank = tally_cat["trn_bank"].collect()[0]
    assert bank.guid == "v-004" and bank.ledger == "Cash"
    # deep nesting: cost centre at level 3 keeps voucher guid + ledger
    cc = tally_cat["trn_cost_centre"].collect()[0]
    assert (cc.guid, cc.ledger, cc.costcentre) == ("v-005", "Rent", "HO")
    assert cc.amount == decimal.Decimal("-200.00")


_ACC_EFF = """
  SELECT a.*, v.date, v.voucher_type, v.voucher_number, v.narration, v.party_name
  FROM trn_accounting a JOIN trn_voucher v ON v.guid = a.guid
  WHERE v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
"""

REPORT_ORACLES = {
    "trial_balance": (lambda cat: R.trial_balance(cat, FROM, TO), f"""
WITH eff AS ({_ACC_EFF}),
op AS (SELECT ledger, SUM(amount) AS amount FROM eff
       WHERE date < DATE '{FROM}' GROUP BY 1),
curr AS (SELECT ledger,
         SUM(CASE WHEN amount < 0 THEN abs(amount) ELSE 0 END) AS debit,
         SUM(CASE WHEN amount > 0 THEN amount ELSE 0 END) AS credit
         FROM eff WHERE date BETWEEN DATE '{FROM}' AND DATE '{TO}' GROUP BY 1)
SELECT l.name,
  CAST(CASE WHEN l.is_revenue = 0 THEN l.opening_balance + COALESCE(op.amount, 0)
       ELSE 0 END AS DECIMAL(17,2)) AS opening,
  CAST(COALESCE(curr.debit, 0) AS DECIMAL(17,2)) AS debit,
  CAST(COALESCE(curr.credit, 0) AS DECIMAL(17,2)) AS credit,
  CAST(CASE WHEN l.is_revenue = 0
       THEN l.opening_balance + COALESCE(op.amount,0) + COALESCE(curr.credit,0) - COALESCE(curr.debit,0)
       ELSE COALESCE(curr.credit,0) - COALESCE(curr.debit,0) END AS DECIMAL(17,2)) AS closing
FROM mst_ledger l
LEFT JOIN op ON op.ledger = l.name
LEFT JOIN curr ON curr.ledger = l.name
"""),
    "profit_loss": (R.profit_loss, """
WITH gb AS (
  SELECT g.primary_group AS "group", l.name AS ledger,
         CASE WHEN MAX(g.is_deemedpositive) = 1 THEN 'expense' ELSE 'income' END AS nature,
         CASE WHEN MAX(g.affects_gross_profit) = 1 THEN 'Y' ELSE 'N' END AS affects_gross_profit,
         CAST(SUM(a.amount) AS DECIMAL(17,2)) AS balance
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_vouchertype t ON v.voucher_type = t.name
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  WHERE g.is_revenue = 1 AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
        AND t.affects_stock = 0
  GROUP BY g.primary_group, l.name
),
ops AS (
  SELECT 'Opening Stock' AS "group", 'Opening Stock' AS ledger, 'expense' AS nature,
         'Y' AS affects_gross_profit, CAST(SUM(l.opening_balance) AS DECIMAL(17,2)) AS balance
  FROM mst_ledger l JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Stock-in-hand'
),
cls AS (
  SELECT 'Closing Stock' AS "group", 'Closing Stock' AS ledger, 'income' AS nature,
         'Y' AS affects_gross_profit, CAST(-SUM(t.stock_value) AS DECIMAL(17,2)) AS balance
  FROM (SELECT ledger, stock_value,
               row_number() OVER (PARTITION BY ledger ORDER BY stock_date DESC) AS ctr
        FROM trn_closingstock_ledger) t
  WHERE t.ctr = 1
)
SELECT * FROM gb UNION ALL SELECT * FROM ops UNION ALL SELECT * FROM cls
"""),
    "stock_summary": (R.stock_summary, """
WITH reco AS (
  SELECT i.item, i.tracking_number,
         SUM(CASE WHEN t.parent IN ('Receipt Note','Delivery Note') THEN abs(i.quantity) ELSE 0 END) AS note,
         SUM(CASE WHEN t.parent NOT IN ('Receipt Note','Delivery Note') THEN abs(i.quantity) ELSE 0 END) AS invoice
  FROM trn_inventory i
  JOIN trn_voucher v ON v.guid = i.guid
  JOIN mst_vouchertype t ON v.voucher_type = t.name
  WHERE i.tracking_number <> ''
  GROUP BY 1, 2
),
eff AS (
  SELECT i.item,
         SUM(CASE WHEN i.quantity > 0 THEN i.quantity ELSE 0 END) AS in_qty,
         SUM(CASE WHEN i.quantity < 0 THEN -i.quantity ELSE 0 END) AS out_qty
  FROM trn_inventory i
  JOIN trn_voucher v ON v.guid = i.guid
  JOIN mst_vouchertype t ON v.voucher_type = t.name
  LEFT JOIN reco r ON i.item = r.item AND i.tracking_number = r.tracking_number
  WHERE v.is_order_voucher = 0 AND (
        i.tracking_number = ''
        OR (t.parent NOT IN ('Receipt Note','Delivery Note') AND r.note = r.invoice)
        OR (t.parent IN ('Receipt Note','Delivery Note') AND r.note > r.invoice))
  GROUP BY i.item
)
SELECT s.name, s.parent, s.uom,
       CAST(s.opening_balance AS DECIMAL(15,4)) AS op_qty,
       CAST(COALESCE(e.in_qty, 0) AS DECIMAL(15,4)) AS in_qty,
       CAST(COALESCE(e.out_qty, 0) AS DECIMAL(15,4)) AS out_qty,
       CAST(s.opening_balance + COALESCE(e.in_qty,0) - COALESCE(e.out_qty,0) AS DECIMAL(15,4)) AS clo_bal
FROM mst_stock_item s LEFT JOIN eff e ON s.name = e.item
"""),
    "account_ledger": (lambda cat: R.account_ledger(cat, "Cash", FROM, TO), f"""
WITH led AS (
  SELECT v.guid, v.date, v.voucher_number, v.voucher_type, v.narration,
         CAST(CASE WHEN a.amount < 0 THEN -a.amount ELSE 0 END AS DECIMAL(17,2)) AS debit,
         CAST(CASE WHEN a.amount > 0 THEN a.amount ELSE 0 END AS DECIMAL(17,2)) AS credit
  FROM trn_accounting a JOIN trn_voucher v ON v.guid = a.guid
  WHERE a.ledger = 'Cash' AND v.is_accounting_voucher = 1
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
),
entry AS (
  SELECT v.guid, string_agg(a.ledger, ',' ORDER BY a.ledger) AS ledgers
  FROM trn_voucher v JOIN trn_accounting a ON a.guid = v.guid AND a.ledger <> 'Cash'
  WHERE v.guid IN (SELECT DISTINCT guid FROM led)
    AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
  GROUP BY v.guid
)
SELECT l.date, l.voucher_number, l.voucher_type, e.ledgers, l.debit, l.credit, l.narration
FROM led l JOIN entry e ON e.guid = l.guid
"""),
    "accounting_voucher_view": (R.accounting_voucher_view, """
SELECT DATE '2000-01-01' AS date, 'Opening Balance' AS voucher_type,
       '' AS voucher_number, l.name AS ledger,
       CAST(l.opening_balance AS DECIMAL(17,2)) AS amount, '' AS party_name,
       g.primary_group, 'Opening Balance' AS voucher_category
FROM mst_ledger l JOIN mst_group g ON l.parent = g.name
WHERE l.opening_balance <> 0
UNION ALL
SELECT v.date, v.voucher_type, v.voucher_number, a.ledger,
       CAST(a.amount AS DECIMAL(17,2)) AS amount, v.party_name,
       g.primary_group, t.parent AS voucher_category
FROM trn_accounting a
JOIN trn_voucher v ON a.guid = v.guid
JOIN mst_vouchertype t ON v.voucher_type = t.name
JOIN mst_ledger l ON a.ledger = l.name
JOIN mst_group g ON l.parent = g.name
WHERE v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
"""),
    "stock_voucher_view": (R.stock_voucher_view, """
SELECT DATE '2000-01-01' AS date, '' AS voucher_number,
       'Opening Balance' AS voucher_type, b.item,
       CAST(b.opening_balance AS DECIMAL(15,4)) AS quantity,
       CAST(b.opening_value AS DECIMAL(17,2)) AS amount, b.godown
FROM mst_opening_batch_allocation b
UNION ALL
SELECT date, voucher_number, voucher_type, item,
       CAST(quantity AS DECIMAL(15,4)) AS quantity,
       CAST(amount AS DECIMAL(17,2)) AS amount, godown
FROM (
  SELECT v.date, v.voucher_number, v.voucher_type, i.item, i.quantity, i.amount, i.godown,
         CASE WHEN i.tracking_number = '' THEN 1
              ELSE row_number() OVER (PARTITION BY i.tracking_number, i.item
                                      ORDER BY v.date, i.quantity, i.amount, i.godown)
         END AS repetition
  FROM trn_inventory i JOIN trn_voucher v ON v.guid = i.guid
  WHERE v.is_order_voucher = 0
) t WHERE repetition = 1
"""),
    "sales_register": (R.sales_register, """
SELECT v.date, v.voucher_number, v.voucher_type, v.party_name, z.gstn, a.ledger,
       CAST(a.amount AS DECIMAL(17,2)) AS amount
FROM trn_accounting a
JOIN trn_voucher v ON v.guid = a.guid
JOIN mst_vouchertype t ON v.voucher_type = t.name
JOIN mst_ledger l ON a.ledger = l.name
JOIN mst_ledger z ON v.party_name = z.name
WHERE t.parent IN ('Sales') AND a.ledger <> v.party_name
"""),
    "purchase_register": (R.purchase_register, """
SELECT v.date, v.voucher_number, v.voucher_type, v.party_name, z.gstn, a.ledger,
       CAST(-a.amount AS DECIMAL(17,2)) AS amount
FROM trn_accounting a
JOIN trn_voucher v ON v.guid = a.guid
JOIN mst_vouchertype t ON v.voucher_type = t.name
JOIN mst_ledger l ON a.ledger = l.name
JOIN mst_ledger z ON v.party_name = z.name
WHERE t.parent IN ('Purchase') AND a.ledger <> v.party_name
"""),
    "sales_daily": (lambda cat: R.sales_daily(cat, FROM, TO), f"""
WITH spine AS (SELECT CAST(UNNEST(generate_series(DATE '{FROM}', DATE '{TO}',
                                                  INTERVAL 1 DAY)) AS DATE) AS date),
daily AS (
  SELECT v.date, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON l.name = a.ledger
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Sales Accounts' AND v.date >= DATE '{FROM}' AND v.date <= DATE '{TO}'
  GROUP BY v.date
)
SELECT s.date, CAST(COALESCE(d.amount, 0) AS DECIMAL(17,2)) AS amount
FROM spine s LEFT JOIN daily d ON d.date = s.date
"""),
    "purchase_daily": (lambda cat: R.purchase_daily(cat, FROM, TO), f"""
WITH spine AS (SELECT CAST(UNNEST(generate_series(DATE '{FROM}', DATE '{TO}',
                                                  INTERVAL 1 DAY)) AS DATE) AS date),
daily AS (
  SELECT v.date, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON l.name = a.ledger
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Purchase Accounts' AND v.is_order_voucher = 0
    AND v.is_inventory_voucher = 0 AND v.date >= DATE '{FROM}' AND v.date <= DATE '{TO}'
  GROUP BY v.date
)
SELECT s.date, CAST(COALESCE(-d.amount, 0) AS DECIMAL(17,2)) AS amount
FROM spine s LEFT JOIN daily d ON d.date = s.date
"""),
    "sales_monthly": (lambda cat: R.sales_monthly(cat, FROM, TO), f"""
WITH spine AS (SELECT CAST(UNNEST(generate_series(DATE '{FROM}', DATE '{TO}',
                                                  INTERVAL 1 DAY)) AS DATE) AS d),
months AS (SELECT CAST(EXTRACT(YEAR FROM d) AS INT) AS year,
                  CAST(EXTRACT(MONTH FROM d) AS INT) AS month FROM spine GROUP BY 1, 2),
m AS (
  SELECT CAST(EXTRACT(YEAR FROM v.date) AS INT) AS year,
         CAST(EXTRACT(MONTH FROM v.date) AS INT) AS month, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON l.name = a.ledger
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Sales Accounts' AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY 1, 2
)
SELECT months.year, months.month, CAST(COALESCE(m.amount, 0) AS DECIMAL(17,2)) AS amount
FROM months LEFT JOIN m ON m.year = months.year AND m.month = months.month
"""),
    "purchase_monthly": (lambda cat: R.purchase_monthly(cat, FROM, TO), f"""
WITH spine AS (SELECT CAST(UNNEST(generate_series(DATE '{FROM}', DATE '{TO}',
                                                  INTERVAL 1 DAY)) AS DATE) AS d),
months AS (SELECT CAST(EXTRACT(YEAR FROM d) AS INT) AS year,
                  CAST(EXTRACT(MONTH FROM d) AS INT) AS month FROM spine GROUP BY 1, 2),
m AS (
  SELECT CAST(EXTRACT(YEAR FROM v.date) AS INT) AS year,
         CAST(EXTRACT(MONTH FROM v.date) AS INT) AS month, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON l.name = a.ledger
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Purchase Accounts'
    AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY 1, 2
)
SELECT months.year, months.month, CAST(COALESCE(-m.amount, 0) AS DECIMAL(17,2)) AS amount
FROM months LEFT JOIN m ON m.year = months.year AND m.month = months.month
"""),
    "daily_cash_movement": (lambda cat: R.daily_cash_movement(cat, FROM, TO), f"""
WITH spine AS (SELECT CAST(UNNEST(generate_series(DATE '{FROM}', DATE '{TO}',
                                                  INTERVAL 1 DAY)) AS DATE) AS date),
mov AS (
  SELECT v.date,
         SUM(CASE WHEN a.amount < 0 THEN -a.amount ELSE 0 END) AS receipt,
         SUM(CASE WHEN a.amount > 0 THEN a.amount ELSE 0 END) AS payment
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON l.name = a.ledger
  JOIN mst_group g ON g.name = l.parent
  JOIN mst_vouchertype t ON t.name = v.voucher_type
  WHERE lower(g.primary_group) = 'cash-in-hand'
    AND lower(t.parent) IN ('receipt', 'payment', 'contra')
  GROUP BY v.date
)
SELECT s.date, CAST(COALESCE(m.receipt, 0) AS DECIMAL(17,2)) AS receipt,
       CAST(COALESCE(m.payment, 0) AS DECIMAL(17,2)) AS payment
FROM spine s LEFT JOIN mov m ON m.date = s.date
"""),
    "group_tree_parent_child": (
        lambda cat: R.group_tree_parent_child(cat, "Loans & Advances (Asset)"), """
WITH RECURSIVE cte AS (
  SELECT name, parent FROM mst_group WHERE name = 'Loans & Advances (Asset)'
  UNION ALL
  SELECT e.name, e.parent FROM mst_group e JOIN cte ON cte.name = e.parent
)
SELECT * FROM cte
"""),
    "group_tree_children_parent": (
        lambda cat: R.group_tree_children_parent(cat, "Vehicle Loans"), """
WITH RECURSIVE cte AS (
  SELECT name, parent FROM mst_group WHERE name = 'Vehicle Loans'
  UNION ALL
  SELECT e.name, e.parent FROM mst_group e JOIN cte ON cte.parent = e.name
)
SELECT * FROM cte
"""),
}


@pytest.mark.parametrize("name", sorted(REPORT_ORACLES))
def test_report_matches_reference_semantics(name, tally_cat, tally_duck):
    fn, sql = REPORT_ORACLES[name]
    df = fn(tally_cat)
    ok, msg = compare_spark_duckdb(df, tally_duck, sql)
    assert ok, f"{name}: {msg}"


def test_reports_nonempty(tally_cat):
    """Guard against trivially-matching empty reports."""
    for name, (fn, _) in REPORT_ORACLES.items():
        assert fn(tally_cat).count() > 0, f"{name} returned no rows"


_SPINE_REPORTS = ("sales_daily", "purchase_daily", "sales_monthly",
                  "purchase_monthly", "daily_cash_movement")


@pytest.mark.parametrize("name", _SPINE_REPORTS)
def test_inverted_range_is_empty(name, tally_cat, tally_duck):
    """``from > to`` spans no day: ``generate_series`` yields none, so a
    spine report has no rows (Spark's ``sequence`` would count down and
    fabricate a zero-filled spine)."""
    swap = {FROM: TO, TO: FROM}
    sql = re.sub("|".join(map(re.escape, swap)), lambda m: swap[m.group(0)],
                 REPORT_ORACLES[name][1])
    df = getattr(R, name)(tally_cat, TO, FROM)
    ok, msg = compare_spark_duckdb(df, tally_duck, sql)
    assert ok, f"{name}: {msg}"
    assert df.count() == 0


def test_staged_join_shared_per_catalog(spark, tally_cat):
    """Reports over one catalog share one staged header ⋈ detail join:
    a second report scans trn_voucher no more, and the caller's dict
    gains no key (the memo is keyed on its DataFrames, not stored in it)."""
    from pyspark.sql import functions as F
    scans = spark.sparkContext.accumulator(0)

    def seen(guid):
        scans.add(1)
        return guid

    cat = dict(tally_cat)
    cat["trn_voucher"] = tally_cat["trn_voucher"].withColumn(
        "guid", F.udf(seen, "string").asNondeterministic()("guid"))
    keys = list(cat)
    assert R.acct_voucher(cat) is R.acct_voucher(cat)
    R.trial_balance(cat, FROM, TO).collect()
    assert scans.value == EXPECTED_COUNTS["trn_voucher"]
    R.sales_register(cat).collect()
    R.account_ledger(cat, "Cash", FROM, TO).collect()
    assert scans.value == EXPECTED_COUNTS["trn_voucher"]
    assert list(cat) == keys


def test_staging_follows_store_snapshot(spark, tally_cat, tmp_path):
    """A catalog re-read after a scoped commit is a new snapshot: it gets
    its own staged join, which sees the committed rows, while the old
    catalog's staging keeps the old snapshot and is released with it."""
    import gc
    import weakref

    from pyspark.sql import functions as F

    from tally_database_loader_spark.operators.incremental import ParquetStore
    store = ParquetStore(str(tmp_path))
    tables = ("trn_accounting", "trn_voucher", "mst_ledger", "mst_vouchertype")
    for t in tables:
        store.write(tally_cat[t], t)

    def read():
        return {t: store.read(spark, t) for t in tables}

    def copied(av):
        return av.filter(F.col("guid") == "v-902").count()

    old = read()
    before = R.sales_register(old).count()
    assert copied(R.acct_voucher(old)) == 0
    keys = spark.createDataFrame([("v-902",)], "guid string")
    for t in ("trn_voucher", "trn_accounting"):
        new = tally_cat[t].filter("guid = 'v-002'").withColumn("guid", F.lit("v-902"))
        store.write_scoped(store.scoped_base(spark, t, keys).unionByName(new),
                           t, keys)

    cat = read()
    assert R.acct_voucher(cat) is not R.acct_voucher(old)
    assert copied(R.acct_voucher(cat)) == 2
    assert copied(R.acct_voucher(old)) == 0
    # v-002 is a sales voucher with one non-party line
    assert R.sales_register(cat).count() == before + 1
    staged = weakref.ref(R.acct_voucher(old))
    del old
    gc.collect()
    assert staged() is None


# the group trees against DuckDB's recursive CTE, depth-capped like the
# driver walk, on hand-built mst_group edge cases: (rows, group, max_depth)
_TREE_CASES = {
    "unknown_group": ([("A", "Root"), ("Root", "")], "Nope", 32),
    "null_parent": ([("Root", None), ("A", "Root"), (None, "A"),
                     ("B", None), (None, None)], "A", 32),
    "null_from_root": ([("Root", None), ("A", "Root"), (None, "A"),
                        ("B", None), (None, None)], "Root", 32),
    "duplicate_names": ([("Root", ""), ("A", "Root"), ("A", "Root"),
                         ("B", "A"), ("B", "A")], "Root", 32),
    "duplicate_leaf": ([("Root", ""), ("A", "Root"), ("A", "Root"),
                        ("B", "A"), ("B", "A")], "B", 32),
    "cycle": ([("A", "B"), ("B", "A"), ("C", "A")], "A", 5),
}


@pytest.mark.parametrize("down", [True, False], ids=["parent_child",
                                                     "children_parent"])
@pytest.mark.parametrize("case", sorted(_TREE_CASES))
def test_group_tree_edges(spark, case, down):
    import duckdb
    from pyspark.sql import types as T
    rows, group, depth = _TREE_CASES[case]
    g = spark.createDataFrame(rows, "name string, parent string")
    fn = R.group_tree_parent_child if down else R.group_tree_children_parent
    df = fn({"mst_group": g}, group, max_depth=depth)
    assert [f.dataType for f in df.schema] == [T.StringType()] * 2
    con = duckdb.connect()
    con.execute("CREATE TABLE mst_group (name VARCHAR, parent VARCHAR)")
    con.executemany("INSERT INTO mst_group VALUES (?, ?)", rows)
    on = "cte.name = e.parent" if down else "cte.parent = e.name"
    ok, msg = compare_spark_duckdb(df, con, f"""
WITH RECURSIVE cte AS (
  SELECT name, parent, 1 AS depth FROM mst_group WHERE name = '{group}'
  UNION ALL
  SELECT e.name, e.parent, cte.depth + 1 FROM mst_group e JOIN cte ON {on}
  WHERE cte.depth < {depth}
)
SELECT name, parent FROM cte
""")
    con.close()
    assert ok, f"{case}: {msg}"


# Spark jobs per report over a fresh copy of the test catalog, run in
# REPORT_ORACLES order, so trial_balance pays for staging acct_voucher
# and stock_summary for inv_voucher: 80 in all
REPORT_JOBS = {
    "trial_balance": 6, "profit_loss": 9, "stock_summary": 6,
    "account_ledger": 7, "accounting_voucher_view": 4,
    "stock_voucher_view": 2, "sales_register": 6, "purchase_register": 6,
    "sales_daily": 5, "purchase_daily": 5, "sales_monthly": 7,
    "purchase_monthly": 7, "daily_cash_movement": 6,
    "group_tree_parent_child": 2, "group_tree_children_parent": 2,
}


def test_report_job_budget(spark, tally_cat):
    """A plan edit that adds a Spark job to a report fails here: each
    report's jobs are counted by job group and pinned (REPORT_JOBS).

    Before the header ⋈ detail staging, the driver walk of the group
    trees, the one-aggregate trial balance and the month sequence, the
    same run counted 118: trial_balance 9, profit_loss 10, stock_summary
    6, account_ledger 10, accounting_voucher_view 5, stock_voucher_view
    3, sales_register 7, purchase_register 7, sales_daily 6,
    purchase_daily 6, sales_monthly 9, purchase_monthly 9,
    daily_cash_movement 7, group_tree_parent_child 13,
    group_tree_children_parent 11."""
    sc = spark.sparkContext
    cat = {name: df.select("*") for name, df in tally_cat.items()}
    got = {}
    for name, (fn, _) in REPORT_ORACLES.items():
        group = f"report-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            fn(cat).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == REPORT_JOBS


def test_guid_fk_resolution(spark):
    """SURVEY C9: `$Guid:<Collection>:<expr>` fields resolve dimension
    names to GUIDs via broadcast join (reference
    tally-export-config-incremental.yaml:61-62 `_parent` on mst_ledger,
    :627 `_ledger` on trn_accounting)."""
    from tally_database_loader_spark.operators.flatten import extract_table
    from tally_database_loader_spark.sources.registry import FieldSpec, TableSpec

    src = tally_source(spark)
    led_spec = TableSpec(
        name="mst_ledger_inc", collection="Ledger", nature="Primary",
        fields=[FieldSpec("guid", "$Guid", "text"),
                FieldSpec("name", "$Name", "text"),
                FieldSpec("_parent", "$Guid:Group:$Parent", "text")])
    led = extract_table(src["Ledger"], led_spec, masters=src)
    rows = {r.name: r._parent for r in led.collect()}
    assert rows["Cash"] == "g-003"           # Cash-in-hand
    assert rows["Sales Local"] == "g-001"    # Sales Accounts
    assert rows["Staff Advance"] == "g-008"  # Staff Loans (non-primary)

    acc_spec = TableSpec(
        name="trn_accounting_inc",
        collection="Voucher.AllLedgerEntries", nature="Derived",
        fields=[FieldSpec("guid", "..Guid", "text"),
                FieldSpec("ledger", "$LedgerName", "text"),
                FieldSpec("_ledger", "$Guid:Ledger:$LedgerName", "text"),
                FieldSpec("amount", "$Amount", "amount")])
    acc = extract_table(src["Voucher"], acc_spec, masters=src)
    got = acc.filter("guid = 'v-002'").collect()
    assert {(r.ledger, r._ledger) for r in got} == {
        ("Party X", "l-006"), ("Sales Local", "l-002")}

    # unknown dimension name resolves to '' (text-encoded null), not a drop
    from pyspark.sql import functions as F
    n_entries = src["Voucher"].select(
        F.explode("AllLedgerEntries")).count()
    assert acc.count() == n_entries

    # missing master map is a loud error, not silent empties
    import pytest as _pytest
    with _pytest.raises(ValueError, match="Group"):
        extract_table(src["Ledger"], led_spec, masters={})
