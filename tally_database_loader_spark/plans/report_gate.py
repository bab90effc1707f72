"""Driver gates for the REAL reference reports (plans/tally_reports.py).

The driver can only oracle-check SQL over the pre-registered bench views,
so these gates derive a deterministic slice of the 22-table Tally model
FROM the bench tables — identically in Spark (``tally_catalog``) and in
DuckDB (``_CTES``, rendered from the same Python constants so the two
sides cannot drift) — and then run the *actual report programs* from
plans/tally_reports.py over it. A pass therefore hash-verifies the same
DataFrame code paths the 22-table engine ships (reference
reports/mssql/trial-balance.sql, profit-loss.sql, stock-summary.sql,
account-ledger.sql, sales-register.sql), not TPC-H-shaped analogues.

Derivation map (all arithmetic decimal-exact — doubles are cast to
DECIMAL *before* any SUM so both engines fold identical values):

- orders   → trn_voucher (priority → voucher type; status 'P' = order
             voucher, exercising the is_order_voucher exclusion)
- lineitem → trn_accounting (debit row against the customer ledger +
             credit row against the brand revenue ledger — Credit=+/
             Debit=− per docs/data-structure.md:68-72)
- lineitem → trn_inventory (returnflag 'R' = inward(+)/else outward(−);
             line ≥ 4 gets a tracking number → all three workflow
             regimes of docs/data-structure.md:242-258 occur)
- customer/part → mst_ledger (debtors + revenue + stock ledgers),
             mst_stock_item, trn_closingstock_ledger
- literals → mst_group, mst_vouchertype

Scale shape: the derivation is projections + broadcast dimension joins
(customer/part onto lineitem/orders); every report then aggregates with
map-side partials — the same plans the engine produces on real data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import load_table
from . import tally_reports as R
from .gate import gate_query

FROM, TO = "1995-01-01", "1995-12-31"

_D17 = T.DecimalType(17, 2)
_D15 = T.DecimalType(15, 4)

# (priority, voucher_type) — single source for both engines
_VT_MAP = [
    ("1-URGENT", "Sales Invoice"),
    ("2-HIGH", "Purchase Invoice"),
    ("3-MEDIUM", "Receipt Note"),
    ("4-NOT SPECIFIED", "Delivery Note"),
    ("5-LOW", "Journal"),
]

# (name, parent, affects_stock) — Journal's parent is Contra so the
# cash-movement report's receipt/payment/contra voucher filter
# (reports/mssql/daily-cash-movement.sql:24) selects a real subset
_VT_ROWS = [
    ("Sales Invoice", "Sales", 0),
    ("Purchase Invoice", "Purchase", 0),
    ("Receipt Note", "Receipt Note", 1),
    ("Delivery Note", "Delivery Note", 1),
    ("Journal", "Contra", 0),
]

# (name, parent, primary_group, is_revenue, is_deemedpositive,
#  affects_gross_profit) — parent edges form the acyclic tree the
# group-tree reports traverse (Primary = root sentinel, as in Tally)
_GROUP_ROWS = [
    ("Sundry Debtors", "Current Assets", "Current Assets", 0, 1, 0),
    ("Sales Accounts", "Primary", "Sales Accounts", 1, 0, 1),
    ("Stock-in-hand", "Primary", "Stock-in-hand", 0, 1, 0),
    ("Cash-in-Hand", "Primary", "Cash-in-Hand", 0, 1, 0),
    ("Current Assets", "Primary", "Current Assets", 0, 1, 0),
    ("Retail Debtors", "Sundry Debtors", "Current Assets", 0, 1, 0),
]

_INV_TYPES = ("Receipt Note", "Delivery Note")

def _money_to_double(df: DataFrame) -> DataFrame:
    """Driver-gate output convention (plans/gate.py): money is computed
    decimal-exact inside the plan and cast to DOUBLE only in the final
    projection, so both engines hash the same IEEE doubles."""
    return df.select(*[
        F.col(f.name).cast("double").alias(f.name)
        if isinstance(f.dataType, T.DecimalType) else F.col(f.name)
        for f in df.schema.fields])



_CATALOG_CACHE: dict[tuple[str, str], R.Catalog] = {}


def tally_catalog(spark: SparkSession, sf_dir: str) -> R.Catalog:
    """Derive the report-relevant slice of the 22-table model from the
    bench tables. Mirrors ``_CTES`` expression for expression.

    The derived tables are lazily ``localCheckpoint``-ed and cached per
    (application, sf_dir): the first report materializes the staging
    tables once and every later report reads the materialized form —
    exactly the production lifecycle (extract the 22 tables once, run
    the whole report library against them), so the per-report cost in
    bench.py reflects the report, not a re-derivation. The header ⋈
    detail joins are staged by the report library itself, once per
    catalog (``tally_reports.acct_voucher``)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CATALOG_CACHE.get(key)
    if cached is not None:
        return cached
    cat = _derive_catalog(spark, sf_dir)
    cat = {name: df.localCheckpoint(eager=False) for name, df in cat.items()}
    # bounded cache: a sweep over several sf_dirs in one session would
    # otherwise pin every sf's checkpoint blocks in executor storage for
    # the application lifetime; keeping only the latest lets GC release
    # the evicted DataFrames' blocks
    _CATALOG_CACHE.clear()
    _CATALOG_CACHE[key] = cat
    return cat


def _derive_catalog(spark: SparkSession, sf_dir: str) -> R.Catalog:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")

    vt = F.lit(None).cast("string")
    for prio, name in reversed(_VT_MAP):
        vt = F.when(F.col("o_orderpriority") == prio, name).otherwise(vt)
    is_inv = vt.isin(*_INV_TYPES)

    trn_voucher = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_name")),
                    orders.o_custkey == F.col("c_custkey"))
        .select(F.col("o_orderkey").cast("string").alias("guid"),
                F.col("o_orderdate").cast("date").alias("date"),
                vt.alias("voucher_type"),
                F.col("o_orderkey").cast("string").alias("voucher_number"),
                F.lit("").alias("narration"),
                F.col("c_name").alias("party_name"),
                F.when(is_inv, 0).otherwise(1).alias("is_accounting_voucher"),
                F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)
                 .alias("is_order_voucher"),
                F.when(is_inv, 1).otherwise(0).alias("is_inventory_voucher")))

    li = (lineitem
          .join(F.broadcast(part.select("p_partkey", "p_brand")),
                lineitem.l_partkey == F.col("p_partkey"))
          .join(orders.select("o_orderkey", "o_custkey"),
                lineitem.l_orderkey == F.col("o_orderkey"))
          .join(F.broadcast(customer.select("c_custkey", "c_name")),
                F.col("o_custkey") == F.col("c_custkey")))

    # one scan of the joined fact, exploded into the debit + credit + cash
    # rows (the SQL CTE spells it as UNION ALL; the values are identical,
    # but a union would run the 4-table join thrice — at 100 TB, once
    # matters). The Cash line gives the cash-in-hand ledger real movement
    # for the daily-cash-movement report.
    cash_amt = (F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
                 .otherwise(-F.col("l_extendedprice"))).cast(_D17)
    trn_accounting = (
        li.select(
            F.col("l_orderkey").cast("string").alias("guid"),
            F.explode(F.array(
                F.struct(F.col("c_name").alias("ledger"),
                         (-F.col("l_extendedprice")).cast(_D17).alias("amount")),
                F.struct(F.concat(F.lit("Sales: "), F.col("p_brand"))
                          .alias("ledger"),
                         F.col("l_extendedprice").cast(_D17).alias("amount")),
                F.struct(F.lit("Cash").alias("ledger"),
                         cash_amt.alias("amount")),
            )).alias("e"))
          .select("guid", "e.ledger", "e.amount"))

    mst_ledger = (
        customer.select(F.col("c_name").alias("name"),
                        F.lit("Sundry Debtors").alias("parent"),
                        F.col("c_acctbal").cast(_D17).alias("opening_balance"),
                        F.lit(0).alias("is_revenue"),
                        F.concat(F.lit("GST"), F.col("c_custkey").cast("string"))
                         .alias("gstn"))
        .unionByName(
            part.select("p_brand").distinct()
                .select(F.concat(F.lit("Sales: "), F.col("p_brand")).alias("name"),
                        F.lit("Sales Accounts").alias("parent"),
                        F.lit("0").cast(_D17).alias("opening_balance"),
                        F.lit(1).alias("is_revenue"),
                        F.lit("").alias("gstn")))
        .unionByName(
            part.groupBy("p_brand")
                .agg(F.sum(F.col("p_retailprice").cast(_D17)).alias("ob"))
                .select(F.concat(F.lit("Stock: "), F.col("p_brand")).alias("name"),
                        F.lit("Stock-in-hand").alias("parent"),
                        F.col("ob").cast(_D17).alias("opening_balance"),
                        F.lit(0).alias("is_revenue"),
                        F.lit("").alias("gstn")))
        .unionByName(
            spark.createDataFrame(
                [("Cash", "Cash-in-Hand", "0", 0, "")],
                "name string, parent string, opening_balance string, "
                "is_revenue int, gstn string")
            .select("name", "parent",
                    F.col("opening_balance").cast(_D17).alias("opening_balance"),
                    "is_revenue", "gstn")))

    trn_closingstock_ledger = (
        lineitem.join(F.broadcast(part.select("p_partkey", "p_brand")),
                      lineitem.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", F.col("l_shipdate").cast("date").alias("stock_date"))
        .agg(F.sum(F.col("l_extendedprice").cast(_D17)).alias("sv"))
        .select(F.concat(F.lit("Stock: "), F.col("p_brand")).alias("ledger"),
                "stock_date", F.col("sv").cast(_D17).alias("stock_value")))

    # tracking numbers include the line number so every (tracking, item)
    # window partition has a deterministic single candidate — the
    # repetition-1 ranking (docs/data-structure.md:242-258) stays
    # structurally exercised while both engines elect identical rows
    trn_inventory = (
        lineitem.join(F.broadcast(part.select("p_partkey", "p_brand")),
                      lineitem.l_partkey == F.col("p_partkey"))
        .select(F.col("l_orderkey").cast("string").alias("guid"),
                F.concat(F.lit("Item: "), F.col("p_brand")).alias("item"),
                F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
                 .otherwise(-F.col("l_quantity")).cast(_D15).alias("quantity"),
                F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
                 .otherwise(-F.col("l_extendedprice")).cast(_D17).alias("amount"),
                F.concat(F.lit("G"), (F.col("l_suppkey") % 3).cast("string"))
                 .alias("godown"),
                F.when(F.col("l_linenumber") >= 4,
                       F.concat(F.lit("trk-"), F.col("l_orderkey").cast("string"),
                                F.lit("-"), F.col("l_partkey").cast("string"),
                                F.lit("-"), F.col("l_linenumber").cast("string")))
                 .otherwise(F.lit("")).alias("tracking_number")))

    mst_opening_batch_allocation = (
        part.groupBy("p_brand")
            .agg(F.sum(F.col("p_size").cast(_D15)).alias("ob"),
                 F.sum(F.col("p_retailprice").cast(_D17)).alias("ov"))
            .select(F.concat(F.lit("Item: "), F.col("p_brand")).alias("item"),
                    F.col("ob").cast(_D15).alias("opening_balance"),
                    F.col("ov").cast(_D17).alias("opening_value"),
                    F.lit("G0").alias("godown")))

    mst_stock_item = (
        part.groupBy("p_brand")
            .agg(F.sum(F.col("p_size").cast(_D15)).alias("ob"))
            .select(F.concat(F.lit("Item: "), F.col("p_brand")).alias("name"),
                    F.lit("Stock-in-hand").alias("parent"),
                    F.lit("Nos").alias("uom"),
                    F.col("ob").cast(_D15).alias("opening_balance")))

    mst_vouchertype = spark.createDataFrame(
        _VT_ROWS, "name string, parent string, affects_stock int")
    mst_group = spark.createDataFrame(
        _GROUP_ROWS, "name string, parent string, primary_group string, "
                     "is_revenue int, is_deemedpositive int, "
                     "affects_gross_profit int")

    return {
        "trn_voucher": trn_voucher,
        "trn_accounting": trn_accounting,
        "trn_inventory": trn_inventory,
        "trn_closingstock_ledger": trn_closingstock_ledger,
        "mst_ledger": mst_ledger,
        "mst_group": mst_group,
        "mst_vouchertype": mst_vouchertype,
        "mst_stock_item": mst_stock_item,
        "mst_opening_batch_allocation": mst_opening_batch_allocation,
    }


def _values(rows, cols) -> str:
    def lit(c):
        # explicit SQL string literal, NOT repr(): a value containing an
        # apostrophe would make repr() emit a DOUBLE-quoted Python string,
        # which SQL parses as an identifier
        return ("'" + c.replace("'", "''") + "'" if isinstance(c, str)
                else str(c))

    body = ", ".join(
        "(" + ", ".join(lit(c) for c in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({', '.join(cols)})"


_INV_SQL = "('Receipt Note', 'Delivery Note')"

_CTES = f"""
vt_map AS ({_values(_VT_MAP, ['priority', 'vt'])}),
mst_vouchertype AS ({_values(_VT_ROWS, ['name', 'parent', 'affects_stock'])}),
mst_group AS ({_values(_GROUP_ROWS, ['name', 'parent', 'primary_group',
                                     'is_revenue', 'is_deemedpositive',
                                     'affects_gross_profit'])}),
trn_voucher AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS guid,
         CAST(o_orderdate AS DATE) AS date,
         m.vt AS voucher_type,
         CAST(o_orderkey AS VARCHAR) AS voucher_number,
         '' AS narration,
         c.c_name AS party_name,
         CASE WHEN m.vt IN {_INV_SQL} THEN 0 ELSE 1 END AS is_accounting_voucher,
         CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END AS is_order_voucher,
         CASE WHEN m.vt IN {_INV_SQL} THEN 1 ELSE 0 END AS is_inventory_voucher
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN vt_map m ON m.priority = o.o_orderpriority
),
li AS (
  SELECT l.*, p.p_brand, c.c_name
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
trn_accounting AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS guid, c_name AS ledger,
         CAST(-l_extendedprice AS DECIMAL(17,2)) AS amount
  FROM li
  UNION ALL
  SELECT CAST(l_orderkey AS VARCHAR), 'Sales: ' || p_brand,
         CAST(l_extendedprice AS DECIMAL(17,2))
  FROM li
  UNION ALL
  SELECT CAST(l_orderkey AS VARCHAR), 'Cash',
         CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
                   ELSE -l_extendedprice END AS DECIMAL(17,2))
  FROM li
),
mst_ledger AS (
  SELECT c_name AS name, 'Sundry Debtors' AS parent,
         CAST(c_acctbal AS DECIMAL(17,2)) AS opening_balance,
         0 AS is_revenue, 'GST' || c_custkey AS gstn
  FROM customer
  UNION ALL
  SELECT DISTINCT 'Sales: ' || p_brand, 'Sales Accounts',
         CAST('0' AS DECIMAL(17,2)), 1, ''
  FROM part
  UNION ALL
  SELECT 'Stock: ' || p_brand, 'Stock-in-hand',
         CAST(SUM(CAST(p_retailprice AS DECIMAL(17,2))) AS DECIMAL(17,2)), 0, ''
  FROM part GROUP BY p_brand
  UNION ALL
  SELECT 'Cash', 'Cash-in-Hand', CAST('0' AS DECIMAL(17,2)), 0, ''
),
trn_closingstock_ledger AS (
  SELECT 'Stock: ' || p_brand AS ledger,
         CAST(l_shipdate AS DATE) AS stock_date,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(17,2))) AS DECIMAL(17,2)) AS stock_value
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand, CAST(l_shipdate AS DATE)
),
trn_inventory AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS guid,
         'Item: ' || p_brand AS item,
         CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
                   ELSE -l_quantity END AS DECIMAL(15,4)) AS quantity,
         CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
                   ELSE -l_extendedprice END AS DECIMAL(17,2)) AS amount,
         'G' || (l_suppkey % 3) AS godown,
         CASE WHEN l_linenumber >= 4
              THEN 'trk-' || l_orderkey || '-' || l_partkey || '-' || l_linenumber
              ELSE '' END AS tracking_number
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
mst_stock_item AS (
  SELECT 'Item: ' || p_brand AS name, 'Stock-in-hand' AS parent, 'Nos' AS uom,
         CAST(SUM(CAST(p_size AS DECIMAL(15,4))) AS DECIMAL(15,4)) AS opening_balance
  FROM part GROUP BY p_brand
),
mst_opening_batch_allocation AS (
  SELECT 'Item: ' || p_brand AS item,
         CAST(SUM(CAST(p_size AS DECIMAL(15,4))) AS DECIMAL(15,4)) AS opening_balance,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(17,2))) AS DECIMAL(17,2)) AS opening_value,
         'G0' AS godown
  FROM part GROUP BY p_brand
)"""

_ACC_EFF = """
  SELECT a.*, v.date, v.voucher_type, v.voucher_number, v.narration, v.party_name
  FROM trn_accounting a JOIN trn_voucher v ON v.guid = a.guid
  WHERE v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
"""


@gate_query("report_trial_balance", oracle=f"""
WITH {_CTES},
eff AS ({_ACC_EFF}),
op AS (SELECT ledger, SUM(amount) AS amount FROM eff
       WHERE date < DATE '{FROM}' GROUP BY 1),
curr AS (SELECT ledger,
         SUM(CASE WHEN amount < 0 THEN abs(amount) ELSE CAST('0' AS DECIMAL(17,2)) END) AS debit,
         SUM(CASE WHEN amount > 0 THEN amount ELSE CAST('0' AS DECIMAL(17,2)) END) AS credit
         FROM eff WHERE date BETWEEN DATE '{FROM}' AND DATE '{TO}' GROUP BY 1)
SELECT l.name,
  CAST(CAST(CASE WHEN l.is_revenue = 0 THEN l.opening_balance + COALESCE(op.amount, 0)
       ELSE 0 END AS DECIMAL(17,2)) AS DOUBLE) AS opening,
  CAST(CAST(COALESCE(curr.debit, 0) AS DECIMAL(17,2)) AS DOUBLE) AS debit,
  CAST(CAST(COALESCE(curr.credit, 0) AS DECIMAL(17,2)) AS DOUBLE) AS credit,
  CAST(CAST(CASE WHEN l.is_revenue = 0
       THEN l.opening_balance + COALESCE(op.amount,0) + COALESCE(curr.credit,0) - COALESCE(curr.debit,0)
       ELSE COALESCE(curr.credit,0) - COALESCE(curr.debit,0) END AS DECIMAL(17,2)) AS DOUBLE) AS closing
FROM mst_ledger l
LEFT JOIN op ON op.ledger = l.name
LEFT JOIN curr ON curr.ledger = l.name
""")
def report_trial_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL trial-balance report program (plans/tally_reports.py
    trial_balance; reference reports/mssql/trial-balance.sql:4-31) over
    the bench-derived 22-table slice."""
    return _money_to_double(R.trial_balance(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_profit_loss", oracle=f"""
WITH {_CTES},
gb AS (
  SELECT g.primary_group AS "group", l.name AS ledger,
         CASE WHEN MAX(g.is_deemedpositive) = 1 THEN 'expense' ELSE 'income' END AS nature,
         CASE WHEN MAX(g.affects_gross_profit) = 1 THEN 'Y' ELSE 'N' END AS affects_gross_profit,
         CAST(CAST(SUM(a.amount) AS DECIMAL(17,2)) AS DOUBLE) AS balance
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
         'Y' AS affects_gross_profit, CAST(CAST(SUM(l.opening_balance) AS DECIMAL(17,2)) AS DOUBLE) AS balance
  FROM mst_ledger l JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Stock-in-hand'
),
cls AS (
  SELECT 'Closing Stock' AS "group", 'Closing Stock' AS ledger, 'income' AS nature,
         'Y' AS affects_gross_profit, CAST(CAST(-SUM(t.stock_value) AS DECIMAL(17,2)) AS DOUBLE) AS balance
  FROM (SELECT ledger, stock_value,
               row_number() OVER (PARTITION BY ledger ORDER BY stock_date DESC) AS ctr
        FROM trn_closingstock_ledger) t
  WHERE t.ctr = 1
)
SELECT * FROM gb UNION ALL SELECT * FROM ops UNION ALL SELECT * FROM cls
""")
def report_profit_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL profit & loss report program (plans/tally_reports.py
    profit_loss; reference reports/mssql/profit-loss.sql — incl. the
    latest-closing-stock ranking window, :32-35)."""
    return _money_to_double(R.profit_loss(tally_catalog(spark, sf_dir)))


@gate_query("report_stock_summary", oracle=f"""
WITH {_CTES},
inv AS (
  SELECT i.*, t.parent AS vt_parent, v.is_order_voucher
  FROM trn_inventory i
  JOIN trn_voucher v ON v.guid = i.guid
  JOIN mst_vouchertype t ON v.voucher_type = t.name
),
reco AS (
  SELECT item, tracking_number,
         SUM(CASE WHEN vt_parent IN {_INV_SQL} THEN abs(quantity) ELSE 0 END) AS note,
         SUM(CASE WHEN vt_parent NOT IN {_INV_SQL} THEN abs(quantity) ELSE 0 END) AS invoice
  FROM inv WHERE tracking_number <> ''
  GROUP BY 1, 2
),
eff AS (
  SELECT i.item,
         SUM(CASE WHEN i.quantity > 0 THEN i.quantity ELSE 0 END) AS in_qty,
         SUM(CASE WHEN i.quantity < 0 THEN -i.quantity ELSE 0 END) AS out_qty
  FROM inv i
  LEFT JOIN reco r ON i.item = r.item AND i.tracking_number = r.tracking_number
  WHERE i.is_order_voucher = 0 AND (
        i.tracking_number = ''
        OR (i.vt_parent NOT IN {_INV_SQL} AND r.note = r.invoice)
        OR (i.vt_parent IN {_INV_SQL} AND r.note > r.invoice))
  GROUP BY i.item
)
SELECT s.name, s.parent, s.uom,
       CAST(CAST(s.opening_balance AS DECIMAL(15,4)) AS DOUBLE) AS op_qty,
       CAST(CAST(COALESCE(e.in_qty, 0) AS DECIMAL(15,4)) AS DOUBLE) AS in_qty,
       CAST(CAST(COALESCE(e.out_qty, 0) AS DECIMAL(15,4)) AS DOUBLE) AS out_qty,
       CAST(CAST(s.opening_balance + COALESCE(e.in_qty,0) - COALESCE(e.out_qty,0) AS DECIMAL(15,4)) AS DOUBLE) AS clo_bal
FROM mst_stock_item s LEFT JOIN eff e ON s.name = e.item
""")
def report_stock_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL stock-summary report program (plans/tally_reports.py
    stock_summary; reference reports/mssql/stock-summary.sql with the
    3-regime tracking-number reconciliation of docs/data-structure.md
    :242-258)."""
    return _money_to_double(R.stock_summary(tally_catalog(spark, sf_dir)))


@gate_query("report_account_ledger", oracle=f"""
WITH {_CTES},
led AS (
  SELECT v.guid, v.date, v.voucher_number, v.voucher_type, v.narration,
         CAST(CASE WHEN a.amount < 0 THEN -a.amount ELSE 0 END AS DECIMAL(17,2)) AS debit,
         CAST(CASE WHEN a.amount > 0 THEN a.amount ELSE 0 END AS DECIMAL(17,2)) AS credit
  FROM trn_accounting a JOIN trn_voucher v ON v.guid = a.guid
  WHERE a.ledger = 'Customer#000000001' AND v.is_accounting_voucher = 1
    AND v.date BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'
),
entry AS (
  SELECT v.guid, string_agg(a.ledger, ',' ORDER BY a.ledger) AS ledgers
  FROM trn_voucher v JOIN trn_accounting a ON a.guid = v.guid
                     AND a.ledger <> 'Customer#000000001'
  WHERE v.guid IN (SELECT DISTINCT guid FROM led)
    AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
  GROUP BY v.guid
)
SELECT l.date, l.voucher_number, l.voucher_type, e.ledgers,
       CAST(l.debit AS DOUBLE) AS debit, CAST(l.credit AS DOUBLE) AS credit, l.narration
FROM led l JOIN entry e ON e.guid = l.guid
""")
def report_account_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL single-ledger statement program (plans/tally_reports.py
    account_ledger; reference reports/mssql/account-ledger.sql:6-26 with
    sorted co-ledger string aggregation)."""
    return _money_to_double(R.account_ledger(
        tally_catalog(spark, sf_dir), "Customer#000000001",
        "1992-01-01", "1998-12-31"))


@gate_query("report_sales_register", oracle=f"""
WITH {_CTES}
SELECT v.date, v.voucher_number, v.voucher_type, v.party_name, z.gstn, a.ledger,
       CAST(CAST(a.amount AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM trn_accounting a
JOIN trn_voucher v ON v.guid = a.guid
JOIN mst_vouchertype t ON v.voucher_type = t.name
JOIN mst_ledger l ON a.ledger = l.name
JOIN mst_ledger z ON v.party_name = z.name
WHERE t.parent IN ('Sales') AND a.ledger <> v.party_name
""")
def report_sales_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL sales-register program (plans/tally_reports.py
    sales_register; reference reports/mssql/sales-register.sql — the
    long-format pivot input with the party GSTN via a mst_ledger
    self-join)."""
    return _money_to_double(R.sales_register(tally_catalog(spark, sf_dir)))


@gate_query("report_purchase_register", oracle=f"""
WITH {_CTES}
SELECT v.date, v.voucher_number, v.voucher_type, v.party_name, z.gstn, a.ledger,
       CAST(CAST(-a.amount AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM trn_accounting a
JOIN trn_voucher v ON v.guid = a.guid
JOIN mst_vouchertype t ON v.voucher_type = t.name
JOIN mst_ledger l ON a.ledger = l.name
JOIN mst_ledger z ON v.party_name = z.name
WHERE t.parent IN ('Purchase') AND a.ledger <> v.party_name
""")
def report_purchase_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL purchase-register program (plans/tally_reports.py
    purchase_register; reference reports/mssql/purchase-register.sql —
    the sales register's mirror with the :10 unary-minus amounts and the
    same mst_ledger self-join for the party GSTN)."""
    return _money_to_double(R.purchase_register(tally_catalog(spark, sf_dir)))


@gate_query("report_accounting_voucher_view", oracle=f"""
WITH {_CTES},
lg AS (
  SELECT l.name, l.opening_balance, g.primary_group
  FROM mst_ledger l JOIN mst_group g ON g.name = l.parent
),
eff AS ({_ACC_EFF})
SELECT DATE '2000-01-01' AS date,
       'Opening Balance' AS voucher_type,
       '' AS voucher_number,
       name AS ledger,
       CAST(CAST(opening_balance AS DECIMAL(17,2)) AS DOUBLE) AS amount,
       '' AS party_name,
       primary_group,
       'Opening Balance' AS voucher_category
FROM lg WHERE opening_balance <> 0
UNION ALL
SELECT e.date, e.voucher_type, e.voucher_number, e.ledger,
       CAST(CAST(e.amount AS DECIMAL(17,2)) AS DOUBLE),
       e.party_name, lg.primary_group, t.parent
FROM eff e
JOIN lg ON lg.name = e.ledger
JOIN mst_vouchertype t ON t.name = e.voucher_type
""")
def report_accounting_voucher_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL accounting-voucher-view program (plans/tally_reports.py
    accounting_voucher_view; reference reports/mssql/accounting-voucher-
    view.sql — opening-balance synthetic vouchers dated 2000-01-01
    unioned with accounting effects, annotated with primary group and
    voucher category)."""
    return _money_to_double(
        R.accounting_voucher_view(tally_catalog(spark, sf_dir)))


@gate_query("report_sales_daily", oracle=f"""
WITH {_CTES},
eff AS (
  SELECT v.date AS date, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Sales Accounts'
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY v.date
),
spine AS (
  SELECT CAST(unnest(generate_series(DATE '{FROM}', DATE '{TO}',
                                     INTERVAL 1 DAY)) AS DATE) AS date
)
SELECT s.date,
       CAST(CAST(COALESCE(e.amount, 0) AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM spine s LEFT JOIN eff e ON e.date = s.date
""")
def report_sales_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL sales-daily program (plans/tally_reports.py sales_daily;
    reference reports/mssql/sales-daily.sql — closed-form date spine per
    the BigQuery generate_date_array formulation, never the recursive
    CTE, left-joined onto daily revenue sums)."""
    return _money_to_double(
        R.sales_daily(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_sales_monthly", oracle=f"""
WITH {_CTES},
months AS (
  SELECT DISTINCT CAST(EXTRACT(YEAR FROM d) AS INT) AS year,
                  CAST(EXTRACT(MONTH FROM d) AS INT) AS month
  FROM (SELECT CAST(unnest(generate_series(DATE '{FROM}', DATE '{TO}',
                                           INTERVAL 1 DAY)) AS DATE) AS d)
),
eff AS (
  SELECT CAST(EXTRACT(YEAR FROM v.date) AS INT) AS year,
         CAST(EXTRACT(MONTH FROM v.date) AS INT) AS month,
         SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Sales Accounts'
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY 1, 2
)
SELECT m.year, m.month,
       CAST(CAST(COALESCE(e.amount, 0) AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM months m LEFT JOIN eff e ON e.year = m.year AND e.month = m.month
""")
def report_sales_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL sales-monthly program (plans/tally_reports.py
    sales_monthly; reference reports/mssql/sales-monthly.sql — month
    spine ⟕ monthly revenue sums)."""
    return _money_to_double(
        R.sales_monthly(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_purchase_daily", oracle=f"""
WITH {_CTES},
eff AS (
  SELECT v.date AS date, SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Purchase Accounts'
    AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY v.date
),
spine AS (
  SELECT CAST(unnest(generate_series(DATE '{FROM}', DATE '{TO}',
                                     INTERVAL 1 DAY)) AS DATE) AS date
)
SELECT s.date,
       CAST(CAST(COALESCE(-e.amount, 0) AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM spine s LEFT JOIN eff e ON e.date = s.date
""")
def report_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL purchase-daily program (plans/tally_reports.py
    purchase_daily; reference reports/mssql/purchase-daily.sql — unlike
    sales-daily, amounts are NEGATED and order/inventory vouchers are
    excluded, the asymmetry purchase-daily.sql:20-24 encodes)."""
    return _money_to_double(
        R.purchase_daily(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_purchase_monthly", oracle=f"""
WITH {_CTES},
months AS (
  SELECT DISTINCT CAST(EXTRACT(YEAR FROM d) AS INT) AS year,
                  CAST(EXTRACT(MONTH FROM d) AS INT) AS month
  FROM (SELECT CAST(unnest(generate_series(DATE '{FROM}', DATE '{TO}',
                                           INTERVAL 1 DAY)) AS DATE) AS d)
),
eff AS (
  SELECT CAST(EXTRACT(YEAR FROM v.date) AS INT) AS year,
         CAST(EXTRACT(MONTH FROM v.date) AS INT) AS month,
         SUM(a.amount) AS amount
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  WHERE g.primary_group = 'Purchase Accounts'
    AND v.is_order_voucher = 0 AND v.is_inventory_voucher = 0
    AND v.date BETWEEN DATE '{FROM}' AND DATE '{TO}'
  GROUP BY 1, 2
)
SELECT m.year, m.month,
       CAST(CAST(COALESCE(-e.amount, 0) AS DECIMAL(17,2)) AS DOUBLE) AS amount
FROM months m LEFT JOIN eff e ON e.year = m.year AND e.month = m.month
""")
def report_purchase_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL purchase-monthly program (plans/tally_reports.py
    purchase_monthly; reference reports/mssql/purchase-monthly.sql —
    negated amounts, order/inventory vouchers excluded per
    purchase-monthly.sql:24, the filter whose absence round 4 caught as
    a real bug when the monthly total disagreed with the sum of
    dailies). With both gates registered, all 15 reference reports have
    driver-registry entries (group trees share one merged gate)."""
    return _money_to_double(
        R.purchase_monthly(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_daily_cash_movement", oracle=f"""
WITH {_CTES},
mov AS (
  SELECT v.date,
         SUM(CASE WHEN a.amount < 0 THEN -a.amount
                  ELSE CAST('0' AS DECIMAL(17,2)) END) AS receipt,
         SUM(CASE WHEN a.amount > 0 THEN a.amount
                  ELSE CAST('0' AS DECIMAL(17,2)) END) AS payment
  FROM trn_accounting a
  JOIN trn_voucher v ON v.guid = a.guid
  JOIN mst_ledger l ON a.ledger = l.name
  JOIN mst_group g ON g.name = l.parent
  JOIN mst_vouchertype t ON t.name = v.voucher_type
  WHERE lower(g.primary_group) = 'cash-in-hand'
    AND lower(t.parent) IN ('receipt', 'payment', 'contra')
  GROUP BY v.date
),
spine AS (
  SELECT CAST(unnest(generate_series(DATE '{FROM}', DATE '{TO}',
                                     INTERVAL 1 DAY)) AS DATE) AS date
)
SELECT s.date,
       CAST(CAST(COALESCE(m.receipt, 0) AS DECIMAL(17,2)) AS DOUBLE) AS receipt,
       CAST(CAST(COALESCE(m.payment, 0) AS DECIMAL(17,2)) AS DOUBLE) AS payment
FROM spine s LEFT JOIN mov m ON m.date = s.date
""")
def report_daily_cash_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL daily-cash-movement program (plans/tally_reports.py
    daily_cash_movement; reference reports/mssql/daily-cash-movement.sql
    — cash-in-hand receipts/payments over receipt/payment/contra
    vouchers, lower() comparisons per the BigQuery variant, spine ⟕
    daily splits). The derived slice gives the Cash ledger real movement
    via the per-line cash leg and parents Journal under Contra."""
    return _money_to_double(
        R.daily_cash_movement(tally_catalog(spark, sf_dir), FROM, TO))


@gate_query("report_stock_voucher_view", oracle=f"""
WITH {_CTES},
svv AS (
  SELECT v.date, v.voucher_number, v.voucher_type, i.item,
         i.quantity, i.amount, i.godown,
         CASE WHEN i.tracking_number = '' THEN 1
              ELSE row_number() OVER (PARTITION BY i.tracking_number, i.item
                                      ORDER BY v.date, i.quantity, i.amount,
                                               i.godown) END AS repetition
  FROM trn_inventory i
  JOIN trn_voucher v ON v.guid = i.guid
  WHERE v.is_order_voucher = 0
)
SELECT DATE '2000-01-01' AS date, '' AS voucher_number,
       'Opening Balance' AS voucher_type, item,
       CAST(CAST(opening_balance AS DECIMAL(15,4)) AS DOUBLE) AS quantity,
       CAST(CAST(opening_value AS DECIMAL(17,2)) AS DOUBLE) AS amount,
       godown
FROM mst_opening_batch_allocation
UNION ALL
SELECT date, voucher_number, voucher_type, item,
       CAST(CAST(quantity AS DECIMAL(15,4)) AS DOUBLE),
       CAST(CAST(amount AS DECIMAL(17,2)) AS DOUBLE),
       godown
FROM svv WHERE repetition = 1
""")
def report_stock_voucher_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL stock-voucher-view program (plans/tally_reports.py
    stock_voucher_view; reference reports/mssql/stock-voucher-view.sql —
    opening batch allocations unioned with inventory movements deduped
    to workflow repetition 1 via the tracking-number ranking window,
    docs/data-structure.md:242-258)."""
    return _money_to_double(
        R.stock_voucher_view(tally_catalog(spark, sf_dir)))


@gate_query("report_group_trees", oracle=f"""
WITH RECURSIVE {_CTES},
down AS (
  SELECT name, parent FROM mst_group WHERE name = 'Current Assets'
  UNION ALL
  SELECT g.name, g.parent FROM mst_group g JOIN down d ON g.parent = d.name
),
up AS (
  SELECT name, parent FROM mst_group WHERE name = 'Retail Debtors'
  UNION ALL
  SELECT g.name, g.parent FROM mst_group g JOIN up u ON u.parent = g.name
)
SELECT 'parent_child' AS direction, name, parent FROM down
UNION ALL
SELECT 'children_parent', name, parent FROM up
""")
def report_group_trees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL group-tree programs (plans/tally_reports.py
    group_tree_parent_child / group_tree_children_parent; reference
    reports/mssql/group-tree-parent-child.sql and group-tree-children-
    parent.sql) — descendants of Current Assets and ancestors of Retail
    Debtors over the acyclic group tree, walked on the driver from one
    read of mst_group (the oracle uses DuckDB's recursive CTE)."""
    cat = tally_catalog(spark, sf_dir)
    down = R.group_tree_parent_child(cat, "Current Assets").select(
        F.lit("parent_child").alias("direction"), "name", "parent")
    up = R.group_tree_children_parent(cat, "Retail Debtors").select(
        F.lit("children_parent").alias("direction"), "name", "parent")
    return down.unionByName(up)
