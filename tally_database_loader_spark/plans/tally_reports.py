"""The Tally report library (SURVEY §2.F): all 15 reference reports as
parameterized Spark SQL programs over the 22-table model.

Each function takes a catalog (table name → DataFrame) and parameters, and
cites the reference SQL it re-expresses (reports/mssql/*.sql — the T-SQL
and GoogleSQL variants compute the same result; we follow the dialect-free
semantics, e.g. closed-form date spines instead of recursive CTEs, and the
BigQuery lower() convention where T-SQL relied on case-insensitive
collation).

Cross-cutting semantics (reference docs/data-structure.md):
- amounts signed Credit=+/Debit=− (:68-72); quantities Inward=+/Out=− (:76-80)
- order vouchers excluded everywhere (:177)
- accounting effects = is_order_voucher=0 AND is_inventory_voucher=0 (:203-213)
- partial-workflow dedup on tracking_number via ROW_NUMBER (:242-258)

Scale notes. A report pass shares what its reports have in common, staged
once per catalog (``_staged``) and reused by every later report:
- the three dimensions (``mst_ledger``, ``mst_group``, ``mst_vouchertype``)
  are collected once each into Arrow-backed local relations. Every
  broadcast join collects them to the driver anyway (they sit under the
  64 MB ``autoBroadcastJoinThreshold``); staging collects each once per
  pass instead of once per join. ``mst_ledger ⋈ mst_group`` is joined on
  the driver over the staged rows (``_ledger_groups``), and the group
  trees walk the staged ``mst_group`` rows there (``_walk_groups``);
- the header ⋈ detail joins (``acct_voucher``, ``inv_voucher``) and the
  ``acct_voucher ⋈ mst_ledger ⋈ mst_group`` fact seven reports start from
  (``_ledger_fact``) are lazily ``localCheckpoint``-ed: the first report
  to run one materializes it, later reports read its blocks.
The date and month spines are closed-form sequences on the probe side of
a broadcast join; aggregations are single groupBys with map-side
partials. Each report is one ``spark.sql`` statement over those staged
relations, so building it costs a few Py4J round trips. At the library's
table sizes a Spark job's fixed cost is what a report pays for, and a
report runs a handful of them.
"""

from __future__ import annotations

import threading
import weakref
from collections import defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

Catalog = dict[str, DataFrame]

_Z = "CAST(0 AS DECIMAL(17,2))"
_ZQ = "CAST(0 AS DECIMAL(15,4))"
_ACCOUNTING = "is_order_voucher = 0 AND is_inventory_voucher = 0"
_NOTES = "('Receipt Note', 'Delivery Note')"

# catalog DataFrame objects → what the library staged from them. Keyed
# level by level on the catalog's own DataFrames, then on the staging
# function: a catalog's reports share one staged relation, a catalog
# re-read from the store (new objects) is staged afresh, and an entry —
# with its blocks — goes when its catalog does
_STAGED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STAGED_LOCK = threading.Lock()


def _staged(build, frames, *args):
    """``build(*args)``, once per staging function and tuple of catalog
    DataFrames it is derived from (``frames``): the first report to ask
    stages it, every later report gets the same value."""
    with _STAGED_LOCK:
        node = _STAGED
        for f in frames:
            node = node.setdefault(f, weakref.WeakKeyDictionary())
        if build not in node:
            node[build] = build(*args)
        return node[build]


def _local(df: DataFrame) -> tuple[pa.Table, DataFrame]:
    """``df``'s rows as an Arrow table and as a local relation over them,
    which reads no file (broadcasting it still runs a job)."""
    tbl = df.toArrow()
    return tbl, df.sparkSession.createDataFrame(tbl, df.schema)


def _dim_rows(cat: Catalog, name: str) -> tuple[pa.Table, DataFrame]:
    """Dimension ``name`` collected once per catalog (``_local``)."""
    return _staged(_local, [cat[name]], cat[name])


def _dim(cat: Catalog, name: str) -> DataFrame:
    """Dimension ``name`` as a local relation (``_dim_rows``)."""
    return _dim_rows(cat, name)[1]


def _join_on_guid(detail: DataFrame, header: DataFrame) -> DataFrame:
    return detail.join(header, "guid").localCheckpoint(eager=False)


def acct_voucher(cat: Catalog) -> DataFrame:
    """trn_accounting ⋈ trn_voucher on guid (all voucher columns) — the
    report library's hottest join: nearly every report starts from it.
    Staged once per catalog snapshot, so the whole library pays the
    header/detail join once instead of once per report."""
    pair = (cat["trn_accounting"], cat["trn_voucher"])
    return _staged(_join_on_guid, pair, *pair)


def inv_voucher(cat: Catalog) -> DataFrame:
    """trn_inventory ⋈ trn_voucher on guid — the inventory-side analogue
    of ``acct_voucher``, staged the same way."""
    pair = (cat["trn_inventory"], cat["trn_voucher"])
    return _staged(_join_on_guid, pair, *pair)


def _ledger_groups(led: tuple[pa.Table, DataFrame],
                   grp: tuple[pa.Table, DataFrame]) -> DataFrame:
    """``mst_ledger ⋈ mst_group`` on the ledger's parent, joined on the
    driver over the two staged dimensions, so it runs no job: each
    ledger's ``name``, ``parent`` and ``opening_balance`` with its
    group's ``primary_group``, ``is_revenue``, ``is_deemedpositive`` and
    ``affects_gross_profit``, as a local relation. As in the SQL join,
    NULL matches nothing and a repeated name repeats its matches."""
    (ltbl, ldf), (gtbl, gdf) = led, grp
    named = defaultdict(list)
    for j, name in enumerate(gtbl.column("name").to_pylist()):
        if name is not None:  # NULL matches nothing, so never index it
            named[name].append(j)
    pairs = [(i, j) for i, parent in enumerate(ltbl.column("parent").to_pylist())
             for j in named.get(parent, ())]
    li = pa.array([i for i, _ in pairs], pa.int64())
    gi = pa.array([j for _, j in pairs], pa.int64())
    lcols = ["name", "parent", "opening_balance"]
    gcols = ["primary_group", "is_revenue", "is_deemedpositive",
             "affects_gross_profit"]
    tbl = pa.Table.from_arrays(
        [ltbl.column(c).take(li) for c in lcols]
        + [gtbl.column(c).take(gi) for c in gcols], names=lcols + gcols)
    schema = T.StructType([ldf.schema[c] for c in lcols]
                          + [gdf.schema[c] for c in gcols])
    return ldf.sparkSession.createDataFrame(tbl, schema)


def _lg(cat: Catalog) -> DataFrame:
    """``_ledger_groups`` of the catalog, staged once per catalog."""
    return _staged(_ledger_groups, [cat["mst_ledger"], cat["mst_group"]],
                   _dim_rows(cat, "mst_ledger"), _dim_rows(cat, "mst_group"))


def _join_ledger_group(av: DataFrame, lg: DataFrame) -> DataFrame:
    return av.sparkSession.sql("""
SELECT /*+ BROADCAST(lg) */ a.*, lg.primary_group, lg.is_revenue,
       lg.is_deemedpositive, lg.affects_gross_profit
FROM {av} a JOIN {lg} lg ON a.ledger = lg.name""",
                               av=av, lg=lg).localCheckpoint(eager=False)


def _ledger_fact(cat: Catalog) -> DataFrame:
    """``acct_voucher ⋈ mst_ledger ⋈ mst_group`` (ledger → its parent
    group): every ``acct_voucher`` column plus the group's
    ``primary_group``, ``is_revenue``, ``is_deemedpositive`` and
    ``affects_gross_profit``; staged like ``acct_voucher``. Inner
    equi-joins commute, so a report that filters or joins this fact
    sees each line with the multiplicity its own join chain gave it,
    rows fanned out by a repeated dimension name included."""
    frames = [cat[t] for t in ("trn_accounting", "trn_voucher", "mst_ledger",
                               "mst_group")]
    return _staged(_join_ledger_group, frames, acct_voucher(cat), _lg(cat))


def _sql(cat: Catalog, query: str, **args) -> DataFrame:
    """One report statement: DataFrame arguments become views, strings
    quoted SQL literals (``SparkSession.sql``'s formatter)."""
    return cat["trn_voucher"].sparkSession.sql(query, **args)


# Closed-form calendar spines (`{from_date}`/`{to_date}` are the range
# literals). The day spine replaces the reference's recursive CTE capped
# at maxrecursion 500 (reports/mssql/sales-daily.sql:4-9); formulation
# follows reports/bigquery/sales-daily.sql:13. The stop is NULL when the
# range is inverted, which makes ``sequence`` NULL and the spine empty,
# as ``generate_series`` is (Spark's ``sequence`` would otherwise count
# down, or raise with a positive step).
_STOP = """CASE WHEN CAST({from_date} AS DATE) <= CAST({to_date} AS DATE)
            THEN CAST({to_date} AS DATE) END"""
_DAYS = f"SELECT explode(sequence(CAST({{from_date}} AS DATE), {_STOP})) AS date"
# (year, month) of every month the range touches, one row each — the
# months of the day spine without exploding and deduplicating its days
_MONTHS = f"""SELECT year(m) AS year, month(m) AS month FROM (
  SELECT explode(sequence(trunc(CAST({{from_date}} AS DATE), 'month'), {_STOP},
                          INTERVAL 1 MONTH)) AS m)"""


# ---------------------------------------------------------------------------

def trial_balance(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/trial-balance.sql:4-31 — per-ledger opening/debit/
    credit/closing; revenue ledgers report period movement only. Opening
    movement, debit and credit come from one aggregate: each sum only
    sees its own date window (rows outside it are NULL to the sum). The
    result is one row per ledger, built from the local ledger relation
    and a broadcast aggregate, so it is sorted in one partition
    (``COALESCE(1)``): no range-partitioning sample job and shuffle."""
    return _sql(cat, f"""
WITH mov AS (
  SELECT ledger AS mv_ledger,
         sum(CASE WHEN is_before THEN amount END) AS op_amount,
         sum(CASE WHEN is_within THEN CASE WHEN amount < 0 THEN abs(amount)
                                        ELSE {_Z} END END) AS cu_debit,
         sum(CASE WHEN is_within THEN CASE WHEN amount > 0 THEN amount
                                        ELSE {_Z} END END) AS cu_credit
  FROM (SELECT ledger, amount,
               date < CAST({{from_date}} AS DATE) AS is_before,
               date BETWEEN {{from_date}} AND {{to_date}} AS is_within
        FROM {{av}} WHERE {_ACCOUNTING})
  WHERE is_before OR is_within
  GROUP BY ledger),
bal AS (
  SELECT /*+ BROADCAST(m) */ l.name, l.is_revenue,
         l.opening_balance + coalesce(m.op_amount, {_Z}) AS opening_all,
         coalesce(m.cu_debit, {_Z}) AS debit,
         coalesce(m.cu_credit, {_Z}) AS credit
  FROM {{led}} l LEFT JOIN mov m ON l.name = m.mv_ledger)
SELECT /*+ COALESCE(1) */ name,
       CAST(CASE WHEN is_revenue = 0 THEN opening_all ELSE {_Z} END
            AS DECIMAL(17,2)) AS opening,
       CAST(debit AS DECIMAL(17,2)) AS debit,
       CAST(credit AS DECIMAL(17,2)) AS credit,
       CAST(CASE WHEN is_revenue = 0 THEN opening_all + credit - debit
                 ELSE credit - debit END AS DECIMAL(17,2)) AS closing
FROM bal ORDER BY name""", av=acct_voucher(cat), led=_dim(cat, "mst_ledger"),
                from_date=from_date, to_date=to_date)


def profit_loss(cat: Catalog) -> DataFrame:
    """reports/mssql/profit-loss.sql — revenue-group balances ∪ opening
    stock ∪ closing stock (latest trn_closingstock_ledger row per ledger
    via ranking window, :32-35)."""
    return _sql(cat, f"""
SELECT primary_group AS `group`, ledger,
       CASE WHEN max(is_deemedpositive) = 1 THEN 'expense' ELSE 'income' END
         AS nature,
       CASE WHEN max(affects_gross_profit) = 1 THEN 'Y' ELSE 'N' END
         AS affects_gross_profit,
       CAST(sum(amount) AS DECIMAL(17,2)) AS balance
FROM (SELECT /*+ BROADCAST(t) */ f.*
      FROM {{fact}} f JOIN {{vt}} t ON f.voucher_type = t.name
      WHERE {_ACCOUNTING}
        AND t.affects_stock = 0 AND f.is_revenue = 1)
GROUP BY primary_group, ledger
UNION ALL
SELECT 'Opening Stock', 'Opening Stock', 'expense', 'Y',
       CAST(sum(opening_balance) AS DECIMAL(17,2))
FROM {{lg}} WHERE primary_group = 'Stock-in-hand'
UNION ALL
SELECT 'Closing Stock', 'Closing Stock', 'income', 'Y',
       CAST(-sum(stock_value) AS DECIMAL(17,2))
FROM (SELECT stock_value, row_number() OVER (PARTITION BY ledger
                                             ORDER BY stock_date DESC) AS ctr
      FROM {{csl}})
WHERE ctr = 1""", fact=_ledger_fact(cat), vt=_dim(cat, "mst_vouchertype"),
                lg=_lg(cat), csl=cat["trn_closingstock_ledger"])


def stock_summary(cat: Catalog) -> DataFrame:
    """reports/mssql/stock-summary.sql — per-item opening/in/out/closing
    with the 3-regime tracking reconciliation (docs/data-structure.md:242-258).

    Blank tracking = no workflow: the text encoding stores '' (the T-SQL
    original checks NULL; the relational model stores '' — same regime).
    The reconciliation is a WINDOW over (item, tracking_number), one
    exchange instead of a groupBy joined back. Blank-tracking rows get
    NULL note/invoice, which their filter branch never reads."""
    return _sql(cat, f"""
WITH inv AS (
  SELECT /*+ BROADCAST(t) */ i.item, i.tracking_number, i.quantity,
         i.is_order_voucher, t.parent AS vt_parent
  FROM {{iv}} i JOIN {{vt}} t ON i.voucher_type = t.name),
reco AS (
  SELECT item, quantity, tracking_number, is_order_voucher, vt_parent,
         CASE WHEN tracking_number != '' THEN sum(
           CASE WHEN vt_parent IN {_NOTES} THEN abs(quantity) ELSE 0 END)
           OVER (PARTITION BY item, tracking_number) END AS note,
         CASE WHEN tracking_number != '' THEN sum(
           CASE WHEN vt_parent NOT IN {_NOTES} THEN abs(quantity) ELSE 0 END)
           OVER (PARTITION BY item, tracking_number) END AS invoice
  FROM inv),
eff AS (
  SELECT item,
         sum(CASE WHEN quantity > 0 THEN quantity ELSE 0 END) AS in_qty,
         sum(CASE WHEN quantity < 0 THEN -quantity ELSE 0 END) AS out_qty
  FROM reco
  WHERE is_order_voucher = 0
    AND (tracking_number = ''
         OR (vt_parent NOT IN {_NOTES} AND note = invoice)
         OR (vt_parent IN {_NOTES} AND note > invoice))
  GROUP BY item)
SELECT /*+ BROADCAST(e) */ s.name, s.parent, s.uom,
       CAST(s.opening_balance AS DECIMAL(15,4)) AS op_qty,
       CAST(coalesce(e.in_qty, {_ZQ}) AS DECIMAL(15,4)) AS in_qty,
       CAST(coalesce(e.out_qty, {_ZQ}) AS DECIMAL(15,4)) AS out_qty,
       CAST(s.opening_balance + coalesce(e.in_qty, {_ZQ})
            - coalesce(e.out_qty, {_ZQ}) AS DECIMAL(15,4)) AS clo_bal
FROM {{si}} s LEFT JOIN eff e ON s.name = e.item""",
                iv=inv_voucher(cat), vt=_dim(cat, "mst_vouchertype"),
                si=cat["mst_stock_item"])


def account_ledger(cat: Catalog, ledger: str, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/account-ledger.sql:6-26 — statement of one ledger with
    co-ledger string aggregation (sorted for determinism).

    One window pass over ``acct_voucher``: each line carries the list of
    its voucher's co-ledger lines (the other ledgers' accounting
    effects), and the ledger's own lines are kept where that list is not
    empty — the reference's join of the statement with its co-ledger
    aggregate. ``acct_voucher`` is an inner join on guid, so a line with
    a NULL guid never reaches the window. The window shuffles every line
    by guid once; a statement of a few vouchers in a very large book
    would read less through a semi-join on the ledger's guids, at the
    cost of a second scan, a distinct, a group and a join."""
    return _sql(cat, f"""
SELECT date, voucher_number, voucher_type,
       array_join(sort_array(co), ',') AS ledgers, debit, credit, narration
FROM (SELECT date, voucher_number, voucher_type, narration, ledger,
             is_accounting_voucher,
             CAST(CASE WHEN amount < 0 THEN -amount ELSE {_Z} END
                  AS DECIMAL(17,2)) AS debit,
             CAST(CASE WHEN amount > 0 THEN amount ELSE {_Z} END
                  AS DECIMAL(17,2)) AS credit,
             collect_list(CASE WHEN ledger != {{ledger}} AND {_ACCOUNTING}
                               THEN ledger END)
               OVER (PARTITION BY guid) AS co
      FROM {{av}})
WHERE ledger = {{ledger}} AND is_accounting_voucher = 1
  AND date BETWEEN {{from_date}} AND {{to_date}} AND size(co) > 0
ORDER BY date""", av=acct_voucher(cat), ledger=ledger,
                from_date=from_date, to_date=to_date)


def accounting_voucher_view(cat: Catalog) -> DataFrame:
    """reports/mssql/accounting-voucher-view.sql — opening-balance synthetic
    vouchers (dated 2000-01-01) ∪ accounting effects, annotated with
    primary group and voucher category."""
    return _sql(cat, f"""
SELECT DATE'2000-01-01' AS date, 'Opening Balance' AS voucher_type,
       '' AS voucher_number, name AS ledger,
       CAST(opening_balance AS DECIMAL(17,2)) AS amount, '' AS party_name,
       primary_group, 'Opening Balance' AS voucher_category
FROM {{lg}} WHERE opening_balance != 0
UNION ALL
SELECT /*+ BROADCAST(t) */ f.date, f.voucher_type, f.voucher_number, f.ledger,
       CAST(f.amount AS DECIMAL(17,2)), f.party_name, f.primary_group,
       t.parent
FROM {{fact}} f JOIN {{vt}} t ON f.voucher_type = t.name
WHERE {_ACCOUNTING}""",
                lg=_lg(cat), fact=_ledger_fact(cat),
                vt=_dim(cat, "mst_vouchertype"))


def stock_voucher_view(cat: Catalog) -> DataFrame:
    """reports/mssql/stock-voucher-view.sql — opening batch allocations ∪
    inventory movements deduped to workflow repetition 1.

    Tie-break beyond the reference's ORDER BY date: rows tied on date
    inside a (tracking, item) partition would otherwise be elected
    nondeterministically (across retries AND engines), so the full order
    is pinned and the kept repetition-1 row is stable (SURVEY §4's
    deterministic-ordering convention)."""
    return _sql(cat, """
SELECT DATE'2000-01-01' AS date, '' AS voucher_number,
       'Opening Balance' AS voucher_type, item,
       CAST(opening_balance AS DECIMAL(15,4)) AS quantity,
       CAST(opening_value AS DECIMAL(17,2)) AS amount, godown
FROM {oba}
UNION ALL
SELECT date, voucher_number, voucher_type, item,
       CAST(quantity AS DECIMAL(15,4)), CAST(amount AS DECIMAL(17,2)), godown
FROM (SELECT date, voucher_number, voucher_type, item, quantity, amount,
             godown,
             CASE WHEN tracking_number = '' THEN 1
                  ELSE row_number() OVER (
                    PARTITION BY tracking_number, item
                    ORDER BY date, quantity, amount, godown) END AS repetition
      FROM {iv} WHERE is_order_voucher = 0)
WHERE repetition = 1""", oba=cat["mst_opening_batch_allocation"],
                iv=inv_voucher(cat))


def _register(cat: Catalog, voucher_parent: str, negate: bool) -> DataFrame:
    """reports/mssql/sales-register.sql / purchase-register.sql — long-format
    register (pivot input): ledger lines of Sales/Purchase vouchers with the
    party's GSTN via a second (self-)join of mst_ledger."""
    return _sql(cat, f"""
SELECT /*+ BROADCAST(t), BROADCAST(l), BROADCAST(z) */
       a.date, a.voucher_number, a.voucher_type, a.party_name, z.gstn, a.ledger,
       CAST({"-" if negate else ""}a.amount AS DECIMAL(17,2)) AS amount
FROM {{av}} a
JOIN {{vt}} t ON a.voucher_type = t.name
JOIN {{led}} l ON a.ledger = l.name
JOIN {{led}} z ON a.party_name = z.name
WHERE t.parent = {{parent}} AND a.ledger != a.party_name
ORDER BY date, a.guid, amount DESC""", av=acct_voucher(cat),
                vt=_dim(cat, "mst_vouchertype"), led=_dim(cat, "mst_ledger"),
                parent=voucher_parent)


def sales_register(cat: Catalog) -> DataFrame:
    return _register(cat, "Sales", negate=False)


def purchase_register(cat: Catalog) -> DataFrame:
    return _register(cat, "Purchase", negate=True)


def _daily_series(cat: Catalog, primary_group: str, from_date: str, to_date: str,
                  negate: bool, accounting_only: bool) -> DataFrame:
    return _sql(cat, f"""
WITH daily AS (
  SELECT date, sum(amount) AS amount FROM {{fact}}
  WHERE primary_group = {{group}} AND date BETWEEN {{from_date}} AND {{to_date}}
    {"AND " + _ACCOUNTING if accounting_only else ""}
  GROUP BY date)
SELECT /*+ BROADCAST(d) */ s.date,
       CAST(coalesce({"-" if negate else ""}d.amount, {_Z}) AS DECIMAL(17,2))
         AS amount
FROM ({_DAYS}) s LEFT JOIN daily d ON s.date = d.date""",
                fact=_ledger_fact(cat), group=primary_group,
                from_date=from_date, to_date=to_date)


def sales_daily(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/sales-daily.sql — closed-form spine ⟕ daily sums."""
    return _daily_series(cat, "Sales Accounts", from_date, to_date,
                         negate=False, accounting_only=False)


def purchase_daily(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/purchase-daily.sql (negated amounts, accounting only)."""
    return _daily_series(cat, "Purchase Accounts", from_date, to_date,
                         negate=True, accounting_only=True)


def _monthly_series(cat: Catalog, primary_group: str, from_date: str,
                    to_date: str, negate: bool,
                    accounting_only: bool = False) -> DataFrame:
    """purchase-monthly.sql:24 excludes order/inventory vouchers, exactly
    like the daily variant; sales-monthly.sql has no such filter (the
    same asymmetry as daily). One row per month of the range, sorted in
    one partition like the trial balance."""
    return _sql(cat, f"""
WITH monthly AS (
  SELECT year(date) AS year, month(date) AS month, sum(amount) AS amount
  FROM {{fact}}
  WHERE primary_group = {{group}} AND date BETWEEN {{from_date}} AND {{to_date}}
    {"AND " + _ACCOUNTING if accounting_only else ""}
  GROUP BY year(date), month(date))
SELECT /*+ BROADCAST(m), COALESCE(1) */ s.year, s.month,
       CAST(coalesce({"-" if negate else ""}m.amount, {_Z}) AS DECIMAL(17,2))
         AS amount
FROM ({_MONTHS}) s LEFT JOIN monthly m ON s.year = m.year AND s.month = m.month
ORDER BY year, month""", fact=_ledger_fact(cat), group=primary_group,
                from_date=from_date, to_date=to_date)


def sales_monthly(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/sales-monthly.sql."""
    return _monthly_series(cat, "Sales Accounts", from_date, to_date, negate=False)


def purchase_monthly(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/purchase-monthly.sql (negated)."""
    return _monthly_series(cat, "Purchase Accounts", from_date, to_date,
                           negate=True, accounting_only=True)


def daily_cash_movement(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/daily-cash-movement.sql — receipts/payments of
    cash-in-hand ledgers over receipt/payment/contra vouchers (lower()
    comparisons per the BigQuery variant)."""
    return _sql(cat, f"""
WITH mov AS (
  SELECT /*+ BROADCAST(t) */ f.date,
         sum(CASE WHEN f.amount < 0 THEN -f.amount ELSE {_Z} END) AS receipt,
         sum(CASE WHEN f.amount > 0 THEN f.amount ELSE {_Z} END) AS payment
  FROM {{fact}} f JOIN {{vt}} t ON f.voucher_type = t.name
  WHERE lower(f.primary_group) = 'cash-in-hand'
    AND lower(t.parent) IN ('receipt', 'payment', 'contra')
  GROUP BY f.date)
SELECT /*+ BROADCAST(m) */ s.date,
       CAST(coalesce(m.receipt, {_Z}) AS DECIMAL(17,2)) AS receipt,
       CAST(coalesce(m.payment, {_Z}) AS DECIMAL(17,2)) AS payment
FROM ({_DAYS}) s LEFT JOIN mov m ON s.date = m.date""",
                fact=_ledger_fact(cat), vt=_dim(cat, "mst_vouchertype"),
                from_date=from_date, to_date=to_date)


def _walk_groups(cat: Catalog, group: str, max_depth: int,
                 down: bool) -> DataFrame:
    """Rows of ``mst_group(name, parent)`` reachable from ``group``: down
    to its descendants (a row's parent equals a reached name) or up its
    ancestor chain (a row's name equals a reached parent). The staged
    dimension's rows are walked on the driver, level by level exactly as
    the recursive CTE joins: NULL matches nothing, every matching row is
    emitted (duplicate names keep the join's multiplicity) and a cycle
    stops after ``max_depth`` levels. The reached rows go back as an
    Arrow table, which Spark keeps as a local relation: building and
    collecting the report run no job and start no Python worker."""
    tbl, g = _dim_rows(cat, "mst_group")
    rows = list(zip(tbl.column("name").to_pylist(),
                    tbl.column("parent").to_pylist()))
    match, link = (1, 0) if down else (0, 1)
    edges = defaultdict(list)
    for i, r in enumerate(rows):
        if r[match] is not None:  # NULL matches nothing, so never index it
            edges[r[match]].append(i)
    level = [i for i, r in enumerate(rows) if r[0] == group]
    out = list(level)
    for _ in range(max_depth - 1):
        level = [e for i in level for e in edges.get(rows[i][link], ())]
        if not level:
            break
        out += level
    return g.sparkSession.createDataFrame(
        tbl.select(["name", "parent"]).take(pa.array(out, pa.int64())),
        T.StructType([g.schema["name"], g.schema["parent"]]))


def group_tree_parent_child(cat: Catalog, group: str, max_depth: int = 32) -> DataFrame:
    """reports/mssql/group-tree-parent-child.sql — all descendants of a
    group (the group itself included)."""
    return _walk_groups(cat, group, max_depth, down=True)


def group_tree_children_parent(cat: Catalog, group: str, max_depth: int = 32) -> DataFrame:
    """reports/mssql/group-tree-children-parent.sql — ancestor chain."""
    return _walk_groups(cat, group, max_depth, down=False)


ALL_REPORTS = {
    "trial_balance": trial_balance,
    "profit_loss": profit_loss,
    "stock_summary": stock_summary,
    "account_ledger": account_ledger,
    "accounting_voucher_view": accounting_voucher_view,
    "stock_voucher_view": stock_voucher_view,
    "sales_register": sales_register,
    "purchase_register": purchase_register,
    "sales_daily": sales_daily,
    "purchase_daily": purchase_daily,
    "sales_monthly": sales_monthly,
    "purchase_monthly": purchase_monthly,
    "daily_cash_movement": daily_cash_movement,
    "group_tree_parent_child": group_tree_parent_child,
    "group_tree_children_parent": group_tree_children_parent,
}
