"""The Tally report library (SURVEY §2.F): all 15 reference reports as
parameterized DataFrame programs over the 22-table model.

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

Scale notes: masters broadcast onto transaction facts; the date and month
spines are tiny exploded sequences broadcast onto the aggregates;
aggregations are single groupBys with map-side partials. The header ⋈
detail joins are staged once per catalog snapshot (``acct_voucher``), and
the group trees read ``mst_group`` once and walk it on the driver
(``_walk_groups``): each report costs a handful of Spark jobs, and at the
library's table sizes a job's fixed cost is what a report pays for.
"""

from __future__ import annotations

import datetime as _dt
import threading
import weakref
from collections import defaultdict

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

Catalog = dict[str, DataFrame]

_D17 = T.DecimalType(17, 2)


def _dzero():
    return F.lit("0").cast(_D17)


# (detail, header) → their join on guid, staged; keyed on the catalog's
# own DataFrame objects, so a catalog's reports share one staged join,
# a catalog re-read from the store (new objects) gets a fresh one, and
# an entry — with its checkpoint blocks — goes when its catalog does
_STAGED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STAGED_LOCK = threading.Lock()


def _staged_join(detail: DataFrame, header: DataFrame) -> DataFrame:
    """``detail ⋈ header`` on guid, lazily ``localCheckpoint``-ed once per
    pair of DataFrame objects: the first report to run it materializes
    the join, every later report reads the checkpoint blocks."""
    with _STAGED_LOCK:
        by_header = _STAGED.setdefault(detail, weakref.WeakKeyDictionary())
        staged = by_header.get(header)
        if staged is None:
            staged = detail.join(header, "guid").localCheckpoint(eager=False)
            by_header[header] = staged
        return staged


def acct_voucher(cat: Catalog) -> DataFrame:
    """trn_accounting ⋈ trn_voucher on guid (all voucher columns) — the
    report library's hottest join: nearly every report starts from it.
    Staged once per catalog snapshot (``_staged_join``), so the whole
    library pays the header/detail join once instead of once per report."""
    return _staged_join(cat["trn_accounting"], cat["trn_voucher"])


def inv_voucher(cat: Catalog) -> DataFrame:
    """trn_inventory ⋈ trn_voucher on guid — the inventory-side analogue
    of ``acct_voucher``, staged the same way."""
    return _staged_join(cat["trn_inventory"], cat["trn_voucher"])


def _accounting_effects(cat: Catalog) -> DataFrame:
    """trn_accounting ⋈ trn_voucher filtered to pure accounting effects
    (reference docs/data-structure.md:203-213)."""
    return acct_voucher(cat).filter((F.col("is_order_voucher") == 0)
                                    & (F.col("is_inventory_voucher") == 0))


def _range_bounds(from_date: str, to_date: str):
    """(start, stop) date columns; stop is NULL when the range is
    inverted, which makes ``sequence`` NULL and its explode empty
    (Spark's ``sequence`` would otherwise count down, or raise with a
    positive step)."""
    start, stop = F.lit(from_date).cast("date"), F.lit(to_date).cast("date")
    return start, F.when(start <= stop, stop)


def _date_spine(spark, from_date: str, to_date: str) -> DataFrame:
    """Closed-form calendar spine — replaces the reference's recursive CTE
    capped at maxrecursion 500 (reports/mssql/sales-daily.sql:4-9);
    formulation follows reports/bigquery/sales-daily.sql:13. An inverted
    range (``from_date > to_date``) is empty, as ``generate_series`` is."""
    start, stop = _range_bounds(from_date, to_date)
    return spark.range(1).select(F.explode(F.sequence(start, stop)).alias("date"))


def _month_spine(spark, from_date: str, to_date: str) -> DataFrame:
    """(year, month) of every month the range touches, one row each —
    the months of ``_date_spine`` without exploding and deduplicating
    its days; empty for an inverted range."""
    start, stop = _range_bounds(from_date, to_date)
    month = F.explode(F.sequence(F.trunc(start, "month"), stop,
                                 F.expr("INTERVAL 1 MONTH")))
    return (spark.range(1).select(month.alias("m"))
                 .select(F.year("m").alias("year"), F.month("m").alias("month")))


# ---------------------------------------------------------------------------

def trial_balance(cat: Catalog, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/trial-balance.sql:4-31 — per-ledger opening/debit/
    credit/closing; revenue ledgers report period movement only."""
    eff = _accounting_effects(cat)
    led = cat["mst_ledger"]
    # opening movement, debit and credit in one aggregate: each sum only
    # sees its own date window (rows outside it are NULL to the sum)
    before = F.col("date") < F.lit(from_date).cast("date")
    within = F.col("date").between(from_date, to_date)
    amt = F.col("amount")
    mov = (eff.filter(before | within)
              .groupBy(F.col("ledger").alias("mv_ledger"))
              .agg(F.sum(F.when(before, amt)).alias("op_amount"),
                   F.sum(F.when(within, F.when(amt < 0, F.abs(amt))
                                        .otherwise(_dzero()))).alias("cu_debit"),
                   F.sum(F.when(within, F.when(amt > 0, amt)
                                        .otherwise(_dzero()))).alias("cu_credit")))
    opening_all = F.col("opening_balance") + F.coalesce(F.col("op_amount"), _dzero())
    opening = F.when(F.col("is_revenue") == 0, opening_all).otherwise(_dzero())
    debit = F.coalesce(F.col("cu_debit"), _dzero())
    credit = F.coalesce(F.col("cu_credit"), _dzero())
    closing = F.when(F.col("is_revenue") == 0, opening_all + credit - debit) \
               .otherwise(credit - debit)
    return (led.join(F.broadcast(mov), led.name == F.col("mv_ledger"), "left")
               .select(F.col("name"),
                       opening.cast(_D17).alias("opening"),
                       debit.cast(_D17).alias("debit"),
                       credit.cast(_D17).alias("credit"),
                       closing.cast(_D17).alias("closing"))
               .orderBy("name"))


def profit_loss(cat: Catalog) -> DataFrame:
    """reports/mssql/profit-loss.sql — revenue-group balances ∪ opening
    stock ∪ closing stock (latest trn_closingstock_ledger row per ledger
    via ranking window, :32-35)."""
    led, grp = cat["mst_ledger"], cat["mst_group"]
    vt = cat["mst_vouchertype"]
    eff = (_accounting_effects(cat)
           .join(F.broadcast(vt.select(F.col("name").alias("voucher_type"),
                                       "affects_stock")), "voucher_type")
           .filter(F.col("affects_stock") == 0))
    gb = (eff.join(F.broadcast(led.select(F.col("name").alias("ledger"),
                                          F.col("parent").alias("l_parent"))), "ledger")
             .join(F.broadcast(grp.select(F.col("name").alias("l_parent"),
                                          "primary_group", "is_revenue",
                                          "is_deemedpositive", "affects_gross_profit")),
                   "l_parent")
             .filter(F.col("is_revenue") == 1)
             .groupBy("primary_group", "ledger")
             .agg(F.max("is_deemedpositive").alias("mdp"),
                  F.max("affects_gross_profit").alias("magp"),
                  F.sum("amount").alias("balance"))
             .select(F.col("primary_group").alias("group"),
                     F.col("ledger"),
                     F.when(F.col("mdp") == 1, "expense").otherwise("income").alias("nature"),
                     F.when(F.col("magp") == 1, "Y").otherwise("N").alias("affects_gross_profit"),
                     F.col("balance").cast(_D17).alias("balance")))
    op_stock = (led.join(F.broadcast(grp.select(F.col("name").alias("parent"),
                                                "primary_group")), "parent")
                   .filter(F.col("primary_group") == "Stock-in-hand")
                   .agg(F.sum("opening_balance").alias("balance"))
                   .select(F.lit("Opening Stock").alias("group"),
                           F.lit("Opening Stock").alias("ledger"),
                           F.lit("expense").alias("nature"),
                           F.lit("Y").alias("affects_gross_profit"),
                           F.col("balance").cast(_D17).alias("balance")))
    w = W.partitionBy("ledger").orderBy(F.col("stock_date").desc())
    cl_stock = (cat["trn_closingstock_ledger"]
                .withColumn("ctr", F.row_number().over(w))
                .filter(F.col("ctr") == 1)
                .agg((-F.sum("stock_value")).alias("balance"))
                .select(F.lit("Closing Stock").alias("group"),
                        F.lit("Closing Stock").alias("ledger"),
                        F.lit("income").alias("nature"),
                        F.lit("Y").alias("affects_gross_profit"),
                        F.col("balance").cast(_D17).alias("balance")))
    return gb.unionByName(op_stock).unionByName(cl_stock)


def stock_summary(cat: Catalog) -> DataFrame:
    """reports/mssql/stock-summary.sql — per-item opening/in/out/closing
    with the 3-regime tracking reconciliation (docs/data-structure.md:242-258)."""
    inv = (inv_voucher(cat)
           .join(F.broadcast(cat["mst_vouchertype"]
                             .select(F.col("name").alias("voucher_type"),
                                     F.col("parent").alias("vt_parent"))), "voucher_type"))
    # blank tracking = no workflow: the text encoding stores '' (the T-SQL
    # original checks NULL; the relational model stores '' — same regime)
    is_note = F.col("vt_parent").isin("Receipt Note", "Delivery Note")
    # Tracking reconciliation as a WINDOW over (item, tracking_number)
    # instead of the former groupBy + left-join-back (round 11): the
    # join's two sides each re-derived the full inv subtree (two
    # broadcast joins over the staging tables, twice), and the SMJ
    # shuffled/sorted inv by the same key the window needs anyway — one
    # exchange now carries the whole reconciliation (guide §2.4).
    # Blank-tracking rows (no workflow) masked to NULL note/invoice,
    # exactly the old left join's miss (reco excluded them); their
    # filter branch never reads the values. Sums are over the identical
    # row groups, so the decimals are bit-identical.
    wrk = W.partitionBy("item", "tracking_number")
    has_trk = F.col("tracking_number") != ""
    note_w = F.when(has_trk, F.sum(
        F.when(is_note, F.abs(F.col("quantity")))
         .otherwise(F.lit(0))).over(wrk))
    invoice_w = F.when(has_trk, F.sum(
        F.when(~is_note, F.abs(F.col("quantity")))
         .otherwise(F.lit(0))).over(wrk))
    eff = (inv.select("item", "tracking_number", "quantity", "vt_parent",
                      "is_order_voucher",
                      note_w.alias("note"), invoice_w.alias("invoice"))
              .filter((F.col("is_order_voucher") == 0)
                      & ((F.col("tracking_number") == "")
                         | (~is_note & (F.col("note") == F.col("invoice")))
                         | (is_note & (F.col("note") > F.col("invoice")))))
              .groupBy("item")
              .agg(F.sum(F.when(F.col("quantity") > 0, F.col("quantity"))
                          .otherwise(F.lit(0))).alias("in_qty"),
                   F.sum(F.when(F.col("quantity") < 0, -F.col("quantity"))
                          .otherwise(F.lit(0))).alias("out_qty")))
    s = cat["mst_stock_item"]
    q = T.DecimalType(15, 4)
    zq = F.lit("0").cast(q)
    return (s.join(F.broadcast(eff), s.name == eff.item, "left")
             .select("name", "parent", "uom",
                     F.col("opening_balance").cast(q).alias("op_qty"),
                     F.coalesce(F.col("in_qty"), zq).cast(q).alias("in_qty"),
                     F.coalesce(F.col("out_qty"), zq).cast(q).alias("out_qty"),
                     (F.col("opening_balance") + F.coalesce(F.col("in_qty"), zq)
                      - F.coalesce(F.col("out_qty"), zq)).cast(q).alias("clo_bal")))


def account_ledger(cat: Catalog, ledger: str, from_date: str, to_date: str) -> DataFrame:
    """reports/mssql/account-ledger.sql:6-26 — statement of one ledger with
    co-ledger string aggregation (sorted for determinism)."""
    av = acct_voucher(cat)
    led = (av.filter(F.col("ledger") == ledger)
             .filter((F.col("is_accounting_voucher") == 1)
                     & F.col("date").between(from_date, to_date))
            .select("guid", "date", "voucher_number", "voucher_type", "narration",
                    F.when(F.col("amount") < 0, -F.col("amount")).otherwise(_dzero())
                     .cast(_D17).alias("debit"),
                    F.when(F.col("amount") > 0, F.col("amount")).otherwise(_dzero())
                     .cast(_D17).alias("credit")))
    entry = (av.filter(F.col("ledger") != ledger)
               .filter((F.col("is_order_voucher") == 0)
                       & (F.col("is_inventory_voucher") == 0))
               .join(led.select("guid").distinct(), "guid", "left_semi")
              .groupBy("guid")
              .agg(F.array_join(F.sort_array(F.collect_list("ledger")), ",").alias("ledgers")))
    return (led.join(entry, "guid")
               .select("date", "voucher_number", "voucher_type", "ledgers",
                       "debit", "credit", "narration")
               .orderBy("date"))


def accounting_voucher_view(cat: Catalog) -> DataFrame:
    """reports/mssql/accounting-voucher-view.sql — opening-balance synthetic
    vouchers (dated 2000-01-01) ∪ accounting effects, annotated with
    primary group and voucher category."""
    led, grp = cat["mst_ledger"], cat["mst_group"]
    vt = cat["mst_vouchertype"]
    lg = led.join(F.broadcast(grp.select(F.col("name").alias("parent"),
                                         "primary_group")), "parent")
    opening = (lg.filter(F.col("opening_balance") != 0)
                 .select(F.lit(_dt.date(2000, 1, 1)).alias("date"),
                         F.lit("Opening Balance").alias("voucher_type"),
                         F.lit("").alias("voucher_number"),
                         F.col("name").alias("ledger"),
                         F.col("opening_balance").cast(_D17).alias("amount"),
                         F.lit("").alias("party_name"),
                         F.col("primary_group"),
                         F.lit("Opening Balance").alias("voucher_category")))
    eff = (_accounting_effects(cat)
           .join(F.broadcast(lg.select(F.col("name").alias("ledger"),
                                       "primary_group")), "ledger")
           .join(F.broadcast(vt.select(F.col("name").alias("voucher_type"),
                                       F.col("parent").alias("voucher_category"))),
                 "voucher_type")
           .select("date", "voucher_type", "voucher_number", "ledger",
                   F.col("amount").cast(_D17).alias("amount"),
                   "party_name", "primary_group", "voucher_category"))
    return opening.unionByName(eff)


def stock_voucher_view(cat: Catalog) -> DataFrame:
    """reports/mssql/stock-voucher-view.sql — opening batch allocations ∪
    inventory movements deduped to workflow repetition 1."""
    opening = cat["mst_opening_batch_allocation"].select(
        F.lit(_dt.date(2000, 1, 1)).alias("date"),
        F.lit("").alias("voucher_number"),
        F.lit("Opening Balance").alias("voucher_type"),
        F.col("item"),
        F.col("opening_balance").cast(T.DecimalType(15, 4)).alias("quantity"),
        F.col("opening_value").cast(_D17).alias("amount"),
        F.col("godown"))
    # tie-break beyond the reference's ORDER BY date: rows tied on date
    # inside a (tracking, item) partition would otherwise be elected
    # nondeterministically (across retries AND engines) — pin the full
    # order so the kept repetition-1 row is stable (SURVEY §4's
    # deterministic-ordering convention)
    w = W.partitionBy("tracking_number", "item") \
         .orderBy("date", "quantity", "amount", "godown")
    moves = (inv_voucher(cat)
             .filter(F.col("is_order_voucher") == 0)
             .withColumn("repetition",
                         F.when(F.col("tracking_number") == "", F.lit(1))
                          .otherwise(F.row_number().over(w)))
             .filter(F.col("repetition") == 1)
             .select("date", "voucher_number", "voucher_type", "item",
                     F.col("quantity").cast(T.DecimalType(15, 4)).alias("quantity"),
                     F.col("amount").cast(_D17).alias("amount"), "godown"))
    return opening.unionByName(moves)


def _register(cat: Catalog, voucher_parent: str, negate: bool) -> DataFrame:
    """reports/mssql/sales-register.sql / purchase-register.sql — long-format
    register (pivot input): ledger lines of Sales/Purchase vouchers with the
    party's GSTN via a second (self-)join of mst_ledger."""
    vt, led = cat["mst_vouchertype"], cat["mst_ledger"]
    amount = (-F.col("amount")) if negate else F.col("amount")
    return (acct_voucher(cat)
             .join(F.broadcast(vt.select(F.col("name").alias("voucher_type"),
                                         F.col("parent").alias("vt_parent"))),
                   "voucher_type")
             .join(F.broadcast(led.select(F.col("name").alias("ledger"))), "ledger")
             .join(F.broadcast(led.select(F.col("name").alias("party_name"),
                                          "gstn")), "party_name")
             .filter((F.col("vt_parent") == voucher_parent)
                     & (F.col("ledger") != F.col("party_name")))
             .select("date", "voucher_number", "voucher_type", "party_name",
                     "gstn", "ledger", amount.cast(_D17).alias("amount"))
             .orderBy("date", "guid", F.col("amount").desc()))


def sales_register(cat: Catalog) -> DataFrame:
    return _register(cat, "Sales", negate=False)


def purchase_register(cat: Catalog) -> DataFrame:
    return _register(cat, "Purchase", negate=True)


def _daily_series(cat: Catalog, primary_group: str, from_date: str, to_date: str,
                  negate: bool, accounting_only: bool) -> DataFrame:
    spark = cat["trn_voucher"].sparkSession
    eff = (acct_voucher(cat)
           .join(F.broadcast(cat["mst_ledger"].select(F.col("name").alias("ledger"),
                                                      F.col("parent").alias("l_parent"))),
                 "ledger")
           .join(F.broadcast(cat["mst_group"].select(F.col("name").alias("l_parent"),
                                                     "primary_group")), "l_parent")
           .filter((F.col("primary_group") == primary_group)
                   & F.col("date").between(from_date, to_date)))
    if accounting_only:
        eff = eff.filter((F.col("is_order_voucher") == 0)
                         & (F.col("is_inventory_voucher") == 0))
    daily = eff.groupBy("date").agg(F.sum("amount").alias("amount"))
    spine = _date_spine(spark, from_date, to_date)
    amt = F.coalesce((-F.col("amount")) if negate else F.col("amount"), _dzero())
    return (spine.join(F.broadcast(daily), "date", "left")
                 .select("date", amt.cast(_D17).alias("amount")))


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
    spark = cat["trn_voucher"].sparkSession
    months = _month_spine(spark, from_date, to_date)
    eff = (acct_voucher(cat)
           .join(F.broadcast(cat["mst_ledger"].select(F.col("name").alias("ledger"),
                                                      F.col("parent").alias("l_parent"))),
                 "ledger")
           .join(F.broadcast(cat["mst_group"].select(F.col("name").alias("l_parent"),
                                                     "primary_group")), "l_parent")
           .filter((F.col("primary_group") == primary_group)
                   & F.col("date").between(from_date, to_date)))
    if accounting_only:
        # purchase-monthly.sql:24 — order/inventory vouchers excluded,
        # exactly like the daily variant; sales-monthly.sql has no such
        # filter (same asymmetry as daily)
        eff = eff.filter((F.col("is_order_voucher") == 0)
                         & (F.col("is_inventory_voucher") == 0))
    eff = (eff.groupBy(F.year("date").alias("year"),
                       F.month("date").alias("month"))
              .agg(F.sum("amount").alias("amount")))
    amt = F.coalesce((-F.col("amount")) if negate else F.col("amount"), _dzero())
    return (months.join(F.broadcast(eff), ["year", "month"], "left")
                  .select("year", "month", amt.cast(_D17).alias("amount"))
                  .orderBy("year", "month"))


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
    spark = cat["trn_voucher"].sparkSession
    mov = (acct_voucher(cat)
           .join(F.broadcast(cat["mst_ledger"].select(F.col("name").alias("ledger"),
                                                      F.col("parent").alias("l_parent"))),
                 "ledger")
           .join(F.broadcast(cat["mst_group"].select(F.col("name").alias("l_parent"),
                                                     "primary_group")), "l_parent")
           .join(F.broadcast(cat["mst_vouchertype"]
                             .select(F.col("name").alias("voucher_type"),
                                     F.col("parent").alias("vt_parent"))), "voucher_type")
           .filter((F.lower(F.col("primary_group")) == "cash-in-hand")
                   & F.lower(F.col("vt_parent")).isin("receipt", "payment", "contra"))
           .groupBy("date")
           .agg(F.sum(F.when(F.col("amount") < 0, -F.col("amount"))
                       .otherwise(_dzero())).alias("receipt"),
                F.sum(F.when(F.col("amount") > 0, F.col("amount"))
                       .otherwise(_dzero())).alias("payment")))
    spine = _date_spine(spark, from_date, to_date)
    return (spine.join(F.broadcast(mov), "date", "left")
                 .select("date",
                         F.coalesce("receipt", _dzero()).cast(_D17).alias("receipt"),
                         F.coalesce("payment", _dzero()).cast(_D17).alias("payment")))


def _walk_groups(cat: Catalog, group: str, max_depth: int,
                 down: bool) -> DataFrame:
    """Rows of ``mst_group(name, parent)`` reachable from ``group``: down
    to its descendants (a row's parent equals a reached name) or up its
    ancestor chain (a row's name equals a reached parent). One read of
    the dimension, walked on the driver, level by level exactly as the
    recursive CTE joins: NULL matches nothing, every matching row is
    emitted (duplicate names keep the join's multiplicity) and a cycle
    stops after ``max_depth`` levels."""
    g = cat["mst_group"].select("name", "parent")
    rows = g.collect()
    match, link = (1, 0) if down else (0, 1)
    edges = defaultdict(list)
    for r in rows:
        if r[match] is not None:  # NULL matches nothing, so never index it
            edges[r[match]].append(r)
    level = [r for r in rows if r[0] == group]
    out = list(level)
    for _ in range(max_depth - 1):
        level = [e for r in level for e in edges.get(r[link], ())]
        if not level:
            break
        out += level
    return g.sparkSession.createDataFrame(out, g.schema)


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
