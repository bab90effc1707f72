"""Driver-gate analytics queries over the bench tables.

Every reference report operator (SURVEY §2.F: reference ``reports/mssql/*.sql``)
and incremental-sync operator (§2.E: reference ``src/tally.mts:88-307``) is
re-expressed here against the TPC-H-ish bench schema (region nation customer
supplier part orders lineitem events documents embeddings) so the driver can
hash-match each Spark plan against a DuckDB oracle.

Mapping convention: ``mst_ledger`` ≈ ``customer`` (opening_balance ≈
c_acctbal), ``trn_voucher``/``trn_accounting`` ≈ ``orders`` (signed amount ≈
o_totalprice signed by o_orderstatus), ``mst_group`` tree ≈ the
region→nation→customer hierarchy, ``AlterId`` ≈ the monotonic ``event_id``.

Scale notes (these run on 100 TB, not just sf0.1):
- dimension joins (region/nation/supplier/part/customer) are explicitly
  ``F.broadcast`` — no shuffle on the fact side for star joins;
- aggregations are single groupBy so Catalyst plans partial (map-side)
  aggregation before the shuffle;
- every date/window filter is a plain column predicate → parquet pushdown;
- window functions partition on the natural key so the shuffle feeding them
  is reusable by later operators.

Float discipline for oracle hash-matching: the bench money columns are
exact 2-decimal values stored as doubles, so every money aggregate is
computed in ``DecimalType`` (exact, order-insensitive) and the final
aggregate cast to double — bit-identical in Spark and DuckDB, with no
round-half boundary hazards. Raw per-row doubles pass through untouched.
BIGINT aggregates are cast in DuckDB (whose SUM(BIGINT) is HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.hierarchy import transitive_closure, tree_paths
from ..sources.catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def gate_query(name: str, oracle: str | None = None):
    """Register a driver-gate query and (optionally) its DuckDB oracle."""
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# Exact-decimal casts for the 2-dp money domain (values < 1e10).
_DEC = T.DecimalType(12, 2)


def money(c) -> F.Column:
    return c.cast(_DEC)


def dzero():
    return F.lit("0").cast(_DEC)


def _signed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as a signed 'accounting' stream: finished (F) orders are
    debits (negative), open/pending are credits (positive) — mirrors the
    reference amount convention Credit=+/Debit=- (docs/data-structure.md:68-72)."""
    o = load_table(spark, sf_dir, "orders")
    tp = money(F.col("o_totalprice"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.when(F.col("o_orderstatus") == "F", -tp).otherwise(tp).alias("amount"),
        "o_orderstatus",
    )


_SIGNED_ORDERS_SQL = """
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         CASE WHEN o_orderstatus = 'F' THEN -CAST(o_totalprice AS DECIMAL(12,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS amount,
         o_orderstatus
  FROM orders
"""


# ---------------------------------------------------------------------------
# F6/F7/F8/F17 + F2: trial balance (reference reports/mssql/trial-balance.sql)
# ---------------------------------------------------------------------------

@gate_query("trial_balance", oracle=f"""
WITH amt AS ({_SIGNED_ORDERS_SQL}),
op AS (
  SELECT o_custkey, SUM(amount) AS amount FROM amt
  WHERE d < DATE '1997-01-01' GROUP BY o_custkey
),
curr AS (
  SELECT o_custkey,
         SUM(CASE WHEN amount < 0 THEN -amount ELSE CAST(0 AS DECIMAL(12,2)) END) AS debit,
         SUM(CASE WHEN amount > 0 THEN amount ELSE CAST(0 AS DECIMAL(12,2)) END) AS credit
  FROM amt
  WHERE d BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY o_custkey
)
SELECT c.c_name AS ledger,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) + COALESCE(op.amount, 0) AS DOUBLE) AS opening,
       CAST(COALESCE(curr.debit, 0) AS DOUBLE) AS debit,
       CAST(COALESCE(curr.credit, 0) AS DOUBLE) AS credit,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) + COALESCE(op.amount, 0)
            + COALESCE(curr.credit, 0) - COALESCE(curr.debit, 0) AS DOUBLE) AS closing
FROM customer c
LEFT JOIN op ON op.o_custkey = c.c_custkey
LEFT JOIN curr ON curr.o_custkey = c.c_custkey
""")
def trial_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening/debit/credit/closing per ledger(customer).

    Mirrors reference reports/mssql/trial-balance.sql:4-31 (two CTE aggs +
    left joins + coalesce/isnull). Both aggs scan the fact once each with
    the date filter pushed to parquet; the two small agg results are
    broadcast onto the dimension."""
    amt = _signed_orders(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    op = (amt.filter(F.col("d") < F.lit("1997-01-01").cast("date"))
             .groupBy(F.col("o_custkey").alias("op_custkey"))
             .agg(F.sum("amount").alias("op_amount")))
    curr = (amt.filter(F.col("d").between("1997-01-01", "1998-12-31"))
               .groupBy(F.col("o_custkey").alias("curr_custkey"))
               .agg(F.sum(F.when(F.col("amount") < 0, -F.col("amount")).otherwise(dzero())).alias("debit_d"),
                    F.sum(F.when(F.col("amount") > 0, F.col("amount")).otherwise(dzero())).alias("credit_d")))
    opening = money(F.col("c_acctbal")) + F.coalesce(F.col("op_amount"), dzero())
    debit = F.coalesce(F.col("debit_d"), dzero())
    credit = F.coalesce(F.col("credit_d"), dzero())
    return (cust
            .join(F.broadcast(op), cust.c_custkey == F.col("op_custkey"), "left")
            .join(F.broadcast(curr), cust.c_custkey == F.col("curr_custkey"), "left")
            .select(F.col("c_name").alias("ledger"),
                    opening.cast("double").alias("opening"),
                    debit.cast("double").alias("debit"),
                    credit.cast("double").alias("credit"),
                    (opening + credit - debit).cast("double").alias("closing")))


# ---------------------------------------------------------------------------
# F6/F8: pricing summary (TPC-H Q1 shape; the flagship full-scan agg)
# ---------------------------------------------------------------------------

@gate_query("pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan hash aggregation with computed measures (SURVEY F6/F8).

    One shuffle over 6 grouping values; partial map-side aggregation makes
    the shuffle O(groups), not O(rows) — the 100 TB-safe shape. Money math
    in exact decimals; averages as decimal-sum / count in double."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = money(F.col("l_quantity"))
    price = money(F.col("l_extendedprice"))
    disc = F.col("l_discount").cast(T.DecimalType(4, 2))
    tax = F.col("l_tax").cast(T.DecimalType(4, 2))
    one = F.lit("1").cast(T.DecimalType(4, 2))
    disc_price = price * (one - disc)
    cnt = F.count(F.lit(1))
    return (li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(qty).cast("double").alias("sum_qty"),
                   F.sum(price).cast("double").alias("sum_base_price"),
                   F.sum(disc_price).cast("double").alias("sum_disc_price"),
                   F.sum(disc_price * (one + tax)).cast("double").alias("sum_charge"),
                   (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
                   (F.sum(price).cast("double") / cnt).alias("avg_price"),
                   (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
                   cnt.alias("count_order")))


# ---------------------------------------------------------------------------
# F11 + F2: daily series with calendar spine (reference sales-daily.sql)
# ---------------------------------------------------------------------------

@gate_query("sales_daily", oracle="""
WITH spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '1998-01-01', DATE '1998-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS date
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS amount
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1998-01-01' AND DATE '1998-12-31'
  GROUP BY 1
)
SELECT s.date, CAST(COALESCE(daily.amount, 0) AS DOUBLE) AS amount
FROM spine s LEFT JOIN daily ON daily.d = s.date
""")
def sales_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine daily totals (reference reports/mssql/sales-daily.sql:4-24).

    The reference generates the spine with a recursive CTE capped at 500
    (maxrecursion); Spark uses closed-form ``sequence()`` + explode — the
    BigQuery formulation (reports/bigquery/sales-daily.sql:13) — which is
    O(days), no recursion, trivially parallel."""
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit("1998-01-01").cast("date"),
                             F.lit("1998-12-31").cast("date"))).alias("date"))
    daily = (o.select(F.col("o_orderdate").cast("date").alias("d"),
                      money(F.col("o_totalprice")).alias("tp"))
              .filter(F.col("d").between("1998-01-01", "1998-12-31"))
              .groupBy("d").agg(F.sum("tp").alias("amount")))
    return (spine.join(F.broadcast(daily), spine.date == daily.d, "left")
                 .select("date",
                         F.coalesce("amount", dzero()).cast("double").alias("amount")))


# ---------------------------------------------------------------------------
# F16 + F6: monthly series (reference sales-monthly.sql)
# ---------------------------------------------------------------------------

@gate_query("sales_monthly", oracle="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1, 2
""")
def sales_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year/month rollup (reference reports/mssql/sales-monthly.sql:12-25)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").alias("year"),
                      F.month("o_orderdate").alias("month"))
             .agg(F.sum(money(F.col("o_totalprice"))).cast("double").alias("amount"),
                  F.count(F.lit(1)).alias("n_orders")))


# ---------------------------------------------------------------------------
# F11 + F2 + F17: purchase daily/monthly (reference purchase-daily.sql,
# purchase-monthly.sql) — the purchase-side mirror: filter to the debit
# stream and negate (`isnull(-c.amount, 0)`, purchase-daily.sql:22).
# ---------------------------------------------------------------------------

@gate_query("purchase_daily", oracle=f"""
WITH amt AS ({_SIGNED_ORDERS_SQL}),
spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '1998-01-01', DATE '1998-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS date
),
daily AS (
  SELECT d, SUM(amount) AS amount FROM amt
  WHERE amount < 0 AND d BETWEEN DATE '1998-01-01' AND DATE '1998-12-31'
  GROUP BY d
)
SELECT s.date, CAST(COALESCE(-daily.amount, 0) AS DOUBLE) AS amount
FROM spine s LEFT JOIN daily ON daily.d = s.date
""")
def purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine daily purchase totals (reference
    reports/mssql/purchase-daily.sql:4-23).

    Identical shape to sales_daily but over the debit (purchase) stream with
    the sign flipped at output — the reference stores purchases as negative
    amounts and renders them positive with ``isnull(-c.amount, 0)``
    (purchase-daily.sql:22). Spine via closed-form ``sequence()`` (the
    BigQuery formulation, reports/bigquery/purchase-daily.sql) instead of a
    recursive CTE; the per-day aggregate is tiny so it broadcasts onto the
    spine — no shuffle of the spine side."""
    daily = (_signed_orders(spark, sf_dir)
             .filter((F.col("amount") < 0)
                     & F.col("d").between("1998-01-01", "1998-12-31"))
             .groupBy("d").agg(F.sum("amount").alias("amount")))
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit("1998-01-01").cast("date"),
                             F.lit("1998-12-31").cast("date"))).alias("date"))
    return (spine.join(F.broadcast(daily), spine.date == daily.d, "left")
                 .select("date",
                         F.coalesce(-F.col("amount"), dzero())
                          .cast("double").alias("amount")))


@gate_query("purchase_monthly", oracle=f"""
WITH amt AS ({_SIGNED_ORDERS_SQL}),
spine AS (
  SELECT DISTINCT CAST(EXTRACT(YEAR FROM date) AS INT) AS year,
                  CAST(EXTRACT(MONTH FROM date) AS INT) AS month
  FROM (SELECT CAST(UNNEST(generate_series(DATE '1997-01-01', DATE '1998-12-31',
                                           INTERVAL 1 DAY)) AS DATE) AS date)
),
monthly AS (
  SELECT CAST(EXTRACT(YEAR FROM d) AS INT) AS year,
         CAST(EXTRACT(MONTH FROM d) AS INT) AS month,
         SUM(amount) AS amount
  FROM amt
  WHERE amount < 0 AND d BETWEEN DATE '1997-01-01' AND DATE '1998-12-31'
  GROUP BY 1, 2
)
SELECT s.year, s.month, CAST(COALESCE(-m.amount, 0) AS DOUBLE) AS amount
FROM spine s LEFT JOIN monthly m ON m.year = s.year AND m.month = s.month
""")
def purchase_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-spine purchase rollup (reference
    reports/mssql/purchase-monthly.sql:4-33).

    The reference derives the month list from the recursive day spine and
    left-joins the aggregate onto it (purchase-monthly.sql:9-16,29-31) so
    months with no purchases still appear as 0 rows. Spark: closed-form
    month sequence + broadcast of the (tiny) monthly aggregate."""
    monthly = (_signed_orders(spark, sf_dir)
               .filter((F.col("amount") < 0)
                       & F.col("d").between("1997-01-01", "1998-12-31"))
               .groupBy(F.year("d").alias("y"), F.month("d").alias("m"))
               .agg(F.sum("amount").alias("amount")))
    spine = (spark.range(1)
             .select(F.explode(F.sequence(
                 F.lit("1997-01-01").cast("date"),
                 F.lit("1998-12-01").cast("date"),
                 F.expr("interval 1 month"))).alias("month_start"))
             .select(F.year("month_start").alias("year"),
                     F.month("month_start").alias("month")))
    return (spine.join(F.broadcast(monthly),
                       (spine.year == monthly.y) & (spine.month == monthly.m),
                       "left")
                 .select("year", "month",
                         F.coalesce(-F.col("amount"), dzero())
                          .cast("double").alias("amount")))


# ---------------------------------------------------------------------------
# F5 + F9 + F4 + F14: account ledger / string_agg (reference account-ledger.sql)
# ---------------------------------------------------------------------------

@gate_query("account_ledger", oracle="""
WITH led AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS date, o.o_totalprice,
         c.c_nationkey
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
),
entry AS (
  SELECT l.l_orderkey AS o_orderkey,
         string_agg(DISTINCT s.s_name, ',' ORDER BY s.s_name) AS suppliers
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN led ON led.o_orderkey = l.l_orderkey AND s.s_nationkey <> led.c_nationkey
  GROUP BY l.l_orderkey
)
SELECT led.o_orderkey AS orderkey, led.date,
       led.o_totalprice AS total, e.suppliers
FROM led JOIN entry e ON e.o_orderkey = led.o_orderkey
""")
def account_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger statement with co-entry string aggregation.

    Mirrors reference reports/mssql/account-ledger.sql:6-26: a filtered
    'ledger' CTE, a theta-joined (≠) co-ledger set aggregated with
    string_agg(DISTINCT), and a final equi-join. Sorted collect_set makes
    the aggregation order-deterministic for the oracle hash."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    led = (o.join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
                  o.o_custkey == c.c_custkey)
             .select("o_orderkey", F.col("o_orderdate").cast("date").alias("date"),
                     "o_totalprice", "c_nationkey")
             .filter(F.col("date").between("1997-01-01", "1997-12-31")))
    entry = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
               .join(F.broadcast(led.select("o_orderkey", "c_nationkey")),
                     (li.l_orderkey == F.col("o_orderkey"))
                     & (s.s_nationkey != F.col("c_nationkey")))
               .groupBy("l_orderkey")
               .agg(F.array_join(F.sort_array(F.collect_set("s_name")), ",").alias("suppliers")))
    return (led.join(entry, led.o_orderkey == entry.l_orderkey)
               .select(F.col("o_orderkey").alias("orderkey"), "date",
                       F.col("o_totalprice").alias("total"), "suppliers"))


# ---------------------------------------------------------------------------
# F1 + F4: 5-way star register (reference sales-register.sql / daily-cash-movement.sql)
# ---------------------------------------------------------------------------

@gate_query("sales_register", oracle="""
SELECT o.o_orderkey AS orderkey, CAST(o.o_orderdate AS DATE) AS date,
       c.c_name AS customer, n.n_name AS nation, r.r_name AS region,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
               AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
WHERE CAST(o.o_orderdate AS DATE) BETWEEN DATE '1998-01-01' AND DATE '1998-06-30'
GROUP BY 1, 2, 3, 4, 5
""")
def sales_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join with a theta (non-equi) lineitem condition.

    Mirrors the reference's 5-way star (reports/mssql/daily-cash-movement.sql:19-23,
    sales-register.sql:13-16) plus the theta-join pattern of
    account-ledger.sql:19. All dimensions broadcast; the only shuffle is the
    orders⋈lineitem equi-join on orderkey + the final group-by, which AQE
    coalesces."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit("1").cast(T.DecimalType(4, 2))
    revenue = money(F.col("l_extendedprice")) * (one - F.col("l_discount").cast(T.DecimalType(4, 2)))
    return (o.filter(F.col("o_orderdate").cast("date").between("1998-01-01", "1998-06-30"))
             .join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .join(li, (li.l_orderkey == o.o_orderkey)
                   & (li.l_shipdate.cast("date") > o.o_orderdate.cast("date")))
             .groupBy(F.col("o_orderkey").alias("orderkey"),
                      F.col("o_orderdate").cast("date").alias("date"),
                      F.col("c_name").alias("customer"),
                      F.col("n_name").alias("nation"),
                      F.col("r_name").alias("region"))
             .agg(F.sum(revenue).cast("double").alias("revenue"),
                  F.count(F.lit(1)).alias("n_lines")))


# ---------------------------------------------------------------------------
# F7 + F11 + F17: daily debit/credit movement (reference daily-cash-movement.sql)
# ---------------------------------------------------------------------------

@gate_query("daily_cash_movement", oracle="""
WITH spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                     INTERVAL 1 DAY)) AS DATE) AS date
),
mov AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS debit,
         SUM(CASE WHEN event_type IN ('click', 'view')
                  THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS credit
  FROM events GROUP BY 1
)
SELECT s.date, CAST(COALESCE(m.debit, 0) AS DOUBLE) AS debit,
       CAST(COALESCE(m.credit, 0) AS DOUBLE) AS credit
FROM spine s LEFT JOIN mov m ON m.d = s.date
""")
def daily_cash_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily debit/credit split with IN-list filter over the event stream.

    Mirrors reference reports/mssql/daily-cash-movement.sql:8-30 (recursive
    spine + conditional agg + IN list) with the spine as closed-form
    sequence()."""
    e = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit("2024-01-01").cast("date"),
                             F.lit("2024-01-31").cast("date"))).alias("date"))
    val = money(F.col("value"))
    mov = (e.select(F.col("ts").cast("date").alias("d"), "event_type", "value")
            .groupBy("d")
            .agg(F.sum(F.when(F.col("event_type").isin("purchase", "signup"), val)
                        .otherwise(dzero())).alias("debit"),
                 F.sum(F.when(F.col("event_type").isin("click", "view"), val)
                        .otherwise(dzero())).alias("credit")))
    return (spine.join(F.broadcast(mov), spine.date == mov.d, "left")
                 .select("date",
                         F.coalesce("debit", dzero()).cast("double").alias("debit"),
                         F.coalesce("credit", dzero()).cast("double").alias("credit")))


# ---------------------------------------------------------------------------
# F10: latest-per-group window (reference profit-loss.sql:32-35)
# ---------------------------------------------------------------------------

@gate_query("latest_order_per_customer", oracle="""
SELECT o_custkey AS custkey, o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS date,
       o_totalprice AS total
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""")
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key via ranking window.

    Mirrors the closing-stock window of reference reports/mssql/profit-loss.sql:32-35
    (row_number ... ORDER BY date DESC, keep 1). Deterministic tiebreak on the
    key so the oracle hash is stable."""
    o = load_table(spark, sf_dir, "orders")
    # Latest-row-per-key as a max-STRUCT aggregation behind an explicit
    # key repartition (round 12 — same rewrite and rationale as
    # workflow_dedup: struct aggregates plan as SortAggregate, so move
    # every sort behind the exchange where it parallelizes; o_custkey
    # averages ~1.5 orders per customer, so map-side partials would
    # save ~nothing). max(struct) compares lexicographically on
    # (o_orderdate, o_orderkey) — exactly the window's DESC, DESC order,
    # unique per row — so the elected row is identical.
    best = F.max(F.struct("o_orderdate", "o_orderkey", "o_totalprice"))
    return (o.select("o_custkey", "o_orderdate", "o_orderkey",
                     "o_totalprice")
             .repartition("o_custkey")
             .groupBy("o_custkey")
             .agg(best.alias("k"))
             .select(F.col("o_custkey").alias("custkey"),
                     F.col("k.o_orderkey").alias("orderkey"),
                     F.col("k.o_orderdate").cast("date").alias("date"),
                     F.col("k.o_totalprice").alias("total")))


# ---------------------------------------------------------------------------
# F10: workflow dedup (reference stock-voucher-view.sql:16, data-structure.md:242-258)
# ---------------------------------------------------------------------------

@gate_query("workflow_dedup", oracle="""
SELECT l_partkey AS partkey, l_suppkey AS suppkey, l_orderkey AS orderkey,
       CAST(l_shipdate AS DATE) AS shipdate, l_quantity AS quantity
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
                               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
""")
def workflow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-row-per-tracking-key dedup.

    Mirrors the partial-workflow dedup (reference docs/data-structure.md:242-258;
    reports/mssql/stock-voucher-view.sql:16): ROW_NUMBER PARTITION BY
    tracking keys ORDER BY date, keep repetition 1."""
    li = load_table(spark, sf_dir, "lineitem")
    # Keep-first as a min-STRUCT aggregation instead of the ranking
    # window (round 12). min over a struct plans as SortAggregate (a
    # struct can't live in a hash-agg's mutable buffer), so the naive
    # groupBy sorted the whole input MAP-side — single-threaded here,
    # because the compact parquet scan is one split — exactly like the
    # window's partial WindowGroupLimit sort it replaced (both ~1.1s
    # isolated). The explicit repartition on the group key moves ALL
    # sorting behind the exchange, where it runs at full parallelism:
    # Spark sees the child already hash-partitioned on the key, plans
    # adjacent partial+final SortAggregates post-shuffle, and the
    # exchange itself is sort-free (measured 2.3×: 1.43s → 0.62s).
    # Scale note: this shuffles every row where map-side partials would
    # pre-collapse — the right trade for this key (avg ~1.5 rows per
    # (partkey, suppkey), so partials save ~nothing and cost a full
    # map-side sort); for low-cardinality keys prefer the plain groupBy.
    # Identical election: struct comparison is lexicographic on
    # (l_shipdate, l_orderkey, l_linenumber) — the window's exact ORDER
    # BY, unique per row, so the carried l_quantity never decides.
    best = F.min(F.struct("l_shipdate", "l_orderkey", "l_linenumber",
                          "l_quantity"))
    return (li.select("l_partkey", "l_suppkey", "l_orderkey",
                      "l_linenumber", "l_quantity", "l_shipdate")
              .repartition("l_partkey", "l_suppkey")
              .groupBy("l_partkey", "l_suppkey")
              .agg(best.alias("k"))
              .select(F.col("l_partkey").alias("partkey"),
                      F.col("l_suppkey").alias("suppkey"),
                      F.col("k.l_orderkey").alias("orderkey"),
                      F.col("k.l_shipdate").cast("date").alias("shipdate"),
                      F.col("k.l_quantity").alias("quantity")))


# ---------------------------------------------------------------------------
# F13: opening-balance ∪ transactions view (reference accounting-voucher-view.sql)
# ---------------------------------------------------------------------------

@gate_query("voucher_view_union", oracle=f"""
SELECT c_name AS ledger, DATE '1994-12-31' AS date,
       c_acctbal AS amount, 'Opening Balance' AS voucher_type
FROM customer
UNION ALL
SELECT c.c_name AS ledger, a.d AS date, CAST(a.amount AS DOUBLE) AS amount,
       a.o_orderstatus AS voucher_type
FROM ({_SIGNED_ORDERS_SQL}) a JOIN customer c ON c.c_custkey = a.o_custkey
""")
def voucher_view_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic opening rows UNION ALL transaction rows.

    Mirrors reference reports/mssql/accounting-voucher-view.sql:2-13 and
    post-import-scripts/opening-transaction.sql:4-13 (opening balance
    materialized as a fake voucher dated before the books)."""
    c = load_table(spark, sf_dir, "customer")
    amt = _signed_orders(spark, sf_dir)
    opening = c.select(F.col("c_name").alias("ledger"),
                       F.lit("1994-12-31").cast("date").alias("date"),
                       F.col("c_acctbal").alias("amount"),
                       F.lit("Opening Balance").alias("voucher_type"))
    trans = (amt.join(F.broadcast(c.select("c_custkey", "c_name")),
                      amt.o_custkey == F.col("c_custkey"))
                .select(F.col("c_name").alias("ledger"), F.col("d").alias("date"),
                        F.col("amount").cast("double").alias("amount"),
                        F.col("o_orderstatus").alias("voucher_type")))
    return opening.unionByName(trans)


# ---------------------------------------------------------------------------
# F12: hierarchy closure (reference group-tree-*.sql; recursive CTE)
# ---------------------------------------------------------------------------

@gate_query("hierarchy_closure", oracle="""
WITH RECURSIVE edges AS (
  SELECT n_name AS child, r_name AS parent
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT c_name AS child, n_name AS parent
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
cl AS (
  SELECT child AS node, parent AS ancestor, 1 AS depth FROM edges
  UNION ALL
  SELECT cl.node, e.parent, cl.depth + 1
  FROM cl JOIN edges e ON cl.ancestor = e.child
)
SELECT node, ancestor, CAST(depth AS INT) AS depth FROM cl
""")
def hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child transitive closure over region→nation→customer.

    Mirrors the recursive group-tree CTEs (reference
    reports/mssql/group-tree-parent-child.sql:4-9 and
    group-tree-children-parent.sql:4-9). Spark (<4 recursive CTE) uses the
    iterative frontier-join in operators/hierarchy.py: per level one join
    against the (broadcast) edge set — depth-bounded, no recursion cap."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    edges = (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .select(F.col("n_name").alias("child"), F.col("r_name").alias("parent"))
              .unionByName(
                  c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                   .select(F.col("c_name").alias("child"), F.col("n_name").alias("parent"))))
    return transitive_closure(edges)


# ---------------------------------------------------------------------------
# F20: pivot (reference sales-register "input for PIVOT")
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

@gate_query("segment_pivot", oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS AUTOMOBILE,
       CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS BUILDING,
       CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS FURNITURE,
       CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS HOUSEHOLD,
       CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS MACHINERY
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1
""")
def segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (SURVEY F20). Explicit pivot value list so the plan
    is a single pass (no distinct-values pre-query) — required at scale."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .groupBy(F.col("n_name").alias("nation"))
             .pivot("c_mktsegment", _SEGMENTS)
             .agg(F.sum(money(F.col("c_acctbal"))).cast("double")))


# ---------------------------------------------------------------------------
# E1/E2: version probe (reference src/tally.mts:113-124, 406-446)
# ---------------------------------------------------------------------------

@gate_query("version_probe", oracle="""
SELECT CAST(MAX(v) AS BIGINT) AS last_alter_id FROM (
  SELECT MAX(event_id) AS v FROM events
  UNION ALL
  SELECT MAX(o_orderkey) AS v FROM orders
)
""")
def version_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-max version probe.

    Mirrors reference src/tally.mts:118-124: ``select max(...) from (select
    max(alterid) from t1 union all ...)`` — the sink-side AlterId probe that
    gates every incremental sync."""
    e = load_table(spark, sf_dir, "events").agg(F.max("event_id").alias("v"))
    o = load_table(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("v"))
    return e.unionByName(o).agg(F.max("v").alias("last_alter_id"))


# ---------------------------------------------------------------------------
# E4: delete detection via anti-join (reference src/tally.mts:172)
# ---------------------------------------------------------------------------

@gate_query("delete_detect_antijoin", oracle="""
SELECT c_custkey AS custkey, c_name AS name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= DATE '1999-01-01')
""")
def delete_detect_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows present in the target but absent from the changed-set → deletes.

    Mirrors reference src/tally.mts:172 (``guid not in (select guid from
    _diff)``) as a distributed left_anti join — the scale-safe NOT IN. The
    'changed-set' is the recent slice of orders (≥1999), so the delete set
    is non-empty at every SF."""
    c = load_table(spark, sf_dir, "customer")
    diff = (load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("date"))
            .select(F.col("o_custkey").alias("c_custkey")))
    return (c.join(diff, "c_custkey", "left_anti")
             .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")))


# ---------------------------------------------------------------------------
# E5: modified detection via join + version mismatch (reference src/tally.mts:174)
# ---------------------------------------------------------------------------

@gate_query("modified_detect", oracle="""
WITH cutoff AS (SELECT MAX(event_id) / 2 AS c FROM events),
sink AS (
  SELECT user_id, MAX(event_id) AS alterid FROM events, cutoff
  WHERE event_id <= cutoff.c GROUP BY user_id
),
src AS (SELECT user_id, MAX(event_id) AS alterid FROM events GROUP BY user_id)
SELECT s.user_id AS user_id,
       CAST(t.alterid AS BIGINT) AS old_alterid,
       CAST(s.alterid AS BIGINT) AS new_alterid
FROM src s JOIN sink t ON t.user_id = s.user_id
WHERE s.alterid <> t.alterid
""")
def modified_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the changed-set to the sink and keep version mismatches.

    Mirrors reference src/tally.mts:174 (``join _diff s on s.guid = t.guid
    where s.alterid <> t.alterid``). The 'sink snapshot' is simulated as the
    first half of the monotonic event_id space."""
    e = load_table(spark, sf_dir, "events")
    cutoff = e.agg((F.max("event_id") / 2).alias("c"))
    sink = (e.join(F.broadcast(cutoff))
             .filter(F.col("event_id") <= F.col("c"))
             .groupBy("user_id").agg(F.max("event_id").alias("old_alterid")))
    src = e.groupBy("user_id").agg(F.max("event_id").alias("new_alterid"))
    return (src.join(sink, "user_id")
               .filter(F.col("new_alterid") != F.col("old_alterid"))
               .select("user_id", "old_alterid", "new_alterid"))


# ---------------------------------------------------------------------------
# E9: cascade update / denormalization repair (reference src/tally.mts:225-246)
# ---------------------------------------------------------------------------

@gate_query("cascade_update_join", oracle="""
SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
       p.p_name AS part_name, s.s_name AS supplier_name,
       l.l_extendedprice AS price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE l.l_orderkey % 10 = 0
""")
def cascade_update_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair denormalized parent-name columns on child rows.

    Mirrors reference src/tally.mts:225-246 (``UPDATE child SET field =
    parent.name FROM child JOIN parent ON parent.guid = child._field``) —
    on immutable storage this is a broadcast join + projection, the MERGE
    shape used by the incremental engine (operators/incremental.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .select(F.col("l_orderkey").alias("orderkey"),
                      F.col("l_linenumber").alias("linenumber"),
                      F.col("p_name").alias("part_name"),
                      F.col("s_name").alias("supplier_name"),
                      F.col("l_extendedprice").alias("price")))


# ---------------------------------------------------------------------------
# H: tumbling-window aggregation over the event stream (batch-equivalent)
# ---------------------------------------------------------------------------

@gate_query("event_hourly_windows", oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""")
def event_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream.

    The reference's continuous mode is change-polling micro-batches
    (src/index.mts:51-88) with no event-time windows; this is the Spark-native
    upgrade, in batch form (hash-matchable)."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(money(F.col("value"))).cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# E7: cascade delete through FK edges (reference src/tally.mts:180-186)
# ---------------------------------------------------------------------------

@gate_query("cascade_delete_counts", oracle="""
SELECT n_name AS nation,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS customers_removed,
       CAST(COUNT(o_orderkey) AS BIGINT) AS orders_removed
FROM nation
JOIN customer ON c_nationkey = n_nationkey
LEFT JOIN orders ON o_custkey = c_custkey
WHERE n_nationkey IN (0, 7, 14)
GROUP BY n_name
""")
def cascade_delete_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level cascade delete: removing parents (nations) removes their
    children (customers) and grandchildren (orders) via FK edges.

    Mirrors reference src/tally.mts:180-186 (`cascade_delete` edges from
    tally-export-config-incremental.yaml:598-610): each level is one
    semi-join against the deleted key set — here accounted rather than
    applied, so the oracle can check the blast radius exactly. Dimension
    side broadcast; the orders probe is the only shuffle."""
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey").isin(0, 7, 14))
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    victims = c.join(F.broadcast(n.select("n_nationkey", "n_name")),
                     c.c_nationkey == F.col("n_nationkey"))
    return (victims.join(o, victims.c_custkey == o.o_custkey, "left")
            .groupBy("n_name")
            .agg(F.countDistinct("c_custkey").alias("customers_removed"),
                 F.count("o_orderkey").alias("orders_removed"))
            .select(F.col("n_name").alias("nation"),
                    "customers_removed", "orders_removed"))


# ---------------------------------------------------------------------------
# E8: upsert merge — remove-then-append ≡ MERGE (reference src/tally.mts:190-223)
# ---------------------------------------------------------------------------

@gate_query("upsert_merge", oracle="""
WITH sink AS (SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'),
src  AS (SELECT * FROM orders WHERE o_orderdate >= DATE '1996-07-01'),
merged AS (
  SELECT * FROM sink WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT * FROM src
)
SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM merged GROUP BY 1, 2
""")
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert as anti-join + append: the fresh batch replaces overlapping
    keys and appends the rest, the exact merge the reference performs by
    deleting changed rows then bulk-appending re-extracted ones
    (src/tally.mts:190-223; operators/incremental.py E8). The overlap
    window (1996-07 … 1996-12) plays the 'modified rows' role. On Delta
    the same plan is `MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT`."""
    o = load_table(spark, sf_dir, "orders")
    sink = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    src = o.filter(F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
    merged = (sink.join(src.select("o_orderkey"), "o_orderkey", "left_anti")
                  .unionByName(src))
    return (merged.groupBy(F.year("o_orderdate").cast("int").alias("yr"),
                           F.col("o_orderstatus").alias("status"))
                  .agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum(money(F.col("o_totalprice"))).cast("double").alias("total")))


# ---------------------------------------------------------------------------
# E10: auto renumbering via window + join-update (reference src/tally.mts:248-298)
# ---------------------------------------------------------------------------

@gate_query("renumber_join_update", oracle="""
WITH renum AS (
  SELECT o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderdate, o_orderkey) AS VARCHAR) AS new_no
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND year(o_orderdate) = 1995
)
SELECT o.o_orderkey AS orderkey,
       COALESCE(r.new_no, CAST(o.o_orderkey AS VARCHAR)) AS voucher_number
FROM orders o LEFT JOIN renum r ON r.o_orderkey = o.o_orderkey
WHERE year(o.o_orderdate) = 1995
""")
def renumber_join_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto voucher renumbering: sequence numbers recomputed per numbering
    series (each auto-numbered voucher type restarts its own sequence —
    priority classes stand in for voucher types here), then applied to the
    target with a left-join + coalesce — the UPDATE-join the reference
    issues in three SQL dialects (src/tally.mts:248-298,
    operators/incremental.py E10). The window partitions by the series
    key, so the renumber shuffle spreads across series instead of
    funnelling the whole table through one partition."""
    o = load_table(spark, sf_dir, "orders") \
        .filter(F.year("o_orderdate") == 1995)
    renum = (o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
              .select("o_orderkey",
                      F.row_number().over(
                          W.partitionBy("o_orderpriority")
                           .orderBy("o_orderdate", "o_orderkey"))
                       .cast("string").alias("new_no")))
    return (o.join(renum, "o_orderkey", "left")
             .select(F.col("o_orderkey").alias("orderkey"),
                     F.coalesce("new_no", F.col("o_orderkey").cast("string"))
                      .alias("voucher_number")))


# ---------------------------------------------------------------------------
# F12 (path form): parent→child tree listing with materialized paths
# (reference reports/mssql/group-tree-parent-child.sql)
# ---------------------------------------------------------------------------

@gate_query("hierarchy_paths", oracle="""
WITH RECURSIVE nodes AS (
  SELECT r_name AS name, '' AS parent FROM region
  UNION ALL
  SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
),
t AS (
  SELECT name, name AS path, 1 AS depth FROM nodes WHERE parent = ''
  UNION ALL
  SELECT n.name, t.path || '/' || n.name, t.depth + 1
  FROM t JOIN nodes n ON n.parent = t.name
)
SELECT name, path, CAST(depth AS INT) AS depth FROM t
""")
def hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized root→node paths over the 3-level dimension tree —
    the reference's parent-child group listing (reports/mssql/
    group-tree-parent-child.sql builds exactly this path string).
    Iterative frontier joins with broadcast child edges
    (operators/hierarchy.tree_paths); depth = tree height, so 3 stages."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    nodes = (r.select(F.col("r_name").alias("name"), F.lit("").alias("parent"))
             .unionByName(
                 n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                  .select(F.col("n_name").alias("name"),
                          F.col("r_name").alias("parent")))
             .unionByName(
                 c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                  .select(F.col("c_name").alias("name"),
                          F.col("n_name").alias("parent"))))
    return tree_paths(nodes)


# ---------------------------------------------------------------------------
# F2+F7: stock-summary shape — in/out conditional sums over a left-joined
# dimension spine (reference reports/mssql/stock-summary.sql)
# ---------------------------------------------------------------------------

@gate_query("stock_summary_brands", oracle="""
WITH moves AS (
  SELECT p_brand,
         SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS qin,
         SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS qout
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
),
brands AS (SELECT DISTINCT p_brand FROM part)
SELECT b.p_brand AS brand,
       CAST(COALESCE(m.qin, 0) AS DOUBLE) AS qty_in,
       CAST(COALESCE(m.qout, 0) AS DOUBLE) AS qty_out,
       CAST(COALESCE(m.qin, 0) - COALESCE(m.qout, 0) AS DOUBLE) AS qty_net
FROM brands b LEFT JOIN moves m ON b.p_brand = m.p_brand
""")
def stock_summary_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-summary shape: inward/outward conditional quantity sums
    (returnflag N≈inward, R≈outward — the reference's in(+)/out(−)
    quantity convention) left-joined onto the full dimension spine so
    movement-less brands still report zeros (reference
    reports/mssql/stock-summary.sql:16-33). Broadcast part-dim join, one
    fact shuffle with map-side partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dz = F.lit("0").cast(_DEC)
    moves = (li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                     li.l_partkey == F.col("p_partkey"))
             .groupBy("p_brand")
             .agg(F.sum(F.when(F.col("l_returnflag") == "N",
                               money(F.col("l_quantity"))).otherwise(dz)).alias("qin"),
                  F.sum(F.when(F.col("l_returnflag") == "R",
                               money(F.col("l_quantity"))).otherwise(dz)).alias("qout")))
    brands = p.select("p_brand").distinct()
    # moves is post-aggregation (one row per brand) — broadcast it so the
    # spine join never sort-merges
    return (brands.join(F.broadcast(moves), "p_brand", "left")
            .select(F.col("p_brand").alias("brand"),
                    F.coalesce("qin", dz).cast("double").alias("qty_in"),
                    F.coalesce("qout", dz).cast("double").alias("qty_out"),
                    (F.coalesce("qin", dz) - F.coalesce("qout", dz))
                    .cast("double").alias("qty_net")))


# ---------------------------------------------------------------------------
# F13+F10: P&L-style multi-block union (reference reports/mssql/profit-loss.sql:53-57)
# ---------------------------------------------------------------------------

@gate_query("pnl_union_blocks", oracle="""
WITH rev AS (
  SELECT c_mktsegment AS grp, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS amt
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
),
latest AS (
  SELECT c_mktsegment AS grp, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS amt
  FROM (SELECT c_mktsegment, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey) x
  WHERE rn = 1 GROUP BY 1
)
SELECT 'Revenue' AS block, grp, CAST(amt AS DOUBLE) AS amount FROM rev
UNION ALL
SELECT 'Closing' AS block, grp, CAST(amt AS DOUBLE) FROM latest
UNION ALL
SELECT 'Total' AS block, 'ALL' AS grp,
       CAST((SELECT SUM(amt) FROM rev) AS DOUBLE)
""")
def pnl_union_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P&L three-block composition: per-group revenue ∪ latest-row
    'closing stock' block (ranking window, reference profit-loss.sql:32-35)
    ∪ a grand-total block (profit-loss.sql:53-57). One fact scan feeds the
    revenue and window blocks; the total is a second-stage reduce of the
    already-aggregated revenue block, not another scan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
                    o.o_custkey == F.col("c_custkey"))
    rev = (joined.groupBy(F.col("c_mktsegment").alias("grp"))
                 .agg(F.sum(money(F.col("o_totalprice"))).alias("amt")))
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"),
                                           F.desc("o_orderkey"))
    latest = (joined.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .groupBy(F.col("c_mktsegment").alias("grp"))
                    .agg(F.sum(money(F.col("o_totalprice"))).alias("amt")))
    total = rev.agg(F.sum("amt").alias("amt")) \
               .select(F.lit("Total").alias("block"), F.lit("ALL").alias("grp"),
                       F.col("amt").cast("double").alias("amount"))
    block = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("block"), "grp", F.col("amt").cast("double").alias("amount"))
    return block(rev, "Revenue").unionByName(block(latest, "Closing")) \
                                .unionByName(total)


# ---------------------------------------------------------------------------
# F9 (distinct form): sorted distinct string aggregation
# (reference reports/bigquery/account-ledger.sql:14 string_agg(distinct ...))
# ---------------------------------------------------------------------------

@gate_query("distinct_string_agg", oracle="""
SELECT nation, string_agg(seg, ',' ORDER BY seg) AS segments FROM (
  SELECT DISTINCT n_name AS nation, c_mktsegment AS seg
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) GROUP BY nation
""")
def distinct_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct string aggregation with deterministic order:
    ``collect_set`` → ``array_sort`` → ``array_join`` — the engine-stable
    form of the reference's ``string_agg(distinct ledger)`` (reference
    reports/bigquery/account-ledger.sql:14)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .groupBy(F.col("n_name").alias("nation"))
             .agg(F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",")
                   .alias("segments")))


# ---------------------------------------------------------------------------
# G1+G3: mask formatting in a projection (reference src/utility.mts:60-156, 196-246)
# ---------------------------------------------------------------------------

@gate_query("mask_formatting", oracle="""
SELECT o_orderkey AS orderkey,
       CASE WHEN s < 0 THEN '(' || fmt || ')'
            WHEN s > 0 THEN fmt
            ELSE '-' END AS amount_fmt,
       CAST(day(o_orderdate) AS VARCHAR) || '-' || strftime(o_orderdate, '%b-%Y') AS date_fmt
FROM (SELECT o_orderkey, o_orderdate, s,
             format('{:,}', CAST(trunc(abs(s)) AS BIGINT)) || '.' ||
             lpad(CAST(CAST((abs(s) - trunc(abs(s))) * 100 AS BIGINT) AS VARCHAR), 2, '0') AS fmt
      FROM (SELECT o_orderkey, o_orderdate,
                   CASE WHEN o_orderstatus = 'F'
                        THEN -CAST(o_totalprice AS DECIMAL(12,2))
                        ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS s
            FROM orders WHERE o_orderkey % 100 = 0) t0) t
""")
def mask_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar mask library in a distributed projection: sign-section
    money mask ``#,0.00;(#,0.00);-`` and date mask ``d-MMM-yyyy``
    (functions/masks.py; reference Number.format/Date.format,
    src/utility.mts:60-156/:196-246). All built-in expressions — the masks
    compile to format_number/date_format, no UDFs in the projection."""
    from ..functions.masks import format_date_mask, format_number_mask
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    signed = F.when(F.col("o_orderstatus") == "F",
                    -money(F.col("o_totalprice"))) \
              .otherwise(money(F.col("o_totalprice")))
    return o.select(F.col("o_orderkey").alias("orderkey"),
                    format_number_mask(signed, "#,0.00;(#,0.00);-").alias("amount_fmt"),
                    format_date_mask(F.col("o_orderdate"), "d-MMM-yyyy").alias("date_fmt"))


# ---------------------------------------------------------------------------
# H (beyond reference): session windows over the event stream
# ---------------------------------------------------------------------------

@gate_query("event_sessions", oracle="""
WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
d AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""")
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic session windows (30-minute inactivity gap) per user —
    ``F.session_window`` batch form; the identical plan runs streaming with
    a watermark (streaming/continuous.sessionize). The oracle is the
    classic gaps-and-islands rewrite, pinning Spark's merge semantics
    (a gap of exactly 30:00 starts a new session)."""
    from ..streaming.continuous import sessionize
    e = load_table(spark, sf_dir, "events")
    return sessionize(e, gap="30 minutes")


# ---------------------------------------------------------------------------
# F3 + F4: purchase register — self-joined dimension + negated amounts
# (reference reports/mssql/purchase-register.sql:10,14-15)
# ---------------------------------------------------------------------------

@gate_query("purchase_register", oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(o.o_orderdate) AS INT) AS yr,
       CAST(-SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS expense,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE CAST(o.o_orderdate AS DATE) BETWEEN DATE '1998-01-01' AND DATE '1998-03-31'
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
""")
def purchase_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase register: the sales-register star with the reference's
    purchase conventions — amounts negated (reference
    reports/mssql/purchase-register.sql:10 unary minus) and the SAME
    dimension joined twice under two roles (line ledger vs party ledger,
    purchase-register.sql:14-15) — here nation as supplier-nation and
    customer-nation, with a θ-predicate excluding same-nation pairs.
    Both nation aliases broadcast; one fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    one = F.lit("1").cast(T.DecimalType(4, 2))
    expense = money(F.col("l_extendedprice")) * (one - F.col("l_discount").cast(T.DecimalType(4, 2)))
    return (li
            .join(o.filter(F.col("o_orderdate").cast("date")
                           .between("1998-01-01", "1998-03-31")),
                  li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
            .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("o_orderdate").cast("int").alias("yr"))
            .agg((-F.sum(expense)).cast("double").alias("expense"),
                 F.count(F.lit(1)).alias("n_lines")))


# ---------------------------------------------------------------------------
# skew handling: salted two-phase aggregation (SCALE.md §2-3; charter
# "skewed keys → salting or AQE skew-join")
# ---------------------------------------------------------------------------

@gate_query("salted_agg", oracle="""
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""")
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via deterministic salting (operators/skew.py).

    ``event_type`` has ~5 distinct values, so a direct groupBy funnels the
    whole table into 5 reducers; the salted plan spreads each key over 32,
    then combines 32 partial states per key. The distinct-user count is
    the aggregate partial aggregation can't reduce — per-salt distinct
    sets bound the shuffle by NDV instead of row count. Result is
    identical to the unsalted groupBy (the oracle)."""
    from ..operators.skew import salted_aggregate
    e = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        e.withColumn("value", money(F.col("value"))),
        keys=["event_type"],
        aggs={"total_value": ("sum", "value"),
              "n_events": ("count", "event_id"),
              "n_users": ("count_distinct", "user_id")},
        distinct_on="event_id", n_salt=32)
    return out.select("event_type",
                      F.col("total_value").cast("double").alias("total_value"),
                      "n_events", F.col("n_users").cast("long").alias("n_users"))


# ---------------------------------------------------------------------------
# as-of join (charter extension: point-in-time-correct event lookup)
# ---------------------------------------------------------------------------

@gate_query("asof_latest_view", oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, event_id AS view_event_id, value AS view_value
  FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT c.event_id, c.user_id, c.ts, v.view_event_id, v.view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""")
def asof_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: for every click, the latest view by the same
    user at-or-before the click (operators/asof.py union-window trick —
    ONE shuffle of |L|+|R| rows, never an inequality join). The oracle is
    DuckDB's native ASOF LEFT JOIN; ties on (user, ts) resolve to the
    max event_id on both sides (tiebreak column ↔ QUALIFY dedup)."""
    from ..operators.asof import asof_join
    e = load_table(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
               .select("event_id", "user_id", "ts"))
    views = (e.filter(F.col("event_type") == "view")
              .select("user_id", "ts",
                      F.col("event_id").alias("view_event_id"),
                      F.col("value").alias("view_value")))
    return asof_join(clicks, views, ["user_id"], "ts", "ts",
                     ["view_event_id", "view_value"], tiebreak="view_event_id")


# ---------------------------------------------------------------------------
# range join (charter extension: interval-overlap without an equality key)
# ---------------------------------------------------------------------------

@gate_query("interval_attribution", oracle="""
WITH intervals AS (
  SELECT event_id AS interval_id, ts AS start_ts,
         ts + INTERVAL 2 MINUTE AS end_ts
  FROM events WHERE event_type = 'error' AND user_id % 50 = 0
),
pts AS (SELECT ts, value FROM events WHERE event_type = 'purchase')
SELECT i.interval_id,
       count(*) AS n_points,
       CAST(sum(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM pts p JOIN intervals i ON p.ts BETWEEN i.start_ts AND i.end_ts
GROUP BY i.interval_id
""")
def interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-window attribution: purchases landing inside any [error_ts,
    error_ts + 2 min] window, aggregated per window. There is NO equality
    key between the sides, so a naive plan is BroadcastNestedLoopJoin /
    cartesian; operators/range_join.py grids time into 2-minute cells and
    runs a plain equi-join on the cell id instead — shuffle-partitioned,
    spillable, O(|P|+|I|·cells) not O(|P|·|I|). Money sums in Decimal,
    cast to double last (module float discipline)."""
    from ..operators.range_join import range_join
    e = load_table(spark, sf_dir, "events")
    iv = (e.filter((F.col("event_type") == "error") & (F.col("user_id") % 50 == 0))
           .select(F.col("event_id").alias("interval_id"),
                   F.col("ts").alias("start_ts"),
                   (F.col("ts") + F.expr("INTERVAL 2 MINUTES")).alias("end_ts")))
    pts = e.filter(F.col("event_type") == "purchase").select("ts", "value")
    m = range_join(pts, iv, "ts", "start_ts", "end_ts",
                   bucket_width=120_000_000)  # 2 min of epoch-micros
    return (m.groupBy("interval_id")
             .agg(F.count(F.lit(1)).alias("n_points"),
                  F.sum(money(F.col("value"))).cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# hypertable-style rollup + gap fill (charter extensions: time-series shapes)
# ---------------------------------------------------------------------------

@gate_query("hypertable_rollup", oracle="""
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(grouping(event_type, CAST(ts AS DATE)) AS INT) AS gid,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
""")
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (type×day → type → grand total) in ONE
    pass — native ``df.rollup``, which Spark executes as a single Expand
    + hash aggregate with map-side partials, instead of three separate
    scans unioned. ``grouping_id`` disambiguates subtotal NULLs from real
    NULL keys. At 100 TB this is the hypertable continuous-aggregate
    shape: one shuffle keyed on the finest grain, coarser grains derived
    in the same aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (e.select("event_type", F.to_date("ts").alias("day"),
                     money(F.col("value")).alias("v"))
             .rollup("event_type", "day")
             .agg(F.grouping_id().cast("int").alias("gid"),
                  F.count(F.lit(1)).alias("n_events"),
                  F.sum("v").cast("double").alias("total_value"))
             .select("event_type", "day", "gid", "n_events", "total_value"))


@gate_query("gap_fill_locf", oracle="""
WITH obs AS (
  SELECT user_id, ts, value, event_id FROM events
  WHERE event_type = 'purchase'
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value, event_id
  FROM obs
  QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, event_id DESC) = 1
),
days AS (SELECT CAST(gs AS DATE) AS day
         FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
                              INTERVAL 1 DAY) AS t(gs)),
spine AS (SELECT u.user_id, d.day
          FROM (SELECT DISTINCT user_id FROM obs) u CROSS JOIN days d)
SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS cell_ts,
       last_value(d.value IGNORE NULLS) OVER w AS value,
       last_value(d.event_id IGNORE NULLS) OVER w AS src_event_id,
       d.event_id IS NOT NULL AS observed
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
WINDOW w AS (PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily purchase-value series per user with LOCF
    (operators/gapfill.py): bucket election collapses raw events
    map-side, the spine is closed-form sequence()+explode, and the
    carry-forward fills the whole elected row as one struct (row-level
    LOCF — no cross-row column splicing). The oracle is the classic SQL
    formulation (spine cross join + last_value IGNORE NULLS)."""
    from ..operators.gapfill import gap_fill
    import datetime as dt
    e = load_table(spark, sf_dir, "events")
    obs = (e.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts", "value",
                    F.col("event_id").alias("src_event_id")))
    us = lambda s: int(dt.datetime.fromisoformat(s)
                       .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return gap_fill(obs, ["user_id"], "ts", ["value", "src_event_id"],
                    start=us("2024-01-01"), end=us("2024-01-30"),
                    step=86_400_000_000, tiebreak="src_event_id")
