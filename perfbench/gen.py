"""Seeded inputs for the benchmark.

Everything a workload consumes is derived from ``--seed`` and a scale:

- ``bench_tables`` / ``corpus``: TPC-H-shaped
  ``nation/customer/part/orders/lineitem`` and the curation corpus
  (``documents``, ``embeddings``), written as parquet with the column
  types of the repository's bench tables, so the report gates' slice
  derivation and the curation plans read them as they read the bench
  corpus.
- ``derive_slice``: the report-model slice ``plans.report_gate`` derives
  from those tables, extended with the sync columns a Tally extract
  carries (``guid``, ``alterid``, and the ``_ledger`` / ``_party_name``
  GUID foreign keys the cascade-update edges key on).
- ``SPEC_YAML`` / ``write_dumps``: the definition (``load_yaml_spec``
  format) and one TDL-XML response file per table, in the wire shape
  ``sources.tally_xml.read_tdl_response`` parses.
- ``CdcSequence``: a seeded sequence of CDC batches over the slice:
  clustered-tail modify/delete/insert batches (recent vouchers, as Tally
  hands out AlterIds monotonically), optionally with a master rename, the
  cascade-update edge.

The source state is held as pandas frames in the benchmark process, so
each batch is
an exact, cheap edit and the expected converged state is known.
"""

from __future__ import annotations

import datetime
import decimal
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- bench-shaped tables -----------------------------------------------------

_NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
            "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
            "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
            "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
            "UNITED KINGDOM", "UNITED STATES"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer "
          "query big stream group filter vector the a").split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def bench_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at ``n_orders`` orders (sf0.01 ≈ 15 000).
    Deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    n_part = max(20, (n_orders * 2) // 15)
    n_supp = max(5, n_orders // 150)

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": _NATIONS,
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = np.arange(1, n_cust + 1)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    pk = np.arange(1, n_part + 1)
    brands = rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{b}" for b in brands],
        "p_type": [f"TYPE {i}" for i in rng.integers(0, 150, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part)})

    ok = np.arange(1, n_orders + 1) * 4 - rng.integers(0, 3, n_orders)
    odays = rng.integers(0, _DAYS, n_orders)
    status = np.array(["F", "O", "P"])[rng.choice(3, n_orders,
                                                  p=[0.49, 0.49, 0.02])]
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": status.tolist(),
        "o_totalprice": _money(rng, 800.0, 450000.0, n_orders),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [_PRIORITIES[i]
                            for i in rng.integers(0, 5, n_orders)]})

    lines = rng.integers(1, 8, n_orders)
    l_ok = np.repeat(ok, lines)
    l_days = np.repeat(odays, lines) + rng.integers(1, 122, lines.sum())
    l_no = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)]
        .tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(l_days)})

    return {"nation": nation, "customer": customer, "part": part,
            "orders": orders, "lineitem": lineitem}


def corpus(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The curation corpus: ``n_docs`` documents and ``n_vecs``
    embeddings, deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 1])
    return {"documents": _documents(rng, n_docs),
            "embeddings": _embeddings(rng, n_vecs)}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with the duplicate structure dedup works on:
    ~5% exact copies, ~10% near copies (a few words swapped) and a shared
    boilerplate span in ~10% (substring/span dedup)."""
    boiler = " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), 24))
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
            continue
        words = [_WORDS[j] for j in rng.integers(0, len(_WORDS),
                                                 int(rng.integers(8, 90)))]
        if r < 0.25:
            words.insert(int(rng.integers(0, len(words))), boiler)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 10 cluster centres, ~10% of them near-copies of
    an earlier vector (semantic dedup's pairs)."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(scale=0.6, size=(n, dim))
    for i in range(10, n):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + rng.normal(scale=0.01, size=dim)
            label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_bench_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


# -- the report-model slice ----------------------------------------------------

# (table, section, nature, collection, [(column, type)], cascade_update,
# cascade_delete) — the report slice as a sync definition. Column order is
# the XML field order. The two tables the CDC batches change carry
# ``guid`` + ``alterid`` and run the E-protocol; derived children inherit
# their voucher's guid. The static masters (groups, voucher types, stock
# items) carry no guid, so the protocol loads them once and leaves them.
_TABLES = [
    ("mst_group", "master", "Primary", "Group",
     [("name", "text"), ("parent", "text"),
      ("primary_group", "text"), ("is_revenue", "logical"),
      ("is_deemedpositive", "logical"), ("affects_gross_profit", "logical")],
     {}, {}),
    ("mst_ledger", "master", "Primary", "Ledger",
     [("guid", "text"), ("name", "text"), ("parent", "text"),
      ("opening_balance", "amount"), ("is_revenue", "logical"),
      ("gstn", "text"), ("alterid", "number")], {}, {}),
    ("mst_vouchertype", "master", "Primary", "VoucherType",
     [("name", "text"), ("parent", "text"),
      ("affects_stock", "logical"), ("numbering_method", "text")], {}, {}),
    ("mst_stock_item", "master", "Primary", "StockItem",
     [("name", "text"), ("parent", "text"), ("uom", "text"),
      ("opening_balance", "quantity")], {}, {}),
    ("mst_opening_batch_allocation", "master", "Derived",
     "StockItem.BatchAllocations",
     [("item", "text"), ("opening_balance", "quantity"),
      ("opening_value", "amount"), ("godown", "text")], {}, {}),
    ("trn_closingstock_ledger", "master", "Derived",
     "Ledger.LedgerClosingValues",
     [("ledger", "text"), ("stock_date", "date"), ("stock_value", "amount")],
     {}, {}),
    ("trn_voucher", "transaction", "Primary", "Voucher",
     [("guid", "text"), ("date", "date"), ("voucher_type", "text"),
      ("voucher_number", "text"), ("narration", "text"),
      ("party_name", "text"), ("_party_name", "text"),
      ("is_accounting_voucher", "logical"), ("is_order_voucher", "logical"),
      ("is_inventory_voucher", "logical"), ("alterid", "number")],
     {"party_name": "mst_ledger.name"},
     {"trn_accounting": "guid", "trn_inventory": "guid"}),
    ("trn_accounting", "transaction", "Derived", "Voucher.AllLedgerEntries",
     [("guid", "text"), ("ledger", "text"), ("_ledger", "text"),
      ("amount", "amount")], {"ledger": "mst_ledger.name"}, {}),
    ("trn_inventory", "transaction", "Derived", "Voucher.AllInventoryEntries",
     [("guid", "text"), ("item", "text"), ("quantity", "quantity"),
      ("amount", "amount"), ("godown", "text"), ("tracking_number", "text")],
     {}, {}),
]
COLUMNS = {t[0]: [c for c, _ in t[4]] for t in _TABLES}
TYPES = {t[0]: dict(t[4]) for t in _TABLES}
TABLES = list(COLUMNS)
# what a CDC batch hands the E-protocol: the tables it diffs (those with a
# guid), their cascade children and the voucher types the renumbering
# step reads; the static tables never change
SYNCED = [t for t in TABLES if "guid" in COLUMNS[t]] + ["mst_vouchertype"]
# the columns the report programs read (the slice tally_catalog derives)
REPORT_COLUMNS = {t: [c for c in cols if c not in ("guid", "alterid")
                      and not c.startswith("_") and c != "numbering_method"]
                  for t, cols in COLUMNS.items()}
REPORT_COLUMNS["trn_voucher"] = ["guid"] + REPORT_COLUMNS["trn_voucher"]
for _child in ("trn_accounting", "trn_inventory"):
    REPORT_COLUMNS[_child] = ["guid"] + REPORT_COLUMNS[_child]


def _spec_yaml() -> str:
    out = {"master": [], "transaction": []}
    for name, section, nature, coll, cols, cupd, cdel in _TABLES:
        out[section].append(
            f"  - name: {name}\n    collection: {coll}\n"
            f"    nature: {nature}\n    fields:\n"
            + "".join(f"      - name: {c}\n        field: ${c.strip('_')}\n"
                      f"        type: {t}\n" for c, t in cols)
            + ("    cascade_update:\n" + "".join(
                f"      {k}: {v}\n" for k, v in cupd.items()) if cupd else "")
            + ("    cascade_delete:\n" + "".join(
                f"      {k}: {v}\n" for k, v in cdel.items()) if cdel else ""))
    return ("master:\n" + "".join(out["master"])
            + "transaction:\n" + "".join(out["transaction"]))


SPEC_YAML = _spec_yaml()


def _dec(values, places: str) -> list[decimal.Decimal]:
    """double → DECIMAL the way Spark casts it: shortest repr, then
    HALF_UP to the scale (exact for the 2-dp values generated here)."""
    q = decimal.Decimal(places)
    return [decimal.Decimal(repr(float(x))).quantize(
        q, rounding=decimal.ROUND_HALF_UP) for x in values]


def _dsum(frame: pd.DataFrame, by, col: str) -> pd.Series:
    return frame.groupby(by, sort=True)[col].apply(
        lambda s: sum(s, decimal.Decimal(0)))


def derive_slice(tables: dict[str, pa.Table]) -> dict[str, pd.DataFrame]:
    """The report-model slice of the bench tables as pandas source frames:
    the derivation of ``plans.report_gate`` (its ``_CTES`` oracle and
    ``tally_catalog``) row for row, plus the sync columns a Tally extract
    carries. Masters get ``guid = <kind>-<name>``; every Primary row gets
    an AlterId in its group's counter (masters and vouchers count
    independently, as in Tally). The report gates' DuckDB oracles check
    this derivation on every run (``checks.report_oracles``)."""
    from tally_database_loader_spark.plans import report_gate as RG

    o = tables["orders"].to_pandas()
    c = tables["customer"].to_pandas()
    p = tables["part"].to_pandas()
    li = tables["lineitem"].to_pandas()
    vt = o["o_orderpriority"].map(dict(RG._VT_MAP))
    is_inv = vt.isin(RG._INV_TYPES)
    cname = dict(zip(c["c_custkey"], c["c_name"]))
    led_guid = {}

    v = pd.DataFrame({
        "guid": o["o_orderkey"].astype(str),
        "date": o["o_orderdate"].dt.date,
        "voucher_type": vt,
        "voucher_number": o["o_orderkey"].astype(str),
        "narration": "",
        "party_name": o["o_custkey"].map(cname),
        "is_accounting_voucher": np.where(is_inv, 0, 1),
        "is_order_voucher": np.where(o["o_orderstatus"] == "P", 1, 0),
        "is_inventory_voucher": np.where(is_inv, 1, 0)})

    brand = dict(zip(p["p_partkey"], p["p_brand"]))
    lb = li["l_partkey"].map(brand)
    ocust = dict(zip(o["o_orderkey"], o["o_custkey"]))
    lname = li["l_orderkey"].map(ocust).map(cname)
    lguid = li["l_orderkey"].astype(str)
    price = _dec(li["l_extendedprice"], "0.01")
    neg = [-x for x in price]
    ret = (li["l_returnflag"] == "R").to_numpy()
    signed = [x if r else -x for x, r in zip(price, ret)]
    n = len(li)
    acc = pd.DataFrame({
        "guid": np.concatenate([lguid] * 3),
        "ledger": np.concatenate([lname, "Sales: " + lb, ["Cash"] * n]),
        "amount": neg + price + signed})

    cust_led = pd.DataFrame({
        "name": c["c_name"], "parent": "Sundry Debtors",
        "opening_balance": _dec(c["c_acctbal"], "0.01"), "is_revenue": 0,
        "gstn": "GST" + c["c_custkey"].astype(str)})
    brands = sorted(p["p_brand"].unique())
    sales_led = pd.DataFrame({
        "name": ["Sales: " + b for b in brands], "parent": "Sales Accounts",
        "opening_balance": [decimal.Decimal("0.00")] * len(brands),
        "is_revenue": 1, "gstn": ""})
    pp = p.assign(rp=_dec(p["p_retailprice"], "0.01"),
                  sz=_dec(p["p_size"], "0.0001"))
    stock_val = _dsum(pp, "p_brand", "rp")
    stock_led = pd.DataFrame({
        "name": ["Stock: " + b for b in stock_val.index],
        "parent": "Stock-in-hand", "opening_balance": stock_val.to_list(),
        "is_revenue": 0, "gstn": ""})
    cash_led = pd.DataFrame({"name": ["Cash"], "parent": ["Cash-in-Hand"],
                             "opening_balance": [decimal.Decimal("0.00")],
                             "is_revenue": [0], "gstn": [""]})
    led = pd.concat([cust_led, sales_led, stock_led, cash_led],
                    ignore_index=True)

    cs = pd.DataFrame({"ledger": "Stock: " + lb,
                       "stock_date": li["l_shipdate"].dt.date,
                       "sv": price})
    cs = _dsum(cs, ["ledger", "stock_date"], "sv").reset_index()
    cs = cs.rename(columns={"sv": "stock_value"})

    qty = _dec(li["l_quantity"], "0.0001")
    inv = pd.DataFrame({
        "guid": lguid, "item": "Item: " + lb,
        "quantity": [q if r else -q for q, r in zip(qty, ret)],
        "amount": signed,
        "godown": "G" + (li["l_suppkey"] % 3).astype(str),
        "tracking_number": np.where(
            li["l_linenumber"] >= 4,
            "trk-" + li["l_orderkey"].astype(str) + "-"
            + li["l_partkey"].astype(str) + "-"
            + li["l_linenumber"].astype(str), "")})

    size = _dsum(pp, "p_brand", "sz")
    return _finish_slice(v, acc, led, cs, inv, stock_val, size, RG)


def _finish_slice(v, acc, led, cs, inv, stock_val, size, RG
                  ) -> dict[str, pd.DataFrame]:
    items = ["Item: " + b for b in size.index]
    out = {
        "mst_group": pd.DataFrame(
            RG._GROUP_ROWS, columns=["name", "parent", "primary_group",
                                     "is_revenue", "is_deemedpositive",
                                     "affects_gross_profit"]),
        "mst_ledger": led,
        "mst_vouchertype": pd.DataFrame(
            RG._VT_ROWS, columns=["name", "parent", "affects_stock"]
        ).assign(numbering_method="Manual"),
        "mst_stock_item": pd.DataFrame({
            "name": items, "parent": "Stock-in-hand", "uom": "Nos",
            "opening_balance": size.to_list()}),
        "mst_opening_batch_allocation": pd.DataFrame({
            "item": items, "opening_balance": size.to_list(),
            "opening_value": stock_val.to_list(), "godown": "G0"}),
        "trn_closingstock_ledger": cs,
        "trn_voucher": v, "trn_accounting": acc, "trn_inventory": inv}
    # sync columns: GUIDs for masters, the two AlterId counters, and the
    # GUID foreign keys the cascade-update edges repair through
    led = out["mst_ledger"].sort_values("name", kind="stable") \
        .reset_index(drop=True)
    led["guid"] = "ledger-" + led["name"]
    led["alterid"] = np.arange(1, len(led) + 1, dtype="int64")
    out["mst_ledger"] = led
    g = dict(zip(led["name"], led["guid"]))
    v = v.sort_values("guid", key=lambda s: s.astype("int64"),
                      kind="stable").reset_index(drop=True)
    v["_party_name"] = v["party_name"].map(g)
    v["alterid"] = np.arange(1, len(v) + 1, dtype="int64")
    out["trn_voucher"] = v
    out["trn_accounting"] = acc.assign(_ledger=acc["ledger"].map(g))
    return {name: out[name][COLUMNS[name]].reset_index(drop=True)
            for name in TABLES}


_ARROW = {"text": pa.string(), "logical": pa.int32(), "date": pa.date32(),
          "number": pa.int64(), "amount": pa.decimal128(17, 2),
          "quantity": pa.decimal128(15, 4)}


def arrow(name: str, frame: pd.DataFrame) -> pa.Table:
    """A source frame as Arrow with its definition's column types."""
    return pa.Table.from_pandas(
        frame[COLUMNS[name]], preserve_index=False,
        schema=pa.schema([(c, _ARROW[t]) for c, t in TYPES[name].items()]))


def to_spark(spark, name: str, frame: pd.DataFrame):
    return spark.createDataFrame(arrow(name, frame))


# -- TDL-XML response dumps ---------------------------------------------------

def _cell(v, ftype: str) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "ñ" if ftype == "date" else ""
    if ftype == "date":
        return v.isoformat() if hasattr(v, "isoformat") else str(v)
    if ftype in ("logical", "number"):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    s = str(v)
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def dump_xml(frame: pd.DataFrame, types: dict[str, str]) -> str:
    """One TDL response envelope: a row is ``<F01>v</F01><F02>v</F02>…``
    (the shape the TDL program of ``generate_tdl_xml`` returns)."""
    cols = list(types)
    tags = [(f"<F{i:02d}>", f"</F{i:02d}>") for i in range(1, len(cols) + 1)]
    conv = [(frame[c].tolist(), types[c]) for c in cols]
    rows = []
    for r in range(len(frame)):
        rows.append("".join(o + _cell(vals[r], t) + c
                            for (vals, t), (o, c) in zip(conv, tags)))
    return "<ENVELOPE>\r\n" + "\r\n".join(rows) + "\r\n</ENVELOPE>\r\n"


def write_dumps(frames: dict[str, pd.DataFrame], dumpdir: str) -> int:
    """Write ``{table}.xml`` per frame; returns the bytes written."""
    os.makedirs(dumpdir, exist_ok=True)
    total = 0
    for name, frame in frames.items():
        data = dump_xml(frame, TYPES[name]).encode("utf-8")
        with open(os.path.join(dumpdir, f"{name}.xml"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


# -- CDC batch sequence ----------------------------------------------------------

class CdcSequence:
    """Seeded CDC batches over the slice. ``apply(i)`` edits the source
    frames in place and returns the guids each table's batch touched —
    the bucket-audit bound of the E-protocol.

    The batch is the clustered CDC shape of
    ``tools_scale_10x.build_tally_frames(clustered=True, span=400,
    inserts=30)``, the 400-voucher batch measured against sf0.1's 150 000
    orders, scaled to the slice's voucher count: the ``tail`` most recent
    vouchers (highest AlterIds) are all mutated, alternately modified and
    deleted, and ``inserts`` new vouchers arrive. At 1 500 vouchers that is
    a tail of 4 and one insert. Like that shape, a batch renames no
    master. ``apply(i, rename=True)`` adds the minority shape: one
    renamed customer ledger, which the engine must push into
    ``trn_accounting.ledger`` and ``trn_voucher.party_name`` through the
    cascade-update edges."""

    SF01_ORDERS, SF01_TAIL, SF01_INSERTS = 150_000, 400, 30

    def __init__(self, frames: dict[str, pd.DataFrame], seed: int):
        self.f = frames
        self.rng = np.random.default_rng(seed + 7919)
        n = len(frames["trn_voucher"])
        self.tail = max(2, round(self.SF01_TAIL * n / self.SF01_ORDERS))
        self.inserts = max(1, round(self.SF01_INSERTS * n / self.SF01_ORDERS))
        self.next_vid = int(frames["trn_voucher"]["guid"].astype("int64")
                            .max()) + 1

    def _max_alter(self, names) -> int:
        return int(max(self.f[n]["alterid"].max() for n in names))

    def apply(self, i: int, rename: bool = False) -> dict[str, set[str]]:
        f = self.f
        v = f["trn_voucher"]
        t_alter = self._max_alter(["trn_voucher"])
        tail = v.sort_values("alterid").index.to_numpy()[-self.tail:]
        mod_idx, del_idx = tail[0::2], tail[1::2]
        mod_g = set(v.loc[mod_idx, "guid"])
        del_g = set(v.loc[del_idx, "guid"])

        # modify: narration edit + a one-unit amount move between the
        # voucher's ledger lines, re-stamped with fresh AlterIds
        v.loc[mod_idx, "narration"] = f"edited in batch {i}"
        v.loc[mod_idx, "alterid"] = np.arange(t_alter + 1,
                                              t_alter + 1 + len(mod_idx))
        a = f["trn_accounting"]
        one = decimal.Decimal("1.00")
        for g in mod_g:
            rows = a.index[a["guid"] == g]
            if len(rows) >= 2:
                a.at[rows[0], "amount"] = a.at[rows[0], "amount"] - one
                a.at[rows[1], "amount"] = a.at[rows[1], "amount"] + one

        # delete: the voucher and its children disappear from the source
        f["trn_voucher"] = v = v.drop(index=del_idx)
        for child in ("trn_accounting", "trn_inventory"):
            c = f[child]
            f[child] = c[~c["guid"].isin(del_g)]

        # insert: new vouchers in the report period, each with a
        # customer, sales and cash ledger line and one inventory line
        touched_v = mod_g | del_g | self._insert(i, t_alter + len(mod_idx))
        touched = {"trn_voucher": set(touched_v),
                   "trn_accounting": set(touched_v),
                   "trn_inventory": set(touched_v),
                   "mst_ledger": set()}
        if rename:
            led_g, vch_g, acc_g = self._rename(i)
            touched["trn_voucher"] |= vch_g
            touched["trn_accounting"] |= acc_g
            touched["mst_ledger"] = {led_g}
        for name in ("trn_voucher", "trn_accounting", "trn_inventory"):
            f[name] = f[name].reset_index(drop=True)
        return touched

    def _insert(self, i: int, t_alter: int) -> set[str]:
        f, rng = self.f, self.rng
        led = f["mst_ledger"]
        cust = led[led["parent"] == "Sundry Debtors"]
        sales = led[led["parent"] == "Sales Accounts"]
        items = f["mst_stock_item"]["name"].tolist()
        vts = ["Sales Invoice", "Purchase Invoice", "Journal"]
        vrows, arows, irows = [], [], []
        out = set()
        for k in range(self.inserts):
            g = str(self.next_vid)
            self.next_vid += 1
            out.add(g)
            c = cust.iloc[int(rng.integers(0, len(cust)))]
            s = sales.iloc[int(rng.integers(0, len(sales)))]
            day = datetime.date(1995, 1, 1) + datetime.timedelta(
                days=int(rng.integers(0, 365)))
            amt = decimal.Decimal(int(rng.integers(100, 500000))) / 100
            vrows.append({"guid": g, "date": day,
                          "voucher_type": vts[int(rng.integers(0, 3))],
                          "voucher_number": g,
                          "narration": f"inserted in batch {i}",
                          "party_name": c["name"], "_party_name": c["guid"],
                          "is_accounting_voucher": 1, "is_order_voucher": 0,
                          "is_inventory_voucher": 0,
                          "alterid": t_alter + 1 + k})
            arows += [{"guid": g, "ledger": c["name"], "_ledger": c["guid"],
                       "amount": -amt},
                      {"guid": g, "ledger": s["name"], "_ledger": s["guid"],
                       "amount": amt},
                      {"guid": g, "ledger": "Cash", "_ledger": "ledger-Cash",
                       "amount": -amt}]
            irows.append({"guid": g, "item": items[int(rng.integers(
                0, len(items)))], "quantity": -decimal.Decimal(
                int(rng.integers(1, 50))), "amount": -amt,
                "godown": "G1", "tracking_number": ""})
        for name, rows in (("trn_voucher", vrows), ("trn_accounting", arows),
                           ("trn_inventory", irows)):
            f[name] = pd.concat([f[name], pd.DataFrame(rows)[COLUMNS[name]]],
                                ignore_index=True)
        return out

    def _rename(self, i: int) -> tuple[str, set[str], set[str]]:
        f, rng = self.f, self.rng
        led = f["mst_ledger"]
        # never Customer#000000001: the account-ledger report reads it
        cands = led.index[(led["parent"] == "Sundry Debtors")
                          & (led["name"] != "Customer#000000001")]
        j = cands[int(rng.integers(0, len(cands)))]
        g, old = led.at[j, "guid"], led.at[j, "name"]
        new = f"{old} R{i}"
        led.at[j, "name"] = new
        led.at[j, "alterid"] = self._max_alter(["mst_ledger"]) + 1
        v, a = f["trn_voucher"], f["trn_accounting"]
        vm = v["_party_name"] == g
        v.loc[vm, "party_name"] = new
        am = a["_ledger"] == g
        a.loc[am, "ledger"] = new
        return g, set(v.loc[vm, "guid"]), set(a.loc[am, "guid"])
