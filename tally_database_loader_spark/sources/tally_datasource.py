"""`spark.read.format("tally")` — a Python Data Source (Spark 4 API) for
Tally tables with **filter pushdown into the TDL program** and
**date-sliced parallel extraction**.

This is the Spark-idiomatic form of the reference's two source-side
optimizations (SURVEY §2.C6/C7, §4):

- the reference compiles YAML ``filters:`` into ``<FILTER>`` clauses the
  Tally server evaluates (reference src/tally.mts:697-710) — here,
  Catalyst hands the query's own predicates to ``pushFilters`` and the
  supported ones are compiled into extra TDL ``SYSTEM Formulae``, so a
  ``WHERE`` written in Spark SQL reaches the source exactly like a YAML
  filter would;
- the reference bounds Tally RAM by running *manual* year-wise batches
  sequentially (reference docs/commandline-options.md:32-40) — here the
  year slices ARE the input partitions, so a cluster pulls all years in
  parallel, one HTTP exchange per executor task.

Two modes, selected by options:

- ``url`` — live mode: each partition POSTs its own date-sliced TDL
  program (UTF-16LE, via sources/tally_http.py) and parses the response.
- ``path`` — dump mode: each ``.xml`` response dump in the directory (or
  the single file) is one partition, parsed executor-side.

Accepted pushed filters are ALSO re-applied during parsing, so results
are correct even against a server that ignores ``<FILTER>`` (and the
double evaluation is free at this row volume).

For bulk dump parsing prefer ``tally_xml.read_tdl_response`` (JVM-side,
whole-stage codegen); this source is the *connector* surface — pushdown,
slicing, `format()` UX — matching the reference's extraction pipeline.
"""

from __future__ import annotations

import datetime
import decimal
import re
from collections.abc import Iterable, Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader, EqualTo,
                                    Filter, GreaterThan, GreaterThanOrEqual,
                                    In, InputPartition, IsNotNull, LessThan,
                                    LessThanOrEqual, StringContains)
from pyspark.sql.types import StructType

from .registry import TableSpec, default_tables
from .tally_xml import _ENTITIES, _NULL_DATE, DATE_WINDOW

# ASCII classes, as in the JVM regexes of tally_xml.read_tdl_response
_END_TAG = re.compile(r"</F\d+>", re.ASCII)
_START_TAG = re.compile(r"\s*<F\d+>", re.ASCII)
_NUMREF = re.compile(r"&#\d+;", re.ASCII)


class _Slice(InputPartition):
    def __init__(self, from_date: str | None, to_date: str | None,
                 path: str | None):
        self.from_date = from_date
        self.to_date = to_date
        self.path = path


def _decode_cell(raw: str, ftype: str):
    """One cell decoded as ``tally_xml.read_tdl_response`` decodes it: only
    spaces are trimmed, a number must be an integer, and decimals round
    half up (Spark's string casts)."""
    v = raw.strip(" ")
    if ftype in ("text", "custom"):
        return v
    if ftype == "logical":
        return int(v) if v else None
    if ftype == "date":
        if not v or v == _NULL_DATE:
            return None
        return datetime.date.fromisoformat(v)
    if ftype == "number":
        return int(v) if v else 0
    if ftype in ("amount", "quantity", "rate"):
        if not v:  # NULL, as tally_xml.read_tdl_response decodes it
            return None
        q = "0.01" if ftype == "amount" else "0.0001"
        return decimal.Decimal(v).quantize(decimal.Decimal(q),
                                           rounding=decimal.ROUND_HALF_UP)
    return v


def _parse_rows(text: str, spec: TableSpec) -> Iterator[tuple]:
    """The reference's XML→rows rewrite (src/tally.mts:514-539) as a
    per-partition Python parse: split on <F01> records, strip end tags,
    split on start tags, unescape entities, decode per type. A record
    without a field end tag (the envelope header) is skipped; a short
    record is padded with NULLs."""
    for rec in text.split("<F01>"):
        if "</F" not in rec:
            continue
        rec = rec.replace("\r", "").replace("\n", "").replace("\t", " ")
        rec = rec.replace("</ENVELOPE>", "").replace("<FLDBLANK></FLDBLANK>", "")
        rec = _END_TAG.sub("", rec)
        cells = _START_TAG.split(rec)
        row = []
        for f, cell in zip(spec.fields, cells):
            for pat, rep in _ENTITIES:
                cell = cell.replace(pat, rep)
            cell = _NUMREF.sub("", cell)
            row.append(_decode_cell(cell, f.type))
        row.extend(None for _ in range(len(spec.fields) - len(row)))
        yield tuple(row)


def _tdl_number(v) -> str | None:
    """Render a literal for an unquoted comparison — finite numerics in
    plain notation only. A bare date/string token would be evaluated as
    arithmetic by TDL, and str(float) can emit scientific notation
    ('1e-05') or 'inf'/'nan', none of which TDL parses as numbers."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, decimal.Decimal)):
        s = str(v)
        return None if any(c in s for c in "eEnN") else s
    if isinstance(v, float):
        import math
        if not math.isfinite(v):
            return None
        s = repr(v)
        return None if "e" in s or "E" in s else s
    return None


def _tdl_quoted(v) -> str | None:
    """Render a literal for a quoted TDL context ($$IsEqual / contains).
    None when no safe rendering exists — an embedded double quote would
    break out of the formula, XML metacharacters (&, <, >) would be
    embedded unescaped into the <SYSTEM> element and corrupt the whole
    request, and date/binary encodings are server-version-dependent;
    those filters stay client-side instead of risking a malformed
    formula that over-filters rows the re-check can never restore."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, decimal.Decimal)):
        return _tdl_number(v)
    if isinstance(v, str) and not any(c in v for c in '"<>&'):
        return v
    return None


def _tdl_formula(spec: TableSpec, f: Filter) -> str | None:
    """Compile one Catalyst filter into a TDL SYSTEM formula — the same
    constructs the reference's YAML filters use. Returns None when the
    filter shape OR its literal has no safe TDL encoding (Spark then
    applies it post-scan); a pushed formula must be equal-or-weaker than
    the predicate, never stronger, because rows the server drops are
    gone for good."""
    try:
        (col,) = f.attribute  # nested paths unsupported
    except (ValueError, AttributeError):
        return None
    fld = next((x for x in spec.fields if x.name == col), None)
    if fld is None:
        return None
    # only simple '$Identifier' fields push down — a computed expr (the
    # if/then parent normalization, $$-function fields) pasted into
    # '$$IsEqual:$<expr>:"v"' is nonsense TDL that over-filters
    if not re.fullmatch(r"\$[A-Za-z0-9_.]+", fld.expr):
        return None
    # only TEXT fields push down: every other type's <SET> encoding
    # rewrites the raw value (logical Yes/No → 1/0, amount/quantity sign
    # flips via $$IsDebit/$$IsInwards, date ñ-sentinel, number empty→"0"),
    # so a server formula over the RAW field is evaluated against
    # different values than Spark's predicate over the ENCODED output —
    # e.g. `is_revenue == 1` would push `$$IsEqual:$IsRevenue:"1"` and
    # match nothing (the server sees Yes/No), dropping rows the client
    # re-check can never restore. Text's SET is the identity, so raw ==
    # encoded and equality/membership/contains are exact. (IsNotNull is
    # excluded even for text: empty text extracts as '', which is NOT
    # NULL to Spark, but `NOT $$IsEmpty` would drop it server-side.)
    if fld.type != "text":
        return None
    src = fld.expr.lstrip("$")
    if isinstance(f, EqualTo):
        v = _tdl_quoted(f.value)
        return None if v is None else f'$$IsEqual:${src}:"{v}"'
    if isinstance(f, In):
        vals = [_tdl_quoted(v) for v in f.value]
        if any(v is None for v in vals):
            return None
        alts = " OR ".join(f'$$IsEqual:${src}:"{v}"' for v in vals)
        return f"({alts})"
    if isinstance(f, StringContains):
        # caseless server-side (a SUPERSET of Spark's case-sensitive
        # contains — weaker is safe); the exact case-sensitive re-check
        # happens client-side in _py_pred
        v = _tdl_quoted(f.value)
        return None if v is None else f'$$StringContainsCaseless:${src}:"{v}"'
    return None


def _py_pred(f: Filter, idx: dict[str, int]):
    (col,) = f.attribute
    i = idx[col]
    if isinstance(f, EqualTo):
        return lambda r: r[i] == f.value
    if isinstance(f, In):
        vals = set(f.value)
        return lambda r: r[i] in vals
    if isinstance(f, GreaterThan):
        return lambda r: r[i] is not None and r[i] > f.value
    if isinstance(f, GreaterThanOrEqual):
        return lambda r: r[i] is not None and r[i] >= f.value
    if isinstance(f, LessThan):
        return lambda r: r[i] is not None and r[i] < f.value
    if isinstance(f, LessThanOrEqual):
        return lambda r: r[i] is not None and r[i] <= f.value
    if isinstance(f, IsNotNull):
        return lambda r: r[i] is not None
    if isinstance(f, StringContains):
        # CASE-SENSITIVE, matching Spark's StringContains exactly — this
        # re-check is the only filter Spark sees for a pushed contains
        # (pushed filters are not re-applied by the engine), and the
        # server side is deliberately the caseless superset
        return lambda r: r[i] is not None and f.value in str(r[i])
    return lambda r: True


class TallyReader(DataSourceReader):
    def __init__(self, options: dict, spec: TableSpec):
        self.options = options
        self.spec = spec
        self.pushed: list[Filter] = []

    # -- C6: predicate pushdown into the TDL program ----------------------
    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        for f in filters:
            if _tdl_formula(self.spec, f) is not None:
                self.pushed.append(f)
            else:
                yield f  # unsupported — Spark evaluates it post-scan

    # -- partitions: year slices (live) or dump files ---------------------
    def partitions(self) -> list[InputPartition]:
        path = self.options.get("path")
        if path:
            import os
            if os.path.isdir(path):
                files = sorted(os.path.join(path, p) for p in os.listdir(path)
                               if p.endswith(".xml"))
            else:
                files = [path]
            return [_Slice(None, None, p) for p in files]
        lo = self.options.get("from_date", DATE_WINDOW[0])
        hi = self.options.get("to_date", DATE_WINDOW[1])
        if self.options.get("slice", "year") != "year":
            return [_Slice(lo, hi, None)]
        y0, y1 = int(lo[:4]), int(hi[:4])
        out = []
        for y in range(y0, y1 + 1):
            a = lo if y == y0 else f"{y}-01-01"
            b = hi if y == y1 else f"{y}-12-31"
            out.append(_Slice(a, b, None))
        return out

    def read(self, partition: _Slice) -> Iterator[tuple]:
        from .tally_http import post_tally_xml
        from .tally_xml import generate_tdl_xml, substitute_parameters

        if partition.path:
            with open(partition.path, encoding="utf-8") as fh:
                text = fh.read()
        else:
            import dataclasses
            spec = self.spec
            extra = [x for x in (_tdl_formula(spec, f) for f in self.pushed)
                     if x is not None]
            sliced = dataclasses.replace(
                spec, filters=list(spec.filters) + extra)
            xml = generate_tdl_xml(sliced,
                                   company=self.options.get("company"))
            xml = substitute_parameters(xml, {
                "fromDate": datetime.date.fromisoformat(partition.from_date),
                "toDate": datetime.date.fromisoformat(partition.to_date),
                "targetCompany": self.options.get("company",
                                                  "##SVCurrentCompany"),
            })
            text = post_tally_xml(self.options["url"], xml)

        idx = {f.name: i for i, f in enumerate(self.spec.fields)}
        preds = [_py_pred(f, idx) for f in self.pushed]
        for row in _parse_rows(text, self.spec):
            if all(p(row) for p in preds):
                yield row


class TallyDataSource(DataSource):
    """``spark.read.format("tally").option("table", "mst_ledger")
    .option("url", "http://host:9000")`` (live, year-sliced partitions) or
    ``.option("path", "/dumps/mst_ledger")`` (response dumps)."""

    @classmethod
    def name(cls) -> str:
        return "tally"

    def _spec(self) -> TableSpec:
        import dataclasses
        table = self.options.get("table")
        if not table:
            raise ValueError("option 'table' is required")
        specs = default_tables()
        if table not in specs:
            raise ValueError(f"unknown table {table!r}")
        spec = specs[table]
        if str(self.options.get("with_alterid", "false")).lower() == "true" \
                and not any(f.name == "alterid" for f in spec.fields):
            spec = dataclasses.replace(
                spec, fields=list(spec.fields)
                + [FieldSpec("alterid", "$AlterId", "number")])
        return spec

    def schema(self) -> StructType:
        return self._spec().struct_type()

    def reader(self, schema: StructType) -> TallyReader:
        return TallyReader(dict(self.options), self._spec())

    def simpleStreamReader(self, schema: StructType) -> "TallyStreamReader":
        return TallyStreamReader(dict(self.options), self._spec())


def register(spark) -> None:
    """Make ``format('tally')`` available on this session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TallyDataSource)


# ---------------------------------------------------------------------------
# Structured Streaming source: AlterId offsets (SURVEY H1/H2 made native)
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402

from .registry import FieldSpec  # noqa: E402

# Both counters in one probe report, as the reference does
# (src/tally.mts:410 probes $AltMstId AND $AltVchId together): masters
# and vouchers advance on separate AlterId sequences, so gating a trn_*
# stream on the master counter would silently drop vouchers until an
# unrelated master edit happened to push AltMstId past them.
_PROBE_SPEC = TableSpec("alterid_probe", "Company",
                        [FieldSpec("alterid_master", "$AltMstId", "number"),
                         FieldSpec("alterid_voucher", "$AltVchId", "number")])


class TallyStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("tally")`` — the reference's polling loop
    (src/index.mts:55-88) as a real Structured Streaming source.

    The offset IS the AlterId watermark: each micro-batch probes the
    server's max AlterId (reference src/tally.mts:406-446); when
    unchanged, the batch is empty (H2's change gate, now engine-native);
    when advanced, rows with ``$AlterID > start`` are pulled — the C8
    dynamic filter — and the new AlterId becomes the committed offset.
    ``readBetweenOffsets`` refetches a closed (start, end] window, which
    is what makes checkpoint replay exactly-once."""

    def __init__(self, options: dict, spec: TableSpec):
        self.options = options
        self.spec = spec
        self._aid = next((i for i, f in enumerate(spec.fields)
                          if f.name == "alterid"), None)
        if self._aid is None:
            raise ValueError(
                "streaming needs the alterid column: pass "
                ".option('with_alterid', 'true')")

    def initialOffset(self) -> dict:
        return {"alterid": int(self.options.get("start_alterid", 0))}

    def _probe(self) -> int:
        """Max AlterId of the counter this table advances on — chosen by
        the COLLECTION ROOT, not the table-name prefix: rows of
        Voucher-rooted collections carry voucher-sequence AlterIds,
        everything else (Ledger/StockItem/... roots — including
        trn_closingstock_ledger, which is Ledger-rooted despite its
        trn_ name) advances on the master counter."""
        from .tally_http import post_tally_xml
        from .tally_xml import generate_tdl_xml
        text = post_tally_xml(self.options["url"],
                              generate_tdl_xml(_PROBE_SPEC))
        root = self.spec.collection.split(".", 1)[0]
        col = 1 if root == "Voucher" else 0
        for row in _parse_rows(text, _PROBE_SPEC):
            return int(row[col] or 0)
        return 0

    def _fetch(self, lo: int, hi: int | None) -> list[tuple]:
        import dataclasses

        from .tally_http import post_tally_xml
        from .tally_xml import generate_tdl_xml, substitute_parameters
        extra = [f"$AlterId > {lo}"] + ([f"$AlterId <= {hi}"] if hi else [])
        sliced = dataclasses.replace(
            self.spec, filters=list(self.spec.filters) + extra)
        xml = substitute_parameters(
            generate_tdl_xml(sliced, company=self.options.get("company")),
            {"fromDate": datetime.date.fromisoformat(
                self.options.get("from_date", DATE_WINDOW[0])),
             "toDate": datetime.date.fromisoformat(
                self.options.get("to_date", DATE_WINDOW[1])),
             "targetCompany": self.options.get("company",
                                               "##SVCurrentCompany")})
        text = post_tally_xml(self.options["url"], xml)
        i = self._aid
        # materialized, not a generator: the runner prefetches micro-batch
        # records driver-side and pickles them into the plan — a changed-set
        # is bounded by AlterId churn, so this is a small list by design
        return [row for row in _parse_rows(text, self.spec)
                if row[i] is not None and row[i] > lo
                and (hi is None or row[i] <= hi)]

    def read(self, start: dict):
        cur = self._probe()
        last = int(start["alterid"])
        if cur <= last:  # H2 change gate: nothing new, empty batch
            return iter(()), start
        return iter(self._fetch(last, cur)), {"alterid": cur}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._fetch(int(start["alterid"]), int(end["alterid"])))
