"""Tally XML source (SURVEY §2.A1-A3): TDL request compiler, runtime
parameter substitution, and a distributed reader for Tally's TDL response
XML.

The reference extracts by POSTing a compiled TDL-XML program to Tally's
HTTP server (reference src/tally.mts:448-490), then rewrites the response
text into TSV with 14 sequential regex passes (src/tally.mts:514-539).
Spark-first equivalents:

- ``generate_tdl_xml``  — same YAML-spec → TDL program compilation
  (reference src/tally.mts:614-718): one PART/LINE pair per nesting level
  of the collection path, per-type ``<SET>`` encodings, ``<FETCH>`` column
  pruning, ``<FILTER>`` formulae. Produced so users can still drive a live
  Tally; the HTTP POST itself stays a driver-side concern (a single
  request, not data-parallel work).
- ``substitute_parameters`` — ``{fromDate}`` / ``{toDate}`` /
  ``{targetCompany}`` substitution with the reference's formatting rules
  (src/tally.mts:492-512): dates ``d-MMM-yyyy``, booleans Yes/No, strings
  HTML-escaped.
- ``read_tdl_response`` — the D1 rewrite pipeline as a *distributed SQL
  projection*: the response is read with ``lineSep='<F01>'`` so Spark
  splits the file into one record per row **at read time** (no whole-file
  buffering, unlike the reference's single in-memory string), then end-tag
  stripping / field splitting / entity unescaping / typed decoding all run
  as JVM-side expressions inside whole-stage codegen. The plan is written
  as SQL text, so building it costs about 20 JVM calls plus one per
  field. A 100 GB dump parses partition-parallel; a record with
  fewer cells than the spec has fields parses with NULLs in the rest.

Typed decoding (SURVEY §2.D5, reference src/database.mts:81-119): the
ñ sentinel (char 241, emitted for empty dates by the TDL date encoding at
src/tally.mts:665-666) decodes to NULL; logical arrives 0/1; amounts/
quantities carry their sign conventions already applied at the source.
"""

from __future__ import annotations

import datetime
import html
import re

from pyspark.sql import DataFrame, SparkSession

from .registry import TableSpec

_NULL_DATE = "ñ"  # ñ — reference $$StrByCharCode:241

# the extraction window (ISO dates) that the CLI's
# ``tally.fromdate``/``todate: auto`` stands for
DATE_WINDOW = ("1990-01-01", "2099-12-31")

# per-type SET expression the TDL program evaluates inside Tally
# (reference src/tally.mts:660-676); kept data-identical so dumps produced
# by either tool interchange.
_SET_BY_TYPE = {
    "text": "$%s",
    "logical": "if $%s then 1 else 0",
    "date": 'if $$IsEmpty:$%s then $$StrByCharCode:241'
            ' else $$PyrlYYYYMMDDFormat:$%s:"-"',
    "number": 'if $$IsEmpty:$%s then "0" else $$String:$%s',
    "amount": '$$StringFindAndReplace:(if $$IsDebit:$%s then'
              ' -$$NumValue:$%s else $$NumValue:$%s):"(-)":"-"',
    "quantity": '$$StringFindAndReplace:(if $$IsInwards:$%s then'
                ' $$Number:$$String:$%s:"TailUnits" else'
                ' -$$Number:$$String:$%s:"TailUnits"):"(-)":"-"',
    "rate": 'if $$IsEmpty:$%s then 0 else $$Number:$%s',
}

_SIMPLE_FIELD = re.compile(r"^(\.\.)?[a-zA-Z0-9_]+$")


def generate_tdl_xml(spec: TableSpec, company: str | None = None) -> str:
    """Compile a ``TableSpec`` into the TDL REPORT/FORM/PART/LINE/FIELD/
    COLLECTION request program (A2). Nesting levels of ``spec.collection``
    become chained PART→LINE→EXPLODE pairs; the innermost LINE carries the
    field list."""
    routes = spec.collection.split(".")
    root, nested = routes[0], routes[1:]
    levels = ["MyCollection", *nested]

    head = (
        '<?xml version="1.0" encoding="utf-8"?><ENVELOPE><HEADER>'
        "<VERSION>1</VERSION><TALLYREQUEST>Export</TALLYREQUEST>"
        "<TYPE>Data</TYPE><ID>TallySparkExport</ID></HEADER><BODY><DESC>"
        "<STATICVARIABLES>"
        "<SVEXPORTFORMAT>XML (Data Interchange)</SVEXPORTFORMAT>"
        "<SVFROMDATE>{fromDate}</SVFROMDATE><SVTODATE>{toDate}</SVTODATE>"
    )
    if company is not None:
        head += ("<SVCURRENTCOMPANY>"
                 + html.escape(company, quote=True) + "</SVCURRENTCOMPANY>")
    head += ("</STATICVARIABLES><TDL><TDLMESSAGE>"
             '<REPORT NAME="TallySparkExport"><FORMS>MyForm</FORMS></REPORT>'
             '<FORM NAME="MyForm"><PARTS>MyPart01</PARTS></FORM>')

    parts = []
    for i, route in enumerate(levels, start=1):
        parts.append(f'<PART NAME="MyPart{i:02d}"><LINES>MyLine{i:02d}</LINES>'
                     f"<REPEAT>MyLine{i:02d} : {route}</REPEAT>"
                     "<SCROLLED>Vertical</SCROLLED></PART>")
    lines = []
    for i in range(1, len(levels)):  # outer levels explode into the next part
        lines.append(f'<LINE NAME="MyLine{i:02d}"><FIELDS>FldBlank</FIELDS>'
                     f"<EXPLODE>MyPart{i + 1:02d}</EXPLODE></LINE>")

    fld_names = ",".join(f"Fld{i:02d}" for i in range(1, len(spec.fields) + 1))
    lines.append(f'<LINE NAME="MyLine{len(levels):02d}">'
                 f"<FIELDS>{fld_names}</FIELDS></LINE>")

    fields = []
    for i, f in enumerate(spec.fields, start=1):
        if _SIMPLE_FIELD.match(f.expr.lstrip("$")) and f.expr.startswith("$") \
                and f.type in _SET_BY_TYPE:
            name = f.expr.lstrip("$")
            set_expr = _SET_BY_TYPE[f.type].replace("%s", name)
        else:
            set_expr = f.expr  # custom / complex: passed through verbatim
        fields.append(f'<FIELD NAME="Fld{i:02d}"><SET>{set_expr}</SET>'
                      f"<XMLTAG>F{i:02d}</XMLTAG></FIELD>")
    fields.append('<FIELD NAME="FldBlank"><SET>""</SET></FIELD>')

    coll = [f'<COLLECTION NAME="MyCollection"><TYPE>{root}</TYPE>']
    if spec.fetch:
        coll.append(f"<FETCH>{','.join(spec.fetch)}</FETCH>")
    if spec.filters:
        flt_names = ",".join(f"Fltr{j:02d}"
                             for j in range(1, len(spec.filters) + 1))
        coll.append(f"<FILTER>{flt_names}</FILTER>")
    coll.append("</COLLECTION>")
    for j, flt in enumerate(spec.filters, start=1):
        # XML-escape the formula CONTENT: comparison filters carry bare
        # '<' / '<=' (the C8 dynamic `$AlterId <= N`, user less-thans),
        # which is ill-formed inside an element — a conforming parser
        # rejects the whole request. Tally's XML layer decodes the
        # entities back before evaluating the formula.
        esc = (flt.replace("&", "&amp;").replace("<", "&lt;")
                  .replace(">", "&gt;"))
        coll.append(f'<SYSTEM TYPE="Formulae" NAME="Fltr{j:02d}">{esc}</SYSTEM>')

    return (head + "".join(parts) + "".join(lines) + "".join(fields)
            + "".join(coll) + "</TDLMESSAGE></TDL></DESC></BODY></ENVELOPE>")


def substitute_parameters(xml: str, subs: dict) -> str:
    """Runtime parameter substitution (A3): replace ``{key}`` placeholders
    with per-type formatted values (reference src/tally.mts:492-512)."""
    out = xml
    for key, val in subs.items():
        if isinstance(val, bool):
            rep = "Yes" if val else "No"
        elif isinstance(val, (datetime.date, datetime.datetime)):
            rep = val.strftime("%-d-%b-%Y")
        elif isinstance(val, (int, float)):
            rep = str(val)
        else:
            rep = html.escape(str(val), quote=True)
        out = out.replace("{" + key + "}", rep)
    return out


def _lit(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# entity unescape in the reference's order (src/tally.mts:525-531); every
# pattern holds '&', so a cell without one skips the chain
_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&apos;", "'"), ("&tab;", ""))

_ENVELOPE_END = _lit(r"</ENVELOPE>\s*$")
_END_TAG = _lit(r"</F\d+>")
_START_TAG = _lit(r"\s*<F\d+>")
_NUMREF = _lit(r"&#\d+;")

# typed decode of one trimmed text cell ``{0}`` (D5); an empty date cell
# decodes like the ñ sentinel
_DECODE = {
    "date": "CAST(nullif(nullif({0}, %s), '') AS DATE)" % _lit(_NULL_DATE),
    "logical": "CAST(nullif({0}, '') AS INT)",
    "number": "CAST(CASE WHEN {0} = '' THEN '0' ELSE {0} END AS BIGINT)",
    "amount": "CAST(nullif({0}, '') AS DECIMAL(17,2))",
    "quantity": "CAST(nullif({0}, '') AS DECIMAL(15,4))",
    "rate": "CAST(nullif({0}, '') AS DECIMAL(15,4))",
}


def _field(i: int, ftype: str) -> str:
    """SQL for field ``i`` of the ``cells`` array: unescape, trim, decode.
    ``get`` past the end of a short record is NULL, and so is the field."""
    cell = f"get(cells, {i})"
    chain = cell
    for pat, rep in _ENTITIES:
        chain = f"replace({chain}, {_lit(pat)}, {_lit(rep)})"
    chain = f"regexp_replace({chain}, {_NUMREF}, '')"
    text = (f"trim(CASE WHEN instr({cell}, '&') = 0 THEN {cell}"
            f" ELSE {chain} END)")
    return _DECODE.get(ftype, "{0}").format(text)


def read_tdl_response(spark: SparkSession, path: str,
                      spec: TableSpec) -> DataFrame:
    """Parse a Tally TDL response XML file into a typed DataFrame (A1+D1).

    ``lineSep='<F01>'`` makes the scan itself emit one record per data row,
    so parsing scales with partitions instead of driver memory. The record
    text then looks like ``v1</F01><F02>v2</F02>…`` and the reference's 14
    regex passes (src/tally.mts:514-539) become one filter and two SQL
    projections: the first cleans the record and splits it into cells, the
    second unescapes, trims and casts each field. Literal patterns are
    ``replace`` calls; the only regexes left are the end-tag strip, the
    start-tag split, the numeric-entity strip (on cells holding '&') and
    the ``</ENVELOPE>`` strip (on the one record holding it). The plan is
    built from SQL text: about 20 JVM calls plus one per field, where a
    ``Column``-at-a-time build makes dozens per field.

    A record with fewer cells than ``spec`` has fields is kept: its missing
    fields are NULL, whatever their type.
    """
    # record 0 is the envelope header (no </F01> terminator on its text);
    # data records all contain at least one field end tag.
    rows = (spark.read.option("lineSep", "<F01>").text(path)
            .where("instr(value, '</F') > 0"))
    # line breaks dropped, tabs → space, then the end-of-envelope strip
    clean = "replace(replace(replace(value, '\\r', ''), '\\n', ''), '\\t', ' ')"
    clean = (f"CASE WHEN instr({clean}, '</ENVELOPE>') = 0 THEN {clean}"
             f" ELSE regexp_replace({clean}, {_ENVELOPE_END}, '') END")
    clean = f"replace({clean}, '<FLDBLANK></FLDBLANK>', '')"
    clean = f"regexp_replace({clean}, {_END_TAG}, '')"
    cells = rows.selectExpr(f"split({clean}, {_START_TAG}) AS cells")
    return cells.selectExpr(*(
        f"{_field(i, f.type)} AS `{f.name.replace('`', '``')}`"
        for i, f in enumerate(spec.fields)))

