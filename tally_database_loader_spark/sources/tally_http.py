"""Live Tally HTTP fetch (SURVEY §2.A1 live half; reference
src/tally.mts:448-490).

The reference POSTs the compiled TDL-XML program to Tally's XML server
(default ``http://localhost:9000``) with a UTF-16LE body and streams the
response into a string. That fetch is inherently a single driver-side
HTTP exchange — Tally evaluates the query and returns the full row set —
so this module keeps it on the driver (stdlib urllib, no extra deps) and
hands the response to the *distributed* parser in ``tally_xml.py``: the
payload is staged to a (local or object-store) path and
``read_tdl_response`` scans it partition-parallel with
``lineSep='<F01>'``.

At 100 TB the live endpoint is not the scale path — Tally itself is the
bottleneck (the reference batches exports per-year to bound Tally RAM,
reference docs/commandline-options.md:32-40); XML dumps on shared storage
are. The fetch exists for parity: a user of the reference can point this
engine at the same ``tally.server``/``tally.port`` config and pull the
same tables.
"""

from __future__ import annotations

import os
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from .registry import TableSpec
from .tally_xml import generate_tdl_xml, read_tdl_response, substitute_parameters

DEFAULT_URL = "http://localhost:9000"


def post_tally_xml(url: str, xml: str, *, timeout: float = 60.0) -> str:
    """POST a TDL-XML program to Tally's HTTP server and return the
    response text (reference src/tally.mts:448-490: UTF-16LE request body,
    ``Content-Type: text/xml;charset=utf-16``; the response streams back
    as UTF-8)."""
    body = xml.encode("utf-16le")
    req = urllib.request.Request(
        url, data=body, method="POST",
        headers={"Content-Type": "text/xml;charset=utf-16",
                 "Content-Length": str(len(body))})
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read().decode("utf-8", errors="replace")


def fetch_table(spark: SparkSession, spec: TableSpec, *,
                url: str = DEFAULT_URL, subs: dict | None = None,
                company: str | None = None, stage_dir: str | None = None,
                timeout: float = 300.0) -> DataFrame:
    """Live extraction of one table: compile the spec to a TDL program
    (A2), substitute runtime parameters (A3), POST to Tally (A1), stage
    the response, and parse it distributed (D1/D5).

    ``stage_dir`` controls where the response lands (defaults to a temp
    dir; point it at shared/object storage on a cluster so every executor
    can read the staged file)."""
    xml = generate_tdl_xml(spec, company=company)
    if subs:
        xml = substitute_parameters(xml, subs)
    text = post_tally_xml(url, xml, timeout=timeout)
    d = stage_dir or tempfile.mkdtemp(prefix="tally_fetch_")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{spec.name}.xml")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return read_tdl_response(spark, path, spec)
