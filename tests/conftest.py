from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tally_database_loader_spark.session import get_spark  # noqa: E402

SF_CORRECTNESS = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight test (multi-minute streaming recurrences, "
        "decade replays, exhaustive domains) — skipped unless "
        "SPARK_GRAFT_RUN_SLOW=1 so the default suite finishes inside "
        "the driver's window (VERDICT r11 #1); run the full set with "
        "SPARK_GRAFT_RUN_SLOW=1 python -m pytest tests/")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow-marked; set SPARK_GRAFT_RUN_SLOW=1 to run")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_CORRECTNESS}/{t}.parquet')")
    yield con
    con.close()


@pytest.fixture()
def stub_tally():
    """A stub Tally XML server on a free local port: answers every POST
    with two mst_unit rows and records each request body (UTF-16LE
    decoded). Yields (port, bodies)."""
    import http.server
    import threading

    bodies = []
    payload = ("<ENVELOPE>\r\n"
               "  <F01>u-1</F01><F02>Nos</F02><F03>10.00</F03>\r\n"
               "  <F01>u-2</F01><F02>Kg</F02><F03>2.50</F03>\r\n"
               "</ENVELOPE>").encode("utf-8")

    class StubTally(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            bodies.append(self.rfile.read(n).decode("utf-16le"))
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), StubTally)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield srv.server_port, bodies
    finally:
        srv.shutdown()


@pytest.fixture()
def py4j_round_trips(monkeypatch):
    """``count(build)`` → the Py4J round trips one call of ``build()``
    makes, after one uncounted warm-up call: those of the calling thread
    and of every thread the build hands work to. Py4J releases dead JVM
    references from its own finalizer thread, so those are not
    counted."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection, FinalizerWorker

    send = ClientServerConnection.send_command
    calls = [0]
    lock = threading.Lock()

    def counting(self, command):
        if not isinstance(threading.current_thread(), FinalizerWorker):
            with lock:
                calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(build) -> int:
        build()
        gc.collect()  # release the warm-up's JVM references first
        calls[0] = 0
        build()
        return calls[0]
    return count
