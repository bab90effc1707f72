"""Sync control-plane HTTP server (reference src/server.mts:81-163 +
the WebSocket log relay at :13-15,32-40; SURVEY §3.3).

The reference runs a tiny Node HTTP server that serves a GUI page,
loads/saves ``config.json``, forks the sync process on ``POST /sync``
(relaying its log messages to browser clients over a WebSocket, with a
literal ``~`` sentinel on completion), kills it on ``POST /abort``, and
proxies two Tally probes (``/list-company``, ``/tally-status``).

Spark-first re-expression: the sync is not a child PROCESS but a
driver-side callable (``__main__.serve`` passes one that runs
``run_import``, the same sync the CLI loop runs) on a background thread
of the same driver — Spark's unit of restartable work is the job, not
the process.
The WebSocket relay becomes a cursor-polled JSON log feed
(``GET /log?since=N``): stdlib-only, proxy-friendly, and trivially
replaced by SSE/WebSocket behind any real gateway; the ``~`` completion
sentinel is preserved so a reference GUI's "done" detection logic ports
unchanged. Abort is cooperative (the runner receives an ``aborted()``
predicate) because killing a Spark driver thread mid-job is never safe —
the reference kills a whole child process, whose Spark analogue is
``spark.sparkContext.cancelJobGroup``, which a runner may also wire in.

Everything here is driver-side control plane — no data flows through
this server; query work stays distributed.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from ..sources.registry import FieldSpec, TableSpec
from ..sources.tally_xml import generate_tdl_xml

# The reference's /list-company probe exports the Company collection's
# names (src/server.mts:130-141, an inline TDL literal); here it is just
# another TableSpec through the same compiler every data table uses.
_COMPANY_LIST_SPEC = TableSpec(
    "company_list", "Company", [FieldSpec("name", "$Name", "text")])

_INDEX_HTML = """<!doctype html>
<html><head><title>tally-spark sync</title></head>
<body>
<h3>tally-database-loader-spark sync server</h3>
<p>POST /sync starts a sync; GET /log?since=0 tails its feed
(final line is the ~ completion sentinel); POST /abort requests a
cooperative stop. GET /loadconfig and POST /saveconfig manage the
config file; POST /list-company and /tally-status probe a live Tally
endpoint.</p>
</body></html>"""


class SyncServer:
    """Thin control plane around a sync runner.

    ``run_sync(config, emit, aborted)`` is the injected unit of work:
    ``config`` is the parsed JSON body of ``POST /sync``, ``emit(line)``
    appends to the log feed, and ``aborted()`` flips to True after
    ``POST /abort``. The server appends the reference's ``~`` sentinel
    when the runner returns (or raises — the error line precedes it).

    ``post_xml(url, payload)`` is injected for the two Tally probes so
    tests (and offline use) can stub the HTTP exchange.
    """

    def __init__(self, config_path: str,
                 run_sync: Callable[[dict, Callable[[str], None],
                                     Callable[[], bool]], None],
                 *, host: str = "127.0.0.1", port: int = 0,
                 post_xml: Callable[[str, str], str] | None = None):
        self.config_path = config_path
        self.run_sync = run_sync
        self.post_xml = post_xml or self._default_post_xml
        self._lines: list[str] = []
        self._lock = threading.Lock()
        self._running = False
        self._abort = threading.Event()
        self._worker: threading.Thread | None = None
        self._httpd = ThreadingHTTPServer((host, port), self._make_handler())
        self._serve_thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------------

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"

    def start(self) -> "SyncServer":
        self._serve_thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._serve_thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        # give a still-running sync its documented cooperative-stop
        # signal BEFORE joining — otherwise the join burns its full
        # timeout and abandons the worker mid-mutation
        self._abort.set()
        with self._lock:
            worker = self._worker
        if worker is not None:
            worker.join(timeout=30)

    # -- log feed -----------------------------------------------------------

    def emit(self, line: str) -> None:
        with self._lock:
            self._lines.append(str(line))

    def log_since(self, since: int) -> tuple[int, list[str]]:
        with self._lock:
            return len(self._lines), self._lines[since:]

    # -- sync driver --------------------------------------------------------

    def _sync_main(self, config: dict) -> None:
        try:
            self.run_sync(config, self.emit, self._abort.is_set)
        except Exception as exc:  # surfaced on the feed, like the reference
            self.emit(f"error: {exc}")
        finally:
            self.emit("~")  # reference completion sentinel (server.mts:38)
            self._running = False

    def _start_sync(self, config: dict) -> str:
        with self._lock:
            if self._running:
                return "Sync is already running"
            self._running = True
            self._abort.clear()
            # assign the worker INSIDE the lock: an /abort landing
            # between _running=True and the assignment would otherwise
            # see the previous dead worker and silently drop the abort
            self._worker = threading.Thread(
                target=self._sync_main, args=(config,), daemon=True)
            self._worker.start()
        return "Sync started"

    def _request_abort(self) -> str:
        with self._lock:
            if self._running and self._worker is not None \
                    and self._worker.is_alive():
                self._abort.set()
                return "Abort requested"
        return "Could not abort: no sync running"

    # -- Tally probes (reference /list-company, /tally-status) --------------

    @staticmethod
    def _default_post_xml(url: str, payload: str) -> str:
        from ..sources.tally_http import post_tally_xml
        return post_tally_xml(url, payload, timeout=10.0)

    def _list_company(self, config: dict) -> str:
        url = f"http://{config.get('server', 'localhost')}:{config.get('port', 9000)}"
        try:
            return self.post_xml(url, generate_tdl_xml(_COMPANY_LIST_SPEC))
        except Exception:
            return "<DATA></DATA>"  # same degraded shape as the reference

    def _tally_status(self, config: dict) -> str:
        url = f"http://{config.get('server', 'localhost')}:{config.get('port', 9000)}"
        try:
            return self.post_xml(url, "")
        except Exception:
            return ""

    # -- HTTP plumbing ------------------------------------------------------

    def _make_handler(self):
        srv = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _reply(self, body: str, ctype: str, code: int = 200) -> None:
                raw = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def _body(self) -> str:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n).decode("utf-8") if n else ""

            def do_GET(self):
                path, _, query = self.path.partition("?")
                if path == "/":
                    self._reply(_INDEX_HTML, "text/html")
                elif path == "/loadconfig":
                    try:
                        with open(srv.config_path, encoding="utf-8") as fh:
                            self._reply(fh.read(), "application/json")
                    except FileNotFoundError:
                        self._reply("{}", "application/json")
                elif path == "/log":
                    from urllib.parse import parse_qs
                    try:
                        since = int(parse_qs(query).get("since", ["0"])[0])
                    except ValueError:
                        since = 0
                    if since < 0:
                        # a negative cursor would slice a wrong tail
                        # window and return a misleading next pointer
                        self._reply("since must be >= 0", "text/plain", 400)
                        return
                    nxt, lines = srv.log_since(since)
                    self._reply(json.dumps({"next": nxt, "lines": lines}),
                                "application/json")
                else:
                    self._reply("not found", "text/plain", 404)

            def do_POST(self):
                body = self._body()
                if self.path == "/saveconfig":
                    with open(srv.config_path, "w", encoding="utf-8") as fh:
                        fh.write(body)
                    self._reply("Config saved", "text/plain")
                elif self.path == "/sync":
                    try:
                        config = json.loads(body) if body else {}
                    except json.JSONDecodeError:
                        self._reply("invalid config JSON", "text/plain", 400)
                        return
                    self._reply(srv._start_sync(config), "text/plain")
                elif self.path == "/abort":
                    self._reply(srv._request_abort(), "text/plain")
                elif self.path in ("/list-company", "/tally-status"):
                    try:
                        config = json.loads(body) if body else {}
                    except json.JSONDecodeError:
                        self._reply("invalid config JSON", "text/plain", 400)
                        return
                    if self.path == "/list-company":
                        self._reply(srv._list_company(config), "text/xml")
                    else:
                        self._reply(srv._tally_status(config), "text/plain")
                else:
                    self._reply("not found", "text/plain", 404)

        return Handler
