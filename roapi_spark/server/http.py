"""HTTP API server (stdlib ThreadingHTTPServer — one OS thread per request;
the SparkSession is thread-safe and each request is one Catalyst job).

Route parity (roapi/src/api/routes.rs:16-39):

    GET  /health                       -> "OK" (server/http/mod.rs:28-30)
    GET  /api/version                  -> "<version>"
    POST /api/sql                      body = SQL string
    GET  /api/tables/{t}?params        REST planner
    POST /api/graphql                  body = GraphQL query
    GET  /api/schema                   all table schemas
    GET  /api/schema/{t}               one schema
    GET  /api/kv/{name}/{key}          KV lookup
    POST /api/table                    register: [{"tableName", "uri"}]
                                       (read-only -> 400, routes.rs:29-37)
    POST /api/tables/drop              drop: [{"tableName"}]

Response encoding via ACCEPT header (api/mod.rs:25-57); errors as
``{"code": u16, "error": slug, "message": text}`` (roapi/src/error.rs).
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, unquote, urlparse

import roapi_spark
from roapi_spark.catalog import Catalog, CatalogError, ReadOnlyError
from roapi_spark.encoders import CONTENT_TYPES, encode_dataframe, format_from_accept
from roapi_spark.server.auth import credential_scheme


# SQL console (reference: roapi-ui, an egui/wasm app with a schema side
# panel + query/results loop — roapi-ui/src/app.rs:169-230's
# ui_schema_panel and QueryResult grid; ours is the same feature set as
# a dependency-free HTML page: /api/schema-backed expandable table list,
# editor with history, XSS-safe results grid, CSV export via content
# negotiation).
CONSOLE_HTML = b"""<!doctype html>
<html><head><meta charset="utf-8"><title>roapi_spark console</title>
<style>
 :root{color-scheme:dark}
 body{font-family:ui-monospace,monospace;margin:0;background:#111;color:#eee;display:flex;height:100vh}
 #side{width:17rem;min-width:12rem;overflow:auto;background:#161616;border-right:1px solid #333;padding:.8rem}
 #main{flex:1;overflow:auto;padding:1rem 1.4rem}
 h2{margin:.2rem 0 .8rem;font-size:1.05rem}
 h3{margin:.2rem 0 .6rem;font-size:.95rem;color:#9cf}
 textarea{width:100%;height:7rem;background:#1b1b1b;color:#eee;border:1px solid #444;
   font:inherit;padding:.4rem;box-sizing:border-box}
 button{margin:.5rem .5rem .5rem 0;padding:.4rem 1rem;background:#263;border:1px solid #485;
   color:#eee;cursor:pointer}
 button:hover{background:#374}
 table{border-collapse:collapse;margin-top:.8rem;font-size:.85rem}
 td,th{border:1px solid #555;padding:.2rem .6rem;max-width:32rem;overflow:hidden;
   text-overflow:ellipsis;white-space:nowrap}
 th{background:#222;position:sticky;top:0}
 #err{color:#f66;white-space:pre-wrap}
 #meta{color:#9a9;font-size:.85rem}
 .tbl{cursor:pointer;margin:.15rem 0;user-select:none}
 .tbl:hover{color:#9cf}
 .cols{margin:0 0 .3rem 1.1rem;color:#aaa;font-size:.82rem;display:none}
 .cols div{white-space:nowrap}
 .hist{cursor:pointer;color:#887;font-size:.8rem;white-space:nowrap;overflow:hidden;
   text-overflow:ellipsis;margin:.1rem 0}
 .hist:hover{color:#cc9}
</style></head><body>
<div id="side">
 <h3>tables</h3><div id="tables">loading&hellip;</div>
 <h3 style="margin-top:1rem">history</h3><div id="hist"></div>
</div>
<div id="main">
<h2>roapi_spark SQL console</h2>
<textarea id="q">SELECT 1 AS hello</textarea><br>
<button onclick="run()">Run (Ctrl-Enter)</button>
<button onclick="exportCsv()">Export CSV</button>
<span id="meta"></span>
<div id="err"></div><div id="out"></div>
</div>
<script>
// history persists across reloads (roapi-ui keeps its query history in
// app state restored by eframe persistence; localStorage is the HTML
// equivalent). Storage may be unavailable (file://, private mode) --
// degrade to session-only.
const HKEY='roapi_spark_hist';
let hist=[];
try{hist=JSON.parse(localStorage.getItem(HKEY)||'[]')}catch(e){hist=[]}
// corrupted/foreign storage (e.g. '42' or '{}') parses fine but breaks
// hist.unshift later -- coerce anything non-array-of-strings back to []
if(!Array.isArray(hist))hist=[];else hist=hist.filter(x=>typeof x==='string');
function el(tag,text,cls){const e=document.createElement(tag);
  if(text!==undefined)e.textContent=text;if(cls)e.className=cls;return e}
function renderHist(){
  const h=document.getElementById('hist');h.textContent='';
  for(const item of hist){
    const d=el('div',item,'hist');
    d.onclick=()=>{document.getElementById('q').value=item};
    h.appendChild(d);
  }
}
async function loadSchema(){
  const box=document.getElementById('tables');box.textContent='';
  try{
    const resp=await fetch('/api/schema');
    const schema=await resp.json();
    const names=Object.keys(schema).sort();
    if(!names.length){box.textContent='(no tables)';return}
    for(const t of names){
      const row=el('div','\\u25b8 '+t,'tbl');
      const cols=el('div',undefined,'cols');
      for(const f of schema[t].fields||[]){
        const ty=f.type!==undefined?f.type:f.data_type;
        cols.appendChild(el('div',f.name+' : '
          +(typeof ty==='string'?ty:JSON.stringify(ty))
          +(f.nullable?'':' not null')));
      }
      row.onclick=()=>{const open=cols.style.display==='block';
        cols.style.display=open?'none':'block';
        row.textContent=(open?'\\u25b8 ':'\\u25be ')+t};
      row.ondblclick=()=>{document.getElementById('q').value=
        'SELECT * FROM '+t+' LIMIT 10';run()};
      box.appendChild(row);box.appendChild(cols);
    }
  }catch(e){box.textContent='schema fetch failed: '+e}
}
function pushHist(q){
  if(hist[0]===q)return; hist.unshift(q); if(hist.length>20)hist.pop();
  try{localStorage.setItem(HKEY,JSON.stringify(hist))}catch(e){}
  renderHist();
}
// client-side result paging: big result sets would otherwise lay out a
// single enormous DOM table
const PAGE=200;
let lastRows=[],page=0;
function renderPage(){
  const out=document.getElementById('out');out.innerHTML='';
  const rows=lastRows;
  if(!rows.length){out.textContent='(0 rows)';return}
  const cols=Object.keys(rows[0]);
  const npages=Math.ceil(rows.length/PAGE);
  if(page>=npages)page=npages-1;
  // build with createElement/textContent: cell values are untrusted table
  // data, innerHTML would execute any stored markup (XSS)
  const tbl=document.createElement('table');
  const hr=tbl.insertRow();
  for(const c of cols){const th=document.createElement('th');th.textContent=c;hr.appendChild(th)}
  for(const r of rows.slice(page*PAGE,(page+1)*PAGE)){
    const tr=tbl.insertRow();
    for(const c of cols){
      const v=r[c];
      tr.insertCell().textContent=(typeof v==='string')?v:JSON.stringify(v);
    }
  }
  if(npages>1){
    const nav=el('div');nav.id='pager';
    const prev=el('button','\\u2039 prev');prev.disabled=page===0;
    prev.onclick=()=>{page--;renderPage()};
    const next=el('button','next \\u203a');next.disabled=page>=npages-1;
    next.onclick=()=>{page++;renderPage()};
    const lbl=el('span','page '+(page+1)+'/'+npages);lbl.id='pageinfo';
    nav.appendChild(prev);nav.appendChild(lbl);nav.appendChild(next);
    out.appendChild(nav);
  }
  out.appendChild(tbl);
}
async function run(){
  const q=document.getElementById('q').value;
  const err=document.getElementById('err'), out=document.getElementById('out');
  const meta=document.getElementById('meta');
  err.textContent=''; out.innerHTML=''; meta.textContent='running\\u2026';
  const t0=performance.now();
  const resp=await fetch('/api/sql',{method:'POST',body:q});
  const body=await resp.text();
  const ms=(performance.now()-t0).toFixed(0);
  if(!resp.ok){meta.textContent='';
    try{err.textContent=JSON.parse(body).message}catch(e){err.textContent=body};return}
  pushHist(q);
  const rows=JSON.parse(body);
  meta.textContent=rows.length+' row'+(rows.length===1?'':'s')+' \\u00b7 '+ms+' ms';
  lastRows=rows;page=0;renderPage();
}
async function exportCsv(){
  const q=document.getElementById('q').value;
  const resp=await fetch('/api/sql',{method:'POST',body:q,
    headers:{'ACCEPT':'text/csv'}});
  if(!resp.ok){document.getElementById('err').textContent=await resp.text();return}
  const blob=await resp.blob();
  const a=document.createElement('a');
  a.href=URL.createObjectURL(blob);a.download='result.csv';a.click();
  URL.revokeObjectURL(a.href);
}
document.getElementById('q').addEventListener('keydown',e=>{
  if(e.ctrlKey&&e.key==='Enter')run()});
loadSchema();renderHist();
</script></body></html>"""


class ApiError(Exception):
    def __init__(self, code: int, error: str, message: str) -> None:
        super().__init__(message)
        self.code = code
        self.error = error
        self.message = message

    def body(self) -> bytes:
        return json.dumps(
            {"code": self.code, "error": self.error, "message": self.message}
        ).encode()


def respond(
    api, method: str, target: str, body: bytes, authorization: str | None, accept: str | None
) -> tuple[int, list[tuple[str, str]], bytes]:
    """The one HTTP response decision, shared by the HTTP/1.1 and h2c
    transports, which only frame what it returns: (status, headers,
    payload). ``target`` is the request target as sent; the path stays
    percent-encoded, and ``ApiServer.handle`` decodes each captured
    segment once. ``api.handle`` is looked up per request, and an api
    without ``authorize`` is served open."""
    if method == "OPTIONS":
        # CORS preflight (reference: tower-http CorsLayer with
        # GET/POST/OPTIONS + any origin, http/mod.rs:61-66)
        return 204, [
            ("Access-Control-Allow-Origin", "*"),
            ("Access-Control-Allow-Methods", "GET, POST, OPTIONS"),
            ("Access-Control-Allow-Headers", "*"),
            ("Content-Length", "0"),
        ], b""
    parsed = urlparse(target)
    query = dict(parse_qsl(parsed.query, keep_blank_values=True))
    authorize = getattr(api, "authorize", None)
    try:
        if authorize is not None and not authorize(authorization, parsed.path):
            raise ApiError(401, "unauthorized", "invalid credentials")
        # HEAD serves the GET route with the body suppressed, matching
        # axum's automatic HEAD handling for GET routes
        code, ctype, payload = api.handle(
            "GET" if method == "HEAD" else method, parsed.path, query, body, accept
        )
    except ApiError as err:
        code, ctype, payload = err.code, "application/json", err.body()
    headers = [
        ("Content-Type", ctype),
        ("Content-Length", str(len(payload))),
        ("Access-Control-Allow-Origin", "*"),  # CORS layer
    ]
    if code == 401 and hasattr(api, "auth_challenge"):
        headers += api.auth_challenge()
    return code, headers, b"" if method == "HEAD" else payload


class ApiServer:
    """Wraps a Catalog with the HTTP frontend."""

    def __init__(
        self,
        catalog: Catalog,
        default_format: str = "json",
        auth_token: str | None = None,
        basic_auth: dict[str, str] | None = None,
        statement_timeout_s: float | None = None,
    ) -> None:
        self.catalog = catalog
        self.default_format = default_format
        self.auth_token = auth_token
        self.basic_auth = basic_auth
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.statement_timeout_s = statement_timeout_s
        # route-class -> (requests, errors, seconds); bounded cardinality
        self._metrics: dict[str, tuple[int, int, float]] = {}
        self._metrics_lock = threading.Lock()

    def _run_bounded(self, fn):
        """Run a query+encode callable under the statement timeout: the
        work executes on a worker thread tagged with its own Spark job
        group; on expiry the group is cancelled (running tasks
        interrupted) and the client gets a 408 instead of holding the
        connection forever — the runaway-query guard every multi-tenant
        SQL endpoint needs. No timeout configured = direct call."""
        if self.statement_timeout_s is None:
            return fn()
        import uuid

        sc = self.catalog.spark.sparkContext
        gid = f"roapi-stmt-{uuid.uuid4().hex}"
        box: dict = {}

        def work() -> None:
            try:
                sc.setJobGroup(gid, "roapi statement", interruptOnCancel=True)
                box["result"] = fn()
            except BaseException as exc:  # noqa: BLE001 — surfaced below
                box["error"] = exc

        t = threading.Thread(target=work, daemon=True)
        t.start()
        t.join(self.statement_timeout_s)
        if t.is_alive():
            sc.cancelJobGroup(gid)
            raise ApiError(
                408,
                "statement_timeout",
                f"statement exceeded {self.statement_timeout_s}s and was cancelled",
            )
        if "error" in box:
            raise box["error"]
        return box["result"]

    def authorize(self, authorization: str | None, path: str = "") -> bool:
        """HTTP auth layer (beyond the reference — its own unchecked
        roadmap box): bearer and/or basic credentials
        (:func:`credential_scheme`), shared by the HTTP/1.1 and h2c
        fronts. /health stays open for load-balancer probes. No
        credentials configured => open server (the reference's default)."""
        if self.auth_token is None and self.basic_auth is None:
            return True
        if path == "/health":
            return True
        return credential_scheme(authorization, self.auth_token, self.basic_auth) is not None

    def auth_challenge(self) -> list[tuple[str, str]]:
        """WWW-Authenticate headers for a 401 (RFC 7235 — browsers only
        prompt for basic credentials when challenged)."""
        out = []
        if self.basic_auth is not None:
            out.append(("WWW-Authenticate", 'Basic realm="roapi_spark"'))
        if self.auth_token is not None:
            out.append(("WWW-Authenticate", "Bearer"))
        return out

    # ---- request handling ------------------------------------------------

    def handle(
        self, method: str, path: str, query: dict[str, str], body: bytes, accept: str | None
    ) -> tuple[int, str, bytes]:
        import time as _time

        route = self._route_class(method, path)
        t0 = _time.monotonic()
        try:
            result = self._handle(method, path, query, body, accept)
            self._observe(route, result[0], _time.monotonic() - t0)
            return result
        except ApiError as err:
            self._observe(route, err.code, _time.monotonic() - t0)
            raise

    @staticmethod
    def _route_class(method: str, path: str) -> str:
        """Collapse per-table paths to one label so metric cardinality is
        bounded by the route count, not the catalog size."""
        for prefix, label in (
            ("/api/tables/", "/api/tables/{t}"),
            ("/api/schema/", "/api/schema/{t}"),
            ("/api/kv/", "/api/kv/{n}/{k}"),
        ):
            if path.startswith(prefix) and path != "/api/tables/drop":
                return f"{method} {label}"
        return f"{method} {path}"

    def _observe(self, route: str, code: int, seconds: float) -> None:
        with self._metrics_lock:
            n, errs, total = self._metrics.get(route, (0, 0, 0.0))
            self._metrics[route] = (
                n + 1, errs + (1 if code >= 400 else 0), total + seconds
            )

    def _metrics_text(self) -> bytes:
        """Prometheus text exposition (beyond the reference — it ships
        request logging only): per-route-class request/error counters and
        a latency sum, enough for rate/error/duration dashboards."""
        lines = [
            "# TYPE roapi_requests_total counter",
            "# TYPE roapi_request_errors_total counter",
            "# TYPE roapi_request_seconds_total counter",
        ]
        with self._metrics_lock:
            snap = dict(self._metrics)
        for route, (n, errs, total) in sorted(snap.items()):
            lbl = '{route="' + route + '"}'
            lines.append(f"roapi_requests_total{lbl} {n}")
            lines.append(f"roapi_request_errors_total{lbl} {errs}")
            lines.append(f"roapi_request_seconds_total{lbl} {total:.6f}")
        return ("\n".join(lines) + "\n").encode()

    def _handle(
        self, method: str, path: str, query: dict[str, str], body: bytes, accept: str | None
    ) -> tuple[int, str, bytes]:
        fmt = format_from_accept(accept, self.default_format)
        try:
            if method == "GET" and path == "/metrics":
                return 200, "text/plain; version=0.0.4", self._metrics_text()
            if method == "GET" and path in ("/", "/ui"):
                return 200, "text/html; charset=utf-8", CONSOLE_HTML
            if method == "GET" and path == "/health":
                return 200, "text/plain", b"OK"
            if method == "GET" and path == "/api/version":
                return 200, "application/json", f'"{roapi_spark.__version__}"'.encode()
            if method == "GET" and path == "/api/openapi.json":
                # beyond the reference: its own unchecked roadmap box —
                # an OpenAPI 3 document generated live from the catalog
                from roapi_spark.server.openapi import openapi_doc

                doc = openapi_doc(self.catalog, roapi_spark.__version__)
                return 200, "application/json", json.dumps(doc).encode()
            if method == "POST" and path == "/api/sql":
                payload = self._run_bounded(
                    lambda: encode_dataframe(
                        self.catalog.query_sql(body.decode("utf-8")), fmt
                    )
                )
                return 200, CONTENT_TYPES[fmt], payload
            if method == "POST" and path == "/api/graphql":
                payload = self._run_bounded(
                    lambda: encode_dataframe(
                        self.catalog.query_graphql(body.decode("utf-8")), fmt
                    )
                )
                return 200, CONTENT_TYPES[fmt], payload
            if m := re.fullmatch(r"/api/tables/([^/]+)", path):
                if method == "GET":
                    payload = self._run_bounded(
                        lambda: encode_dataframe(
                            self.catalog.query_rest(unquote(m.group(1)), query), fmt
                        )
                    )
                    return 200, CONTENT_TYPES[fmt], payload
            if method == "GET" and path == "/api/schema":
                return 200, "application/json", json.dumps(self.catalog.schemas()).encode()
            if m := re.fullmatch(r"/api/schema/([^/]+)", path):
                if method == "GET":
                    return (
                        200,
                        "application/json",
                        json.dumps(self.catalog.schema(unquote(m.group(1)))).encode(),
                    )
            if m := re.fullmatch(r"/api/kv/([^/]+)/([^/]+)", path):
                if method == "GET":
                    val = self.catalog.kv_get(unquote(m.group(1)), unquote(m.group(2)))
                    return 200, "text/plain", (val or "").encode()
            if method == "POST" and path == "/api/table":
                self._register(json.loads(body or b"[]"))
                return 200, "application/json", b""
            if method == "POST" and path == "/api/tables/drop":
                self._drop(json.loads(body or b"[]"))
                return 200, "application/json", b""
            raise ApiError(404, "not_found", f"{method} {path} not found")
        except ApiError:
            raise
        except ReadOnlyError as exc:
            raise ApiError(400, "read_only_mode", str(exc)) from exc
        except CatalogError as exc:
            raise ApiError(404, "not_found", str(exc)) from exc
        except Exception as exc:  # noqa: BLE001 — query errors -> 400 like the ref
            raise ApiError(400, "query_execution", str(exc)) from exc

    def _register(self, body: list[dict]) -> None:
        from roapi_spark.config import parse_table_config

        for cfg in body:
            name = cfg.get("tableName")
            uri = cfg.get("uri")
            if not name:
                raise ApiError(400, "register_table", "tableName required")
            if uri:
                ts = parse_table_config({"name": name, "uri": uri, "option": cfg.get("option") or {}})
                self.catalog.load_table(ts, dynamic=True)
            elif name in self.catalog.sources:
                self.catalog.refresh_table(name, dynamic=True)  # register.rs:36-38
            else:
                raise ApiError(400, "register_table", f"Table `{name}` source not exists")

    def _drop(self, body: list[dict]) -> None:
        for cfg in body:
            name = cfg.get("tableName")
            if name not in self.catalog.sources:
                raise ApiError(404, "not_found", f"Table `{name}` source does not exist")
            self.catalog.drop_table(name, dynamic=True)

    # ---- socket lifecycle ------------------------------------------------

    def start(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        certfile: str | None = None,
        keyfile: str | None = None,
    ) -> tuple[str, int]:
        """Start the HTTP front. With ``certfile``/``keyfile`` the listener
        terminates TLS and advertises ALPN ``h2``/``http/1.1`` — an
        ALPN-negotiated h2 client still opens with the RFC 9113 connection
        preface, so the same preface sniff below serves both cleartext
        prior-knowledge h2c and TLS h2 (the reference delegates TLS to a
        fronting proxy; this makes the engine self-sufficient)."""
        server = self

        tls_ctx = None
        if certfile:
            import ssl

            tls_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            tls_ctx.load_cert_chain(certfile, keyfile)
            tls_ctx.set_alpn_protocols(["h2", "http/1.1"])

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # request logging layer (layers.rs) -> quiet
                pass

            def setup(self) -> None:
                # TLS is terminated HERE, on the per-connection thread —
                # wrapping the *listening* socket would run the (blocking,
                # untimed) handshake inside the single accept loop, letting
                # one stalled client head-of-line-block every connection
                if tls_ctx is not None:
                    import ssl

                    try:
                        self.request.settimeout(30)  # bound the handshake
                        self.request = tls_ctx.wrap_socket(
                            self.request, server_side=True
                        )
                        self.request.settimeout(None)
                    except (ssl.SSLError, OSError):
                        self._tls_failed = True
                super().setup()

            def handle(self) -> None:
                import ssl

                if getattr(self, "_tls_failed", False):
                    self.close_connection = True
                    return
                try:
                    super().handle()
                except (ssl.SSLError, ConnectionError, TimeoutError):
                    # mid-stream disconnect: drop the connection quietly
                    # instead of a handler traceback
                    self.close_connection = True

            def parse_request(self) -> bool:
                # h2c prior-knowledge on the same port (api_test.rs:247-277):
                # the HTTP/2 preface opens with a pseudo request line, which
                # the stdlib hands here right after reading it
                if not self.raw_requestline.startswith(b"PRI * HTTP/2.0"):
                    return super().parse_request()
                from roapi_spark.server.h2c import PREFACE_REST, H2CConnection

                if self.rfile.read(len(PREFACE_REST)) == PREFACE_REST:
                    H2CConnection(server, self.rfile, self.wfile).run()
                self.close_connection = True
                return False

            def _respond(self) -> None:
                length = int(self.headers.get("Content-Length") or 0)
                code, headers, payload = respond(
                    server,
                    self.command,
                    self.path,
                    self.rfile.read(length) if length else b"",
                    self.headers.get("Authorization"),
                    self.headers.get("Accept"),
                )
                self.send_response(code)
                for name, value in headers:
                    self.send_header(name, value)
                self.end_headers()
                self.wfile.write(payload)

            do_GET = do_POST = do_HEAD = do_OPTIONS = _respond

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[0], self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


def build_server(config_path: str, spark=None) -> ApiServer:
    """Config file -> running catalog + server (startup.rs:34-126)."""
    from roapi_spark.catalog import catalog_from_config
    from roapi_spark.config import load_config_file
    from roapi_spark.session import get_spark

    cfg = load_config_file(config_path)
    spark = spark or get_spark("roapi_spark_server", extra_conf=cfg.spark_conf)
    cat = catalog_from_config(spark, cfg)
    return ApiServer(cat, default_format=cfg.default_response_format)
