"""HTTP query service: the reference's user-facing surface, restored.

The reference is an ASP.NET web service whose one real endpoint takes a
SQL string and returns the pre/post-optimization plan JSONs plus a
placeholder statistics string (Sql2AlgTree, QueryService.asmx.cs:51-89;
rendered by the jointjs UI in index.js:1-122). This wrapper exposes the
same contract over stdlib http.server — no framework dependencies —
backed by `api.query`, which additionally returns the result rows the
reference discarded and real statistics. `serve` sets its session up
for short parameterized queries (AQE off, expressions interpreted).

Endpoints:
- POST /query   body {"sql": "...", "limit": N?} → full api.query dict
- GET  /query?sql=...&limit=N                    → same
- GET  /health                                   → {"status": "ok"}
- GET  /                                         → plan-tree UI (HTML)

`limit` (default and ceiling `MAX_LIMIT`) bounds the rows a request
brings back to the driver; a request asking for more gets HTTP 400.
A query Spark rejects or fails (a `PySparkException`: parse, analysis,
bad `args`, or an error raised while it runs) gets HTTP 400 with
`{"error": message, "error_class": Spark's error condition}`; any
other exception is the service's fault and gets HTTP 500. A body that
is not a JSON object, or whose `sql` is not a non-empty string, gets
HTTP 400.

The / page is the index.js parity surface: it submits SQL, renders the
original vs optimized plan trees side by side (nested lists instead of
jointjs boxes), and tabulates the first rows — everything the reference
UI showed, without a vendored JS framework.

The server is a ThreadingHTTPServer on a caller-chosen (or ephemeral)
port; Spark drives all actual execution, so the HTTP layer stays a thin
adapter — exactly the reference's architecture with Spark in place of
the .NET Remoting site servers.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

from distributedqueryengine_spark import api

# The most rows one request may collect to the driver, and the default.
MAX_LIMIT = 10_000

# The confs `serve` sets on the session it serves (see `serve`).
SESSION_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}

_INDEX_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>distributedqueryengine-spark</title>
<style>
 body{font-family:monospace;margin:1.5em;background:#fafafa}
 textarea{width:100%;height:6em;font-family:inherit}
 .plans{display:flex;gap:2em}.plans>div{flex:1;overflow:auto}
 ul{list-style:none;padding-left:1.2em;border-left:1px solid #bbb;margin:.2em 0}
 li>span{background:#eef;padding:0 .3em;border-radius:3px}
 li>small{color:#666}
 table{border-collapse:collapse;margin-top:1em}
 td,th{border:1px solid #ccc;padding:.15em .5em}
 .stats{color:#060;margin:.5em 0}
</style></head><body>
<h2>distributedqueryengine_spark — query service</h2>
<textarea id="sql">SELECT n_name, count(*) AS n FROM nation GROUP BY n_name ORDER BY n LIMIT 10</textarea>
<br><button onclick="run()">Run</button>
<div class="stats" id="stats"></div>
<div class="plans">
 <div><h3>original plan</h3><div id="orig"></div></div>
 <div><h3>optimized plan</h3><div id="opt"></div></div>
</div>
<div id="rows"></div>
<script>
function tree(n){
  if(!n) return document.createTextNode('(unavailable)');
  const ul=document.createElement('ul'), li=document.createElement('li');
  li.innerHTML='<span>'+n.op+'</span> <small>'+(n.detail||'')+'</small>';
  ul.appendChild(li);
  const kids=document.createElement('ul');
  (n.children||[]).forEach(c=>kids.appendChild(tree(c)));
  if((n.children||[]).length) li.appendChild(kids);
  return ul;
}
async function run(){
  const r=await fetch('/query',{method:'POST',headers:{'Content-Type':'application/json'},
    body:JSON.stringify({sql:document.getElementById('sql').value,limit:100})});
  const d=await r.json();
  if(d.error){document.getElementById('stats').textContent='ERROR: '+d.error;return}
  document.getElementById('stats').textContent=
    d.statistics.row_count+' rows in '+d.statistics.wall_seconds+'s';
  const o=document.getElementById('orig');o.innerHTML='';o.appendChild(tree(d.plan_tree&&d.plan_tree.original));
  const p=document.getElementById('opt');p.innerHTML='';p.appendChild(tree(d.plan_tree&&d.plan_tree.optimized));
  const rows=document.getElementById('rows');rows.innerHTML='';
  if(d.rows.length){
    const t=document.createElement('table'),h=t.insertRow();
    d.columns.forEach(c=>{const th=document.createElement('th');th.textContent=c;h.appendChild(th)});
    d.rows.forEach(row=>{const tr=t.insertRow();d.columns.forEach(c=>tr.insertCell().textContent=row[c])});
    rows.appendChild(t);
  }
}
</script></body></html>
"""


def _make_handler(spark: SparkSession):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _run(self, sql: str, limit, args=None) -> None:
            if not sql or not isinstance(sql, str):
                self._send(400, {"error": f"sql must be a non-empty string, got {sql!r}"})
                return
            try:
                limit = int(limit)
            except (TypeError, ValueError):
                self._send(400, {"error": f"limit must be an integer, got {limit!r}"})
                return
            if not 0 <= limit <= MAX_LIMIT:
                self._send(400, {"error": f"limit must be between 0 and {MAX_LIMIT}, got {limit}"})
                return
            try:
                self._send(200, api.query(spark, sql, collect_limit=limit, args=args))
            except PySparkException as e:  # the request's fault: parse, analysis, args, runtime
                self._send(400, {"error": str(e), "error_class": e.getCondition()})
            except Exception as e:  # the service's fault
                self._send(500, {"error": f"{type(e).__name__}: {e}"})

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            if url.path in ("/", "/index.html"):
                body = _INDEX_HTML.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            if url.path == "/health":
                self._send(200, {"status": "ok"})
                return
            if url.path == "/query":
                q = parse_qs(url.query)
                sql = (q.get("sql") or [""])[0]
                self._run(sql, (q.get("limit") or [MAX_LIMIT])[0])
                return
            self._send(404, {"error": "unknown path"})

        def do_POST(self) -> None:  # noqa: N802
            if urlparse(self.path).path != "/query":
                self._send(404, {"error": "unknown path"})
                return
            n = int(self.headers.get("Content-Length", "0"))
            try:
                payload = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._send(400, {"error": "invalid JSON body"})
                return
            if not isinstance(payload, dict):
                self._send(400, {"error": "the JSON body must be an object"})
                return
            self._run(
                payload.get("sql", ""),
                payload.get("limit", MAX_LIMIT),
                args=payload.get("args"),
            )

        def log_message(self, fmt: str, *args) -> None:  # quiet test runs
            pass

    return Handler


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Start the query service on a daemon thread; returns the server
    (its bound port is `server.server_address[1]`). Call
    `server.shutdown()` and then `server.server_close()` to stop.

    The service takes over `spark`: every request is a short,
    parameterized, LIMIT-bounded query, so `serve` sets the session
    confs in `SESSION_CONFS` on it for that shape of work:
    - `spark.sql.adaptive.enabled=false`: AQE runs each exchange as its
      own job and re-plans after it; on a small request that is one more
      job per exchange (a two-join top-k runs 4 jobs with it, 3 without).
    - `spark.sql.codegen.wholeStage=false`: whole-stage codegen inlines
      numeric and timestamp literals into the generated class, so every
      new bound value compiles each stage again. A point lookup's
      collect at sf0.01 on 4 vCPUs took 27 ms with a repeated literal
      and 36 ms with a new one; without whole-stage codegen, 21 and
      25 ms.
    - `spark.sql.codegen.factoryMode=NO_CODEGEN`: without whole-stage
      codegen, predicates and projections are still generated one
      expression tree at a time, with the bound literals inlined, so
      each new value still compiled a class with Janino and then
      JIT-compiled it for one use (20 compiles for 20 point lookups).
      With this conf they take Spark's interpreted implementations and
      a request compiles nothing. Under two clients sending the
      perfbench templates at sf0.01 on 4 vCPUs, the JVM's CPU per
      request fell from 104-115 to 71-82 ms in the first 20 s after
      start (JIT compiler and task threads) and from 43 to 36 ms once
      warm. The catch: interpreted expressions are slower per row (a
      600k-row grouped sum: 426 ms against 226 ms with only whole-stage
      codegen off), so a large scan belongs on the batch path, not on
      this service. Spark documents this conf as internal ("not
      supposed to be set by end users"); `tests/test_api.py` pins that
      Spark still honours it, so an upgrade that drops it fails there.
    Run batch work in another session (`spark.newSession()` shares the
    SparkContext and keeps its own confs); it keeps AQE and codegen.
    """
    for key, value in SESSION_CONFS.items():
        spark.conf.set(key, value)
    server = ThreadingHTTPServer((host, port), _make_handler(spark))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
