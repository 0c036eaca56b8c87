"""sql_service workload: the paper's SQL -> plans -> rows path over HTTP.

The engine's query service runs in a child process (server.py). Two
closed-loop client threads here each send `POST /query` with
`limit=100` and send the next request only when the reply has arrived.
A client's pass is every template once, in a seed-shuffled order, with
parameters drawn from the seed; each view template and its base-table
twin get the same parameters in a pass. Every reply is checked against
DuckDB after the timed window.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import math
import os
import random
import re
import statistics
import subprocess
import sys
import threading
import time

import common
import datagen

LIMIT = 100
CLIENTS = 2
WARMUP_PASSES = 1
# p80 is the tail: the run always collects enough replies for ten of
# them to lie beyond it.
MIN_REQUESTS = 60

_CUSTOMER_POINT = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM {t} "
    "WHERE c_custkey = :k"
)
_CUSTOMER_RANGE = (
    "SELECT c_custkey, c_name, c_acctbal FROM {t} "
    "WHERE c_acctbal BETWEEN :lo AND :hi ORDER BY c_custkey"
)
_ORDERS_POINT = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM {t} "
    "WHERE o_orderkey = :k"
)
_ORDERS_RANGE = (
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM {t} "
    "WHERE o_orderdate >= CAST(:d0 AS TIMESTAMP) AND o_orderdate < CAST(:d1 AS TIMESTAMP) "
    "ORDER BY o_orderkey"
)

# name -> SQL; `*_v` templates read the fragment views, their twins the
# base tables.
TEMPLATES = {
    "customer_v_point": _CUSTOMER_POINT.format(t="customer_v"),
    "customer_point": _CUSTOMER_POINT.format(t="customer"),
    "customer_v_range": _CUSTOMER_RANGE.format(t="customer_v"),
    "customer_range": _CUSTOMER_RANGE.format(t="customer"),
    "orders_v_point": _ORDERS_POINT.format(t="orders_v"),
    "orders_point": _ORDERS_POINT.format(t="orders"),
    "orders_v_range": _ORDERS_RANGE.format(t="orders_v"),
    "orders_range": _ORDERS_RANGE.format(t="orders"),
    "view_join_groupby": (
        "SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS revenue "
        "FROM customer_v JOIN orders_v ON c_custkey = o_custkey "
        "WHERE o_orderdate >= CAST(:d0 AS TIMESTAMP) AND o_orderdate < CAST(:d1 AS TIMESTAMP) "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    "q3_join": (
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "o_orderdate, o_orderpriority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = :seg AND o_orderdate < CAST(:d AS TIMESTAMP) "
        "AND l_shipdate > CAST(:d AS TIMESTAMP) "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
    "nation_groupby": (
        "SELECT n_name, count(*) AS n_customers, sum(c_acctbal) AS balance "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > :min GROUP BY n_name ORDER BY n_name"
    ),
}
TWINS = {name: name.replace("_v_", "_") for name in TEMPLATES if "_v_" in name}


def _day(rng: random.Random, span: int) -> tuple[str, str]:
    d0 = datagen.ORDER_EPOCH + dt.timedelta(days=rng.randrange(datagen.ORDER_DAYS - span))
    return d0.strftime("%Y-%m-%d"), (d0 + dt.timedelta(days=span)).strftime("%Y-%m-%d")


def make_pass(rng: random.Random, sf: float) -> list[tuple[str, dict]]:
    """Every template once, shuffled; twins share their parameters."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    lo = round(rng.uniform(-999.0, 9500.0), 2)
    d0, d1 = _day(rng, 7)
    g0, g1 = _day(rng, 90)
    args = {
        "customer_v_point": {"k": rng.randrange(n_cust)},
        "customer_v_range": {"lo": lo, "hi": lo + 200.0},
        "orders_v_point": {"k": rng.randrange(n_ord)},
        "orders_v_range": {"d0": d0, "d1": d1},
        "view_join_groupby": {"d0": g0, "d1": g1},
        "q3_join": {"seg": rng.choice(datagen.SEGMENTS), "d": _day(rng, 0)[0]},
        "nation_groupby": {"min": round(rng.uniform(0.0, 8000.0), 2)},
    }
    for view, base in TWINS.items():
        args[base] = args[view]
    ops = [(name, args[name]) for name in TEMPLATES]
    rng.shuffle(ops)
    return ops


def _post(port: int, sql: str, args: dict) -> tuple[int, bytes]:
    """(HTTP status, body); status 0 with the error text when the request
    could not be made, so a dead or refusing service counts as failures."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        body = json.dumps({"sql": sql, "limit": LIMIT, "args": args})
        conn.request("POST", "/query", body=body, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException) as e:
        return 0, f"{type(e).__name__}: {e}".encode()
    finally:
        conn.close()


class _Server:
    """The service child process and its line protocol (see server.py)."""

    def __init__(self, ctx, log_path: str) -> None:
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "server.py")
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, script, *ctx.data_dirs],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=ctx.workdir,
        )
        self.hello = self._read()

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            self.log.flush()
            with open(self.log.name) as f:
                tail = f.read()[-2000:]
            raise RuntimeError(f"query service exited early:\n{tail}")
        return json.loads(line)

    def command(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        finally:
            self.log.close()


def run(ctx) -> dict:
    con = _duck(ctx.data_dirs[-1])  # fails early if the check cannot run
    server = _Server(ctx, os.path.join(ctx.workdir, "server.log"))
    try:
        port = server.hello["port"]
        rngs = [random.Random(ctx.seed * 1000 + i) for i in range(CLIENTS)]
        window = _Window(ctx, server, port, rngs, ctx.sf)
        window.run()
        rss = common.peak_rss_mb(server.proc.pid)
        report = server.command("report") if ctx.trace else None
    finally:
        server.close()

    reqs = window.requests
    failures = _check(con, reqs)
    con.close()
    plain = [r for r in reqs if not r["traced"]]
    lat = [r["latency_s"] * 1000.0 for r in plain]
    result = {
        "attempted": len(reqs),
        "failures": failures,
        "latencies_ms": lat,
        "min_samples": MIN_REQUESTS if not ctx.trace else MIN_REQUESTS // 2,
        "pass_walls_s": [w for w, traced in window.passes if not traced],
        # A traced run spends about half its window traced.
        "throughput_qps": len(plain) / (window.seconds / 2 if ctx.trace else window.seconds),
        "ops_per_pass": len(TEMPLATES),
        "peak_rss_mb": rss,
        "setup": server.hello["setup"],
    }
    if ctx.trace:
        traced = [r for r in reqs if r["traced"]]
        result["overhead_ratio"] = (
            statistics.median([r["latency_s"] for r in traced])
            / statistics.median([r["latency_s"] for r in plain])
        )
        result["layer_ops"], result["detail"] = _layers(report, plain, traced)
        result["ops"] = report["records"]
        ctx.tracer.spans = report["spans"]
    return result


class _Window:
    """CLIENTS closed-loop threads. Each first runs WARMUP_PASSES untimed
    passes; then all time whole passes until the run's seconds are used
    and MIN_REQUESTS replies are in. A traced run has server tracing on
    in the middle half of the window only (off-on-on-off quarters), so a
    drift in speed over the window cancels out of the tracing overhead."""

    def __init__(self, ctx, server, port, rngs, sf) -> None:
        self.ctx, self.server, self.port, self.rngs, self.sf = ctx, server, port, rngs, sf
        self.requests: list[dict] = []
        self.passes: list[tuple[float, bool]] = []
        self.lock = threading.Lock()
        self.traced = False
        self.ready = threading.Barrier(CLIENTS + 1, action=self._go)

    def _go(self) -> None:
        self.start = time.perf_counter()

    def _enough(self) -> bool:
        with self.lock:
            n = len(self.requests)
        return time.perf_counter() - self.start >= self.ctx.seconds and n >= MIN_REQUESTS

    def _client(self, i: int) -> None:
        for _ in range(WARMUP_PASSES):
            for name, args in make_pass(self.rngs[i], self.sf):
                _post(self.port, TEMPLATES[name], args)
        self.ready.wait()
        while not self._enough():
            t_pass = time.perf_counter()
            pass_traced = False
            for name, args in make_pass(self.rngs[i], self.sf):
                traced = self.traced
                t0 = time.perf_counter()
                status, body = _post(self.port, TEMPLATES[name], args)
                t1 = time.perf_counter()
                pass_traced = pass_traced or traced or self.traced
                with self.lock:
                    self.requests.append({
                        "template": name, "args": args, "status": status,
                        "body": body, "latency_s": t1 - t0, "traced": traced or self.traced,
                    })
            self.passes.append((time.perf_counter() - t_pass, pass_traced))

    def run(self) -> None:
        threads = [threading.Thread(target=self._client, args=(i,)) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        self.ready.wait()
        if self.ctx.trace:
            for k, on in ((1, True), (3, False)):
                time.sleep(max(0.0, self.start + k * self.ctx.seconds / 4 - time.perf_counter()))
                self.traced = on
                self.server.command("trace on" if on else "trace off")
        for t in threads:
            t.join()
        self.seconds = time.perf_counter() - self.start


def _duck(data_dir: str):
    """DuckDB over the same parquet, with customer_v and orders_v defined
    as `fragments.register_fragment_views` defines them."""
    import duckdb

    from distributedqueryengine_spark.fragments import N_HORIZONTAL_SITES
    from distributedqueryengine_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute(
        "CREATE VIEW customer_v AS SELECT * FROM "
        "(SELECT c_custkey, c_name, c_nationkey FROM customer) "
        "JOIN (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) USING (c_custkey)"
    )
    con.execute("CREATE VIEW orders_v AS " + " UNION ALL ".join(
        f"SELECT * FROM orders WHERE o_orderkey % {N_HORIZONTAL_SITES} = {i}"
        for i in range(N_HORIZONTAL_SITES)
    ))
    return con


def _canon(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _check(con, reqs: list[dict]) -> list[str]:
    """Compare every reply with DuckDB's answer to its (template, args);
    return one line per failed request."""
    failures = []
    expected: dict[str, tuple[list[str], list[tuple]]] = {}
    for r in reqs:
        key = json.dumps([r["template"], r["args"]], sort_keys=True)
        if key not in expected:
            sql = re.sub(r":(\w+)", r"$\1", TEMPLATES[r["template"]])
            # The service keeps the first LIMIT rows; every template that
            # can return more has a total ORDER BY, so these are defined.
            if " LIMIT " not in sql:
                sql += f" LIMIT {LIMIT}"
            res = con.execute(sql, r["args"])
            cols = [d[0] for d in res.description]
            expected[key] = cols, [tuple(_canon(v) for v in row) for row in res.fetchall()]
        cols, rows = expected[key]
        where = f"{r['template']} {json.dumps(r['args'], sort_keys=True)}"
        if r["status"] != 200:
            failures.append(f"{where}: HTTP {r['status']} {r['body'][:200]!r}")
            continue
        got = json.loads(r["body"])
        got_rows = [tuple(row[c] for c in cols) for row in got["rows"]] if got["columns"] == cols else None
        if got_rows is None:
            failures.append(f"{where}: columns {got['columns']} != {cols}")
        elif len(got_rows) != len(rows) or not all(
                _same(a, b) for ra, rb in zip(got_rows, rows) for a, b in zip(ra, rb)):
            failures.append(f"{where}: {len(got_rows)} rows differ from DuckDB's {len(rows)}")
    return failures


def _layers(report: dict, plain: list[dict], traced: list[dict]) -> tuple[list[dict], dict]:
    """Per-request layer records from the server's spans, plus the
    service-only detail (template p50s, view overhead, span means)."""
    spans = report["spans"]
    self_t = {int(k): v for k, v in report["self"].items()}
    by_op: dict[str, dict[str, list[float]]] = {}
    for s in spans:
        d = by_op.setdefault(s["op"], {})
        d.setdefault(s["name"], []).append(s["end"] - s["start"])
        if s["name"] == "api.query":
            d.setdefault("api.execute", []).append(self_t[s["id"]])
    ops = []
    for rec in report["records"]:
        d = by_op.get(rec["op"], {})
        ops.append({
            "construct_s": sum(d.get("session.sql", [])),
            "construct_jobs": rec.get("construct_jobs", 0),
            "execute_s": sum(d.get("api.execute", [])),
            "spark": rec["spark"],
            "rdds_after": rec["rdds_after"],
            "storage_bytes": rec["storage_bytes"],
        })

    def mean_ms(name: str) -> float:
        vals = [v for d in by_op.values() for v in d.get(name, [])]
        return 1000.0 * sum(vals) / max(1, len(vals))

    detail = {
        "api.query_ms": mean_ms("api.query"),
        "api.sql_ms": mean_ms("session.sql"),
        "api.execute_ms": mean_ms("api.execute"),
        "plans.plan_report_ms": mean_ms("plans.plan_report"),
        "plans.plan_tree_ms": mean_ms("plans.plan_tree"),
        "service.overhead_ms": 1000.0 * sum(r["latency_s"] for r in traced) / max(1, len(traced))
        - mean_ms("api.query"),
        "service.response_bytes": sum(len(r["body"]) for r in plain) / max(1, len(plain)),
    }
    p50 = {}
    for name in TEMPLATES:
        lat = [r["latency_s"] * 1000.0 for r in plain if r["template"] == name]
        if lat:
            p50[name] = statistics.median(lat)
            detail[f"template.{name}.p50_ms"] = p50[name]
    ratios = [p50[v] / p50[b] for v, b in TWINS.items() if v in p50 and b in p50]
    if ratios:
        detail["fragments.view_overhead_ratio"] = statistics.median(ratios)
    return ops, detail
