"""Serving workload: an open-loop request mix against the HTTP server and
the FlightSQL server, each started through its own ``main`` over a
seeded corpus.

One run:

1. Launch both servers at once (``launcher.py``); ``setup_s`` is the time
   until both answer a health check.
2. First results: each operation once, cold, checked; the HTTP ones in
   order on one connection while the Flight ones run on another.
   ``first_result_s`` is the sum of their latencies.
3. A fixed ladder of open-loop rates shares the run's ``seconds``. One
   generator process with at most ``nproc`` connections sends every
   request at its due time; latency runs from the due time, so a stall
   also bills the requests queued behind it. Every body is checked.
   ``op_ms.geomean`` and ``sweep_s`` summarise the per-operation median
   latencies of the nominal (lowest) rung, which runs second.
4. ``max_rate_ops`` is how fast the top rung, which is above capacity,
   drains: its requests over the time from its start to its last
   response. The ladder's highest rung that keeps p90 under
   ``LATENCY_LIMIT_S`` with no growing backlog is a per-layer figure.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

from . import stats
from .common import (
    ROOT,
    STATE,
    RssSampler,
    Tracer,
    cpu_count,
    digest_arrow,
    ensure_corpus,
    oracle_digests,
    program_env,
)

SF = 0.1
# The operations, one request each per cycle of the mix. No source gives
# their proportions: the reference load-tests each of its HTTP scenarios
# (``SELECT 1``, ``/catalog``, an information_schema fetch) as a run of
# its own with the same settings, so each operation gets an equal share.
# COPY is the write path beside the reads; every request also writes the
# servers' ``requests`` table. ``information_schema.tables`` is left
# out: its first request on the HTTP server takes 9-10 s on a 4-core
# host, against the server's 10 s default timeout, so it fails at random.
MIX = (
    "http.select1",
    "http.catalog",
    "http.q6",
    "http.copy",
    "flight.q1",
    "flight.q6_prepared",
)
CYCLE = len(MIX)
# The ladder, in run order: (rate in requests/s, seconds of due times in
# a run of LADDER_SECONDS). A run of other length scales every rung, in
# whole cycles of the mix, so that its seconds set the run's length. The
# 4/s rung runs first so the servers' JIT has warmed up by the nominal
# rung. The rates are set against this commit's measured capacity: the
# nominal rung meets the latency limit and the top rung is above
# capacity, so how fast it drains measures the rate the servers sustain.
LADDER = ((4.0, 4.0), (2.0, 16.0), (16.0, 2.0))
LADDER_SECONDS = sum(s for _, s in LADDER)
NOMINAL = 2.0
LATENCY_Q = 0.9
LATENCY_LIMIT_S = 2.0
READY_TIMEOUT_S = 150.0
# Connections of the load generator: at most one per core.
CONNECTIONS = max(2, min(cpu_count(), 4))
REQUEST_TIMEOUT_S = 60.0

Q6 = "q06_forecast_revenue"
Q1 = "q01_pricing_summary"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One launcher process group: the server's Python, its JVM and its
    Python workers."""

    def __init__(self, kind: str, port: int, corpus: str, spans: str | None, log: str):
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "launcher.py"), kind]
        if spans:
            cmd += ["--spans", spans]
        cmd += ["--", "--port", str(port), "--register", corpus]
        self.kind = kind
        self._log = open(log, "w")
        env = dict(os.environ)
        env.update(program_env())
        self.proc = subprocess.Popen(
            cmd,
            cwd=ROOT,
            env=env,
            stdin=subprocess.PIPE,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def alive(self) -> bool:
        return self.proc.poll() is None

    def stop(self) -> None:
        """Ask the launcher to write its spans and exit, then stop the
        whole process group and wait until every member has ended."""
        pgid = self.proc.pid
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=20)
        except (subprocess.TimeoutExpired, OSError):
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            deadline = time.time() + 10
            while time.time() < deadline and _group_alive(pgid):
                time.sleep(0.1)
            if not _group_alive(pgid):
                break
        if self.proc.poll() is None:
            self.proc.wait(timeout=10)
        self._log.close()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                pass
    return False


# ------------------------------------------------------------- clients


@dataclass
class Expect:
    q6_revenue: float
    q1_digest: str
    copy_rows: dict[int, int]


class Client:
    """One connection to each server; used by one generator thread."""

    def __init__(self, http_port: int, flight_port: int, prepared: str | None, expect: Expect, out_dir: str):
        import pyarrow.flight as fl

        self.fl = fl
        self.http = http.client.HTTPConnection("127.0.0.1", http_port, timeout=REQUEST_TIMEOUT_S)
        self.flight = fl.FlightClient(f"grpc://127.0.0.1:{flight_port}")
        self.call = fl.FlightCallOptions(timeout=REQUEST_TIMEOUT_S)
        self.prepared = prepared
        self.expect = expect
        self.out_dir = out_dir

    def close(self) -> None:
        self.http.close()
        self.flight.close()

    def _http(self, method: str, path: str, body: dict | None, rid: str):
        headers = {"X-Bench-Id": rid}
        data = None
        if body is not None:
            data = json.dumps(body)
            headers["Content-Type"] = "application/json"
        try:
            self.http.request(method, path, body=data, headers=headers)
            resp = self.http.getresponse()
            payload = resp.read()
        except (OSError, http.client.HTTPException):
            self.http.close()  # reconnects on the next request
            raise
        if resp.status != 200:
            raise RuntimeError(f"{path}: HTTP {resp.status}: {payload[:200]!r}")
        return json.loads(payload)

    def _flight(self, cmd: dict):
        info = self.flight.get_flight_info(
            self.fl.FlightDescriptor.for_command(json.dumps(cmd).encode()), self.call
        )
        return self.flight.do_get(info.endpoints[0].ticket, self.call).read_all()

    def run(self, op: str, arg: int, rid: str) -> bool:
        """Send one request; True when the response is correct."""
        e = self.expect
        if op == "http.select1":
            rows = self._http("POST", "/sql", {"sql": "SELECT 1 AS one"}, rid)["rows"]
            return rows == [{"one": 1}]
        if op == "http.catalog":
            tables = self._http("GET", "/catalog", None, rid)["tables"]
            return "lineitem" in {t["name"] for t in tables}
        if op == "http.q6":
            rows = self._http("POST", "/sql", {"sql": q6_sql()}, rid)["rows"]
            return len(rows) == 1 and math.isclose(float(rows[0]["revenue"]), e.q6_revenue, rel_tol=1e-9)
        if op == "http.copy":
            path = os.path.join(self.out_dir, f"copy-{rid}.parquet")
            sql = f"COPY (SELECT * FROM supplier WHERE s_nationkey = {arg}) TO '{path}' STORED AS PARQUET"
            rows = self._http("POST", "/sql", {"sql": sql}, rid)["rows"]
            import pyarrow.parquet as pq

            n = pq.read_table(path).num_rows
            return rows == [{"count": e.copy_rows[arg]}] and n == e.copy_rows[arg]
        if op == "flight.q1":
            return digest_arrow(self._flight({"type": "statement", "query": q1_sql()})) == e.q1_digest
        if op == "flight.q6_prepared":
            t = self._flight({"type": "prepared_statement", "handle": self.prepared})
            return t.num_rows == 1 and math.isclose(float(t.column(0)[0].as_py()), e.q6_revenue, rel_tol=1e-9)
        raise ValueError(f"unknown operation {op}")


def q6_sql() -> str:
    from datafusion_dft_spark.registry import all_queries

    return " ".join(all_queries()[Q6].oracle.split())


def q1_sql() -> str:
    from datafusion_dft_spark.registry import all_queries

    return " ".join(all_queries()[Q1].oracle.split())


def expectations(corpus) -> Expect:
    import duckdb

    digests = oracle_digests(corpus, [Q1])
    con = duckdb.connect()
    for t in ("lineitem", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus.path, t + '.parquet')}'")
    revenue = float(con.sql(q6_sql()).fetchone()[0])
    copy_rows = dict(con.sql("SELECT s_nationkey, count(*) FROM supplier GROUP BY 1").fetchall())
    con.close()
    return Expect(revenue, digests[Q1], {k: copy_rows.get(k, 0) for k in range(25)})


def prepare_q6(flight_port: int) -> str:
    import pyarrow.flight as fl

    c = fl.FlightClient(f"grpc://127.0.0.1:{flight_port}")
    try:
        res = list(c.do_action(fl.Action("create_prepared_statement", json.dumps({"query": q6_sql()}).encode())))
        return json.loads(res[0].body.to_pybytes().decode())["prepared_statement_handle"]
    finally:
        c.close()


# ------------------------------------------------------------ load gen


def schedule(rng: random.Random, rate: float, cycles: int, start: float) -> list[tuple[float, str, int]]:
    """Whole seed-shuffled cycles of the mix, due at ``rate`` from
    ``start``, so every rung carries the mix's proportions. The int is
    the COPY's nation key."""
    cycle = list(MIX)
    ops: list[str] = []
    for _ in range(cycles):
        rng.shuffle(cycle)
        ops.extend(cycle)
    due = stats.due_times(rate, len(ops) / rate, start)
    return [(t, op, rng.randrange(25)) for t, op in zip(due, ops)]


def open_loop(clients: list[Client], plan: list[tuple[float, str, int]], tag: str) -> list[stats.Outcome]:
    """Send every planned request at its due time from at most
    ``len(clients)`` connections; a request waits for a free connection
    when all are busy, and that wait counts in its latency."""
    out: list[stats.Outcome | None] = [None] * len(plan)
    nxt = [0]
    lock = threading.Lock()

    def worker(client: Client) -> None:
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(plan):
                return
            due, op, arg = plan[i]
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            try:
                ok = client.run(op, arg, f"{tag}-{i}")
            except Exception as e:  # a failed request is counted, not fatal
                print(f"perfbench: {op} failed: {str(e)[:200]}", file=sys.stderr)
                ok = False
            out[i] = stats.Outcome(op, due, sent, time.perf_counter(), ok)

    threads = [threading.Thread(target=worker, args=(c,), daemon=True) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=REQUEST_TIMEOUT_S * len(plan) + 60)
        if t.is_alive():
            raise RuntimeError("load generator thread did not finish")
    return [o for o in out if o is not None]


# ---------------------------------------------------------------- run


def first_results(clients: list[Client], rng: random.Random) -> tuple[dict[str, float], int]:
    """Each operation once, cold: the HTTP ones in order on one
    connection while the Flight ones run in order on another."""
    first: dict[str, float] = {}
    failed = [0]
    args = {op: rng.randrange(25) for op in MIX}

    def serial(client: Client, ops: list[str]) -> None:
        for op in ops:
            t = time.perf_counter()
            try:
                ok = client.run(op, args[op], f"first-{op}")
            except Exception as e:  # counted, like any failed request
                print(f"perfbench: first {op} failed: {str(e)[:200]}", file=sys.stderr)
                ok = False
            first[op] = time.perf_counter() - t
            failed[0] += not ok

    ops = list(MIX)
    t = threading.Thread(target=serial, args=(clients[1], [o for o in ops if o.startswith("flight.")]))
    t.start()
    serial(clients[0], [o for o in ops if not o.startswith("flight.")])
    t.join(timeout=REQUEST_TIMEOUT_S * len(ops))
    if t.is_alive():
        raise RuntimeError("first Flight requests did not finish")
    return first, failed[0]


def run(seed: int, seconds: float, trace: bool) -> dict:
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    corpus = ensure_corpus(SF, seed)
    expect = expectations(corpus)
    phases["inputs"] = time.perf_counter() - t0
    run_dir = os.path.join(STATE, "serve")
    out_dir = os.path.join(run_dir, "copy-out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir)
    http_port, flight_port = _free_port(), _free_port()
    spans = {k: os.path.join(run_dir, f"spans-{k}.json") if trace else None for k in ("http", "flight")}
    rng = random.Random(seed)
    servers: list[Server] = []
    clients: list[Client] = []
    rungs: list[stats.Rung] = []
    with RssSampler([]) as rss:
        try:
            t0 = time.perf_counter()
            for kind, port in (("http", http_port), ("flight", flight_port)):
                servers.append(Server(kind, port, corpus.path, spans[kind], os.path.join(run_dir, f"{kind}.log")))
                rss.add_root(servers[-1].proc.pid)
            _wait_ready(servers, http_port, flight_port)
            setup_s = phases["setup"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            prepared = prepare_q6(flight_port)
            clients = [Client(http_port, flight_port, prepared, expect, out_dir) for _ in range(CONNECTIONS)]
            first, failed_first = first_results(clients, rng)
            phases["first"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for rate, due_s in LADDER:
                n = max(1, round(rate * due_s * seconds / LADDER_SECONDS / CYCLE))
                start = time.perf_counter() + 0.05
                plan = schedule(rng, rate, n, start)
                rung = stats.Rung(rate, start=start, end=start + n * CYCLE / rate)
                rung.outcomes = open_loop(clients, plan, f"r{rate:g}")
                rungs.append(rung)
            phases["ladder"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            for c in clients:
                c.close()
            for s in servers:
                s.stop()
            phases["teardown"] = time.perf_counter() - t0
    report = _report(rungs, first, failed_first, setup_s, rss.peak_mb, spans, trace, corpus, out_dir)
    report["detail"]["phases_s"] = phases
    return report


def _wait_ready(servers: list[Server], http_port: int, flight_port: int) -> None:
    import pyarrow.flight as fl

    deadline = time.perf_counter() + READY_TIMEOUT_S
    ready = {"http": False, "flight": False}
    while not all(ready.values()):
        if time.perf_counter() > deadline:
            raise RuntimeError(f"servers not ready after {READY_TIMEOUT_S}s: {ready}")
        for s in servers:
            if not s.alive():
                raise RuntimeError(f"{s.kind} server exited during start-up (see .perfbench/serve/{s.kind}.log)")
        if not ready["http"]:
            try:
                c = http.client.HTTPConnection("127.0.0.1", http_port, timeout=2)
                c.request("GET", "/health")
                ready["http"] = c.getresponse().status == 200
                c.close()
            except OSError:
                pass
        if not ready["flight"]:
            # A statement, not just an RPC listing: the server accepts
            # calls before its constructor has finished.
            c = fl.FlightClient(f"grpc://127.0.0.1:{flight_port}")
            try:
                cmd = fl.FlightDescriptor.for_command(json.dumps({"type": "statement", "query": "SELECT 1"}).encode())
                opts = fl.FlightCallOptions(timeout=5)
                info = c.get_flight_info(cmd, opts)
                ready["flight"] = c.do_get(info.endpoints[0].ticket, opts).read_all().num_rows == 1
            except fl.FlightError:
                pass
            finally:
                c.close()
        if not all(ready.values()):
            time.sleep(0.1)


def _report(rungs, first, failed_first, setup_s, peak_mb, spans, trace, corpus, out_dir) -> dict:
    outcomes = [o for r in rungs for o in r.outcomes]
    attempted = len(outcomes) + len(first)
    failed = failed_first + sum(not o.ok for o in outcomes)
    nominal = next(r for r in rungs if r.rate == NOMINAL)
    by_op: dict[str, list[float]] = {}
    for o in nominal.outcomes:
        by_op.setdefault(o.op, []).append(o.latency if o.ok else math.inf)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_result_s": (sum(first.values()), "s"),
        "sweep_s": (sum(stats.median(v) for v in by_op.values()), "s"),
        "op_ms.geomean": (stats.geomean([stats.median(v) for v in by_op.values()]) * 1e3, "ms"),
        "max_rate_ops": (stats.drain_rate(rungs[-1]), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    layers = _serve_layers(rungs, nominal, spans, out_dir) if trace else None
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
        "detail": {
            "corpus": {"sf": SF, "seed": corpus.seed, "tables": corpus.stats()},
            "first_s": first,
            "rungs": {
                f"{r.rate:g}": {
                    "n": len(r.outcomes),
                    "failed": sum(not o.ok for o in r.outcomes),
                    f"p{round(LATENCY_Q * 100)}_ms": stats.percentile([x * 1e3 for x in r.latencies()], LATENCY_Q)
                    if r.outcomes
                    else None,
                    "p50_ms": stats.percentile([x * 1e3 for x in r.latencies()], 0.5) if r.outcomes else None,
                    "backlog_grows": stats.backlog_grows(r.outcomes, r.start, r.end),
                    "tail": stats.tail(o.latency * 1e3 if o.ok else math.inf for o in r.outcomes),
                    "max_lag_ms": max((o.lag * 1e3 for o in r.outcomes), default=0.0),
                }
                for r in rungs
            },
        },
    }


def _serve_layers(rungs, nominal, spans, out_dir) -> dict:
    """Per-layer metrics of the serving path from the launchers' spans."""
    loaded = {}
    for kind, path in spans.items():
        with open(path) as f:
            loaded[kind] = json.load(f)
    tr = Tracer(True)
    for kind in ("http", "flight"):
        base = len(tr.spans)
        for s in loaded[kind]["spans"]:
            s = dict(s)
            s["idx"] += base
            if s["parent"] is not None:
                s["parent"] += base
            tr.spans.append(s)
    selfs = tr.self_times()

    def med_ms(name: str, self_time: bool = False) -> float:
        v = selfs.get(name, []) if self_time else tr.durations(name)
        return stats.median(v) * 1e3 if v else 0.0

    # Server-side duration per HTTP request, matched to the client's
    # send-to-receive time by request id.
    handle = {s["rid"]: s["end"] - s["start"] for s in tr.spans if s["name"] == "server.handle" and s["rid"]}
    outs = {f"r{r.rate:g}-{i}": o for r in rungs for i, o in enumerate(r.outcomes)}
    gaps = [(outs[rid].service - d) * 1e3 for rid, d in handle.items() if rid in outs]
    n_req = len(handle) + sum(1 for s in tr.spans if s["name"] == "server.get_flight_info")
    jobs = sum(loaded[k]["jobs"] or 0 for k in loaded)
    all_out = [o for r in rungs for o in r.outcomes]
    out = {
        "server.handle_ms": (stats.median(list(handle.values())) * 1e3 if handle else 0.0, "ms"),
        "server.gap_ms": (stats.median(gaps) if gaps else 0.0, "ms"),
        "server.jobs_per_req": (jobs / n_req if n_req else 0.0, "count"),
        # self time: a COPY's prepare runs the export inside it
        "sql.prepare_ms": (med_ms("sql.prepare", self_time=True), "ms"),
        "observability.record_ms": (med_ms("observability.record"), "ms"),
        "sources.copy_ms": (med_ms("sources.copy"), "ms"),
        "loadgen.lag_ms.p99": (stats.percentile([o.lag * 1e3 for o in all_out], 0.99), "ms"),
        "loadgen.backlog": (max(stats.backlog_at(r.outcomes, r.end) for r in rungs), "count"),
        "loadgen.ladder_rate": (stats.max_rate(rungs, LATENCY_Q, LATENCY_LIMIT_S), "1/s"),
        "loadgen.goodput_top": (stats.goodput(rungs[-1], LATENCY_LIMIT_S), "1/s"),
    }
    for op in MIX:
        lat = [o.latency * 1e3 if o.ok else math.inf for o in nominal.outcomes if o.op == op]
        out[f"req_ms.p95.{op}"] = (stats.percentile(lat, 0.95) if lat else 0.0, "ms")
    written = 0
    for dirpath, _, files in os.walk(out_dir):
        written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    out["sources.bytes_written"] = (written, "bytes")
    # start-up layers: the slower of the two servers
    for name in ("session.start", "catalog.register"):
        v = tr.durations(name)
        out[f"{name}_s"] = (max(v) if v else 0.0, "s")
    n_spans = len(tr.spans)
    out["trace.overhead_est_ms"] = (n_spans * Tracer.span_cost_s() * 1e3, "ms")
    return out
