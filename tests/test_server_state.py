"""Server state shared across request threads.

The servers keep no process-global cache bookkeeping: no route builds a
query whose operators ``.cache()`` an intermediate, so a request leaves
Spark's cache as it found it. The one piece of state every request
thread touches, the metrics registry, is locked.
"""

from __future__ import annotations

import json
import sys
import threading

import pyarrow as pa
import pyarrow.flight as fl

from datafusion_dft_spark.catalog import register_views
from datafusion_dft_spark.config import AppConfig
from datafusion_dft_spark.server.flight import DftFlightServer
from datafusion_dft_spark.server.http import create_app
from datafusion_dft_spark.server.metrics import Metrics


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_server_routes_leave_no_cached_relations(spark, sf_dir):
    """Every HTTP route and both FlightSQL statement kinds run without
    persisting a relation. If a route ever reaches a builder that
    caches, its relations would outlive the request: this fails first."""
    register_views(spark, sf_dir)
    spark.catalog.clearCache()
    assert _cache_is_empty(spark)

    c = create_app(spark, AppConfig(), sf_dir=sf_dir).test_client()
    for method, path, body in (
        ("post", "/sql", {"sql": "SELECT r_name FROM region"}),
        ("get", "/tpch/1", None),
        ("get", "/catalog", None),
        ("get", "/table/spark_catalog/default/region", None),
    ):
        r = c.post(path, json=body) if method == "post" else c.get(path)
        assert r.status_code == 200, (path, r.get_json())

    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
    try:
        def fetch(cmd: dict) -> pa.Table:
            info = client.get_flight_info(fl.FlightDescriptor.for_command(json.dumps(cmd).encode()))
            return client.do_get(info.endpoints[0].ticket).read_all()

        assert fetch({"type": "statement", "query": "SELECT n_name FROM nation"}).num_rows == 25
        res = list(client.do_action(fl.Action(
            "create_prepared_statement",
            json.dumps({"query": "SELECT count(*) AS n FROM nation"}).encode(),
        )))
        handle = json.loads(res[0].body.to_pybytes().decode())["prepared_statement_handle"]
        assert fetch({"type": "prepared_statement", "handle": handle}).to_pylist() == [{"n": 25}]
        list(client.do_action(fl.Action(
            "close_prepared_statement",
            json.dumps({"prepared_statement_handle": handle}).encode(),
        )))
    finally:
        client.close()
        server.shutdown()

    assert _cache_is_empty(spark)


def _check_histograms(text: str) -> int:
    """Assert every path's buckets are cumulative up to +Inf and equal
    its count; return the total count over all paths."""
    buckets: dict[str, list[int]] = {}
    counts: dict[str, int] = {}
    for line in text.splitlines():
        if line.startswith("dft_spark_request_duration_ms_bucket"):
            path = line.split('path="')[1].split('"')[0]
            buckets.setdefault(path, []).append(int(line.rsplit(" ", 1)[1]))
        elif line.startswith("dft_spark_request_duration_ms_count"):
            path = line.split('path="')[1].split('"')[0]
            counts[path] = int(line.rsplit(" ", 1)[1])
    for path, b in buckets.items():
        assert b == sorted(b) and b[-1] == counts[path], (path, b, counts[path])
    return sum(counts.values())


def test_metrics_registry_is_exact_under_concurrency():
    """Request threads increment counters and observe latencies while a
    scraper renders: no update is lost, no render raises, and every
    rendered histogram is consistent (no bucket ahead of its count)."""
    m = Metrics("requests_total", "rows_returned_total", "prepared_statements_active")
    n_threads, n_iter = 8, 2000
    errors: list[BaseException] = []
    done = threading.Event()

    def worker(i: int) -> None:
        try:
            for k in range(n_iter):
                m.inc("requests_total")
                m.inc("rows_returned_total", 3)
                m.set("prepared_statements_active", k)
                # new paths keep appearing, growing the histogram map mid-render
                m.observe(f"/p{i}/{k % 100}", float(k % 50))
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def scraper() -> None:
        try:
            while not done.is_set():
                _check_histograms(m.render())
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        s = threading.Thread(target=scraper)
        s.start()
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        done.set()
        s.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)

    assert not any(t.is_alive() for t in [s, *threads])
    assert not errors, errors[0]
    assert m["requests_total"] == n_threads * n_iter
    assert m["rows_returned_total"] == 3 * n_threads * n_iter
    text = m.render()
    assert f"dft_spark_requests_total {n_threads * n_iter}" in text
    assert "# TYPE dft_spark_prepared_statements_active gauge" in text
    assert _check_histograms(text) == n_threads * n_iter
