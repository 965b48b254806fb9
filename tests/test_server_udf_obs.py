"""HTTP server, UDF registry, observability table — reference app-layer parity.

Server tested through Flask's test client (the WSGI surface — same
request/response path as a socket without the port management).
"""

from __future__ import annotations

import base64

import pytest

from datafusion_dft_spark.catalog import register_views
from datafusion_dft_spark.config import AppConfig, HttpConfig, UdfConfig, parse_config
from datafusion_dft_spark.functions.udf_registry import UdfTypeError, register_udf, register_udfs
from datafusion_dft_spark.observability import Observability
from datafusion_dft_spark.server.http import create_app
from datafusion_dft_spark.sql import execute_sql


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    register_views(spark, sf_dir)
    app = create_app(spark, AppConfig(), sf_dir=sf_dir)
    app.testing = True
    return app.test_client()


def test_post_sql(client):
    r = client.post("/sql", json={"sql": "SELECT r_regionkey, r_name FROM region"})
    assert r.status_code == 200
    body = r.get_json()
    assert len(body["rows"]) == 5
    assert {c["name"] for c in body["schema"]} == {"r_regionkey", "r_name"}


def test_post_sql_result_limit(client):
    r = client.post("/sql", json={"sql": "SELECT * FROM lineitem", "limit": 7})
    assert len(r.get_json()["rows"]) == 7


def test_post_sql_pagination(client):
    """offset+limit page through an ordered result (TUI-slice analog)."""
    sql = "SELECT r_regionkey FROM region ORDER BY r_regionkey"
    page1 = client.post("/sql", json={"sql": sql, "limit": 2}).get_json()["rows"]
    page2 = client.post("/sql", json={"sql": sql, "limit": 2, "offset": 2}).get_json()["rows"]
    page3 = client.post("/sql", json={"sql": sql, "limit": 2, "offset": 4}).get_json()["rows"]
    assert [r["r_regionkey"] for r in page1 + page2 + page3] == [0, 1, 2, 3, 4]
    bad = client.post("/sql", json={"sql": sql, "offset": "x"})
    assert bad.status_code == 400 and "offset" in bad.get_json()["error"]


def test_post_sql_timeout_cancels(spark, sf_dir):
    """router.rs:75-81 — a query over the deadline is cancelled, 408."""
    import time as _time

    from datafusion_dft_spark.config import HttpConfig

    app = create_app(spark, AppConfig(http=HttpConfig(timeout_seconds=2)), sf_dir=sf_dir)
    app.testing = True
    c = app.test_client()
    t0 = _time.time()
    r = c.post(
        "/sql",
        json={"sql": "SELECT count(*) FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c"},
    )
    elapsed = _time.time() - t0
    assert r.status_code == 408
    assert "timeout" in r.get_json()["error"]
    assert elapsed < 60  # the O(n^3) join would run far longer uncancelled
    # the session survives cancellation for subsequent requests
    ok = c.post("/sql", json={"sql": "SELECT 1 AS x"})
    assert ok.status_code == 200


def test_post_sql_error(client):
    r = client.post("/sql", json={"sql": "SELECT * FROM nope"})
    assert r.status_code == 400
    assert "error" in r.get_json()


def test_catalog_and_table(client):
    tables = {t["name"] for t in client.get("/catalog").get_json()["tables"]}
    assert {"region", "nation", "lineitem"} <= tables
    r = client.get("/table/spark_catalog/default/region")
    assert len(r.get_json()["rows"]) == 5


def test_catalog_is_one_show_tables_for_both_routings(spark, monkeypatch, tmp_path):
    """/catalog is SHOW TABLES on both routings, and the local and the
    flightsql-routed answer agree on name, database and type for a
    temporary view and a persistent table. The local route no longer
    needs ``Catalog.listTables`` (one metadata lookup per table)."""
    from pyspark.sql.catalog import Catalog

    from datafusion_dft_spark.server.flight import DftFlightServer

    spark.sql("DROP TABLE IF EXISTS catalog_probe_table")
    spark.sql(
        f"CREATE TABLE catalog_probe_table (a INT) USING parquet LOCATION '{tmp_path}/t'"
    )
    spark.range(1).createOrReplaceTempView("catalog_probe_view")
    fs = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        cfg = parse_config({"flightsql": {"connection_url": f"http://127.0.0.1:{fs.port}"}})
        c = create_app(spark, cfg).test_client()

        def listing(url):
            r = c.get(url)
            assert r.status_code == 200, r.get_json()
            return {t["name"]: t for t in r.get_json()["tables"]}

        routed = listing("/catalog?flightsql=true")

        def boom(*a, **kw):
            raise AssertionError("listTables called")

        monkeypatch.setattr(Catalog, "listTables", boom)
        local = listing("/catalog")

        def key(t):
            return (t["name"], t["database"], t["type"])

        assert sorted(map(key, local.values())) == sorted(map(key, routed.values()))
        assert key(local["catalog_probe_view"]) == ("catalog_probe_view", None, "TEMPORARY")
        assert key(local["catalog_probe_table"]) == ("catalog_probe_table", "default", "TABLE")
        assert local["catalog_probe_view"]["catalog"] is None
        assert local["catalog_probe_table"]["catalog"] == spark.catalog.currentCatalog()
    finally:
        fs.shutdown()
        spark.sql("DROP TABLE IF EXISTS catalog_probe_table")
        spark.catalog.dropTempView("catalog_probe_view")


def test_tpch_endpoint(client):
    r = client.get("/tpch/1")
    body = r.get_json()
    assert r.status_code == 200 and body["query"] == "q01_pricing_summary"
    assert len(body["rows"]) == 6
    # All 22 shapes are registered; an out-of-range id must 404 cleanly.
    assert client.get("/tpch/2").status_code == 200
    assert client.get("/tpch/23").status_code == 404


def test_health_and_metrics(client):
    assert client.get("/health").get_json()["status"] == "ok"
    client.post("/sql", json={"sql": "SELECT 1 AS one"})  # populate a histogram
    text = client.get("/metrics").get_data(as_text=True)
    assert "dft_spark_requests_total" in text
    # per-path latency histogram (src/telemetry parity): cumulative
    # buckets + sum + count for the exercised path
    assert 'dft_spark_request_duration_ms_bucket{path="/sql",le="+Inf"}' in text
    assert 'dft_spark_request_duration_ms_count{path="/sql"}' in text
    infs = [l for l in text.splitlines()
            if l.startswith('dft_spark_request_duration_ms_bucket{path="/sql"')]
    # buckets are cumulative: counts must be non-decreasing in le order
    counts = [int(l.rsplit(" ", 1)[1]) for l in infs]
    assert counts == sorted(counts)


def test_server_metrics_addr_config_parses():
    """[http_server]/[flightsql_server] server_metrics_addr
    (config.rs:293-295) lands on both config dataclasses; split_addr
    validates the host:port shape."""
    import pytest as _pytest

    from datafusion_dft_spark.config import parse_config
    from datafusion_dft_spark.server.metrics import split_addr

    cfg = parse_config(
        {"http_server": {"server_metrics_addr": "127.0.0.1:9000"},
         "flightsql_server": {"server_metrics_addr": "0.0.0.0:9001"}}
    )
    assert cfg.http.server_metrics_addr == "127.0.0.1:9000"
    assert cfg.flightsql.server_metrics_addr == "0.0.0.0:9001"
    assert split_addr("127.0.0.1:9000") == ("127.0.0.1", 9000)
    assert split_addr(None) is None and split_addr("") is None
    with _pytest.raises(ValueError, match="host:port"):
        split_addr("9000")


def test_dedicated_metrics_listener_matches_endpoint(spark, sf_dir):
    """The --metrics-port listener reuses the app's own rendering, so
    the dedicated port and GET /metrics can never disagree."""
    import urllib.request

    from datafusion_dft_spark.server.metrics import start_metrics_server

    app = create_app(spark, AppConfig(), sf_dir=sf_dir)
    app.testing = True
    tc = app.test_client()
    tc.post("/sql", json={"sql": "SELECT 1 AS one"})
    srv = start_metrics_server(app.dft_render_metrics, "127.0.0.1", 0)
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.server_address[1]}/metrics", timeout=10
        ) as resp:
            scraped = resp.read().decode()
        assert scraped == tc.get("/metrics").get_data(as_text=True)
        assert "dft_spark_requests_total" in scraped
    finally:
        srv.shutdown()


def test_observability_requests_table(client, spark):
    # the session's one log also holds earlier servers' rows for this SQL
    def ok_rows() -> int:
        (df,) = execute_sql(
            spark,
            "SELECT count(*) AS n FROM requests "
            "WHERE sql = 'SELECT 1 AS one' AND path = '/sql' AND status = 200",
        )
        return df.first().n

    before = ok_rows()
    client.post("/sql", json={"sql": "SELECT 1 AS one"})
    assert ok_rows() == before + 1
    (df,) = execute_sql(spark, "SELECT count(*) AS n FROM requests WHERE status = 400 OR status = 500")
    failed = df.first().n
    assert failed >= 1  # the error-path test above was recorded


def test_auth_basic_and_bearer(spark, sf_dir):
    cfg = AppConfig(http=HttpConfig(basic_auth="user:pass", bearer_token="tok"))
    app = create_app(spark, cfg, sf_dir=sf_dir)
    app.testing = True
    c = app.test_client()
    assert c.post("/sql", json={"sql": "SELECT 1"}).status_code == 401
    ok = c.post(
        "/sql",
        json={"sql": "SELECT 1 AS x"},
        headers={"Authorization": "Basic " + base64.b64encode(b"user:pass").decode()},
    )
    assert ok.status_code == 200
    ok2 = c.post("/sql", json={"sql": "SELECT 1 AS x"}, headers={"Authorization": "Bearer tok"})
    assert ok2.status_code == 200


def test_udf_row_mode(spark):
    register_udf(
        spark,
        UdfConfig(name="t_add", mode="row", input_types=["int64", "int64"], return_type="int64", function="tests.udf_fixtures:add"),
    )
    assert spark.sql("SELECT t_add(1, 2) AS s").collect()[0].s == 3


def test_udf_arrow_mode(spark):
    register_udf(
        spark,
        UdfConfig(name="t_scale", mode="arrow", input_types=["float64"], return_type="float64", function="tests.udf_fixtures:scale_series"),
    )
    got = spark.sql("SELECT t_scale(CAST(id AS DOUBLE)) AS v FROM range(3) ORDER BY v").collect()
    assert [r.v for r in got] == [0.0, 2.0, 4.0]


def test_udf_type_whitelist_enforced(spark):
    # native/row.rs:50-77: only int32/int64/float32/float64 are legal.
    with pytest.raises(UdfTypeError, match="unsupported UDF type 'string'"):
        register_udf(
            spark,
            UdfConfig(name="bad", mode="row", input_types=["string"], return_type="int64", function="tests.udf_fixtures:add"),
        )


def test_config_toml_roundtrip(tmp_path, spark):
    toml = """
[execution]
benchmark_iterations = 5
[execution.settings]
"spark.sql.shuffle.partitions" = "8"
[http_server]
result_limit = 50
basic_auth = "a:b"
[[udf]]
name = "cfg_add"
mode = "row"
input_types = ["int64", "int64"]
return_type = "int64"
function = "tests.udf_fixtures:add"
"""
    p = tmp_path / "config.toml"
    p.write_text(toml)
    from datafusion_dft_spark.config import load_config

    cfg = load_config(str(p))
    assert cfg.execution.benchmark_iterations == 5
    assert cfg.execution.settings["spark.sql.shuffle.partitions"] == "8"
    assert cfg.http.result_limit == 50 and cfg.http.basic_auth == "a:b"
    assert register_udfs(spark, cfg.udfs) == ["cfg_add"]
    assert spark.sql("SELECT cfg_add(20, 22) AS s").collect()[0].s == 42


def test_observability_schema_matches_reference(spark):
    # observability/mod.rs:144-157 column set.
    obs = Observability(spark, view_name="requests_schema_probe")
    cols = {f.name: f.dataType.simpleString() for f in obs.df().schema.fields}
    assert cols == {
        "request_id": "string",
        "path": "string",
        "sql": "string",
        "timestamp": "timestamp",
        "duration_ms": "bigint",
        "rows": "bigint",
        "status": "int",
    }


def test_http_flightsql_routing(spark, sf_dir):
    """The reference's flightsql flag (router.rs:88-172): POST /sql body
    field and GET query params route execution through the configured
    [flightsql] connection_url client instead of the local session."""
    from datafusion_dft_spark.config import FlightClientConfig, parse_config
    from datafusion_dft_spark.server.flight import DftFlightServer

    fs = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        cfg = parse_config(
            {"flightsql": {"connection_url": f"http://127.0.0.1:{fs.port}"}}
        )
        assert isinstance(cfg.flightsql_client, FlightClientConfig)
        c = create_app(spark, cfg, sf_dir=sf_dir).test_client()

        r = c.post("/sql", json={"sql": "SELECT 41 + 1 AS answer", "flightsql": True})
        assert r.status_code == 200, r.get_json()
        assert r.get_json()["rows"] == [{"answer": 42}]

        r = c.get("/catalog?flightsql=true")
        assert r.status_code == 200
        names = [t.get("tableName") or t.get("name") for t in r.get_json()["tables"]]
        assert "nation" in names

        r = c.get("/table/spark_catalog/default/nation?flightsql=true")
        assert r.status_code == 200
        assert len(r.get_json()["rows"]) == 25
    finally:
        fs.shutdown()
