"""One application context for the four frontends.

Every frontend builds its session through ``session.app_session`` and
every server checks credentials through ``config.credentials_ok``. The
per-session state (corpus tables, UDF signatures, catalog pairs, the
routines flag and the ``requests`` log) lives on ``session.AppContext``.
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys
import textwrap
import threading

import pytest

from datafusion_dft_spark.config import AppConfig, credentials_ok
from datafusion_dft_spark.sql import execute_sql

FRONTENDS = ("cli", "repl", "http", "flight")


def _main(frontend: str):
    if frontend == "cli":
        from datafusion_dft_spark.cli import main
    elif frontend == "repl":
        from datafusion_dft_spark.repl import main
    elif frontend == "http":
        from datafusion_dft_spark.server.http import main
    else:
        from datafusion_dft_spark.server.flight import main
    return main


@pytest.mark.parametrize("frontend", FRONTENDS)
def test_every_frontend_applies_the_config_at_start_up(
    frontend, spark, sf_dir, tmp_path, monkeypatch
):
    """Each main registers the config's [[udf]] and the --register
    corpus; the servers and the CLI under --run-ddl also run ddl_path,
    the REPL leaves it to \\ddl run."""
    from flask import Flask

    from datafusion_dft_spark.catalog import load_tables, register_views
    from datafusion_dft_spark.server.flight import DftFlightServer

    udf, view = f"startup_add_{frontend}", f"startup_ddl_{frontend}"
    ddl = tmp_path / "startup.sql"
    ddl.write_text(f"CREATE OR REPLACE TEMPORARY VIEW {view} AS SELECT 7 AS seven")
    cfg = tmp_path / "startup.toml"
    cfg.write_text(
        f'[execution]\nddl_path = "{ddl}"\n\n'
        f'[[udf]]\nname = "{udf}"\nmode = "row"\n'
        'input_types = ["int64", "int64"]\nreturn_type = "int64"\n'
        'function = "tests.udf_fixtures:add"\n'
    )
    corpus = list(load_tables(spark, sf_dir))
    assert corpus
    for t in corpus:
        spark.catalog.dropTempView(t)

    def no_input(prompt=""):
        raise EOFError

    servers = []
    monkeypatch.setattr(Flask, "run", lambda self, *a, **kw: None)
    monkeypatch.setattr(DftFlightServer, "serve", lambda self: servers.append(self))
    monkeypatch.setattr("builtins.input", no_input)
    argv = ["--config", str(cfg), "--register", sf_dir]
    argv += {
        "cli": ["--run-ddl", "-c", "SELECT 1"],
        "repl": [],
        "http": ["--port", "0"],
        "flight": ["--port", "0"],
    }[frontend]
    try:
        assert _main(frontend)(argv) == 0
        assert spark.sql(f"SELECT {udf}(40, 2) AS s").first().s == 42
        assert all(spark.catalog.tableExists(t) for t in corpus)
        assert spark.catalog.tableExists(view) == (frontend != "repl")
    finally:
        for s in servers:
            s.shutdown()
        spark.catalog.dropTempView(view)
        register_views(spark, sf_dir)  # later tests expect the corpus views


def test_app_session_calls_the_traced_entry_points_once(spark, sf_dir, monkeypatch):
    """The benchmark launcher wraps ``session.get_spark`` and
    ``catalog.register_views`` on their modules; the bootstrap must
    reach each through that module attribute, once."""
    from datafusion_dft_spark import catalog, session

    calls = {"get_spark": 0, "register_views": 0}

    def counting(name, fn):
        def inner(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)

        return inner

    monkeypatch.setattr(session, "get_spark", counting("get_spark", session.get_spark))
    monkeypatch.setattr(
        catalog, "register_views", counting("register_views", catalog.register_views)
    )
    got = session.app_session(
        AppConfig(), "datafusion-dft-spark-tests", register=sf_dir, run_ddl=True
    )
    assert got is spark
    assert calls == {"get_spark": 1, "register_views": 1}


def _basic(userpass: str) -> str:
    return "Basic " + base64.b64encode(userpass.encode()).decode()


@pytest.mark.parametrize(
    "authorization, basic, bearer, ok",
    [
        pytest.param("", None, None, True, id="nothing-configured"),
        pytest.param("Bearer tok", None, None, True, id="nothing-configured-any-header"),
        pytest.param("Bearer sekret", None, "sekret", True, id="right-bearer"),
        pytest.param("Bearer sekreX", None, "sekret", False, id="wrong-bearer"),
        pytest.param("Bearer sekret-longer", None, "sekret", False, id="bearer-extended"),
        pytest.param("", None, "sekret", False, id="missing-header"),
        pytest.param(_basic("u:p"), "u:p", None, True, id="right-basic"),
        pytest.param(_basic("u:x"), "u:p", None, False, id="wrong-basic"),
        pytest.param("Basic abc", "u:p", None, False, id="undecodable-base64"),
        pytest.param("Basic é", "u:p", None, False, id="non-ascii-base64"),
        pytest.param("Bearer u:p", "u:p", None, False, id="bearer-sent-basic-configured"),
        pytest.param(_basic("u:p"), None, "u:p", False, id="basic-sent-bearer-configured"),
    ],
)
def test_credentials_ok(authorization, basic, bearer, ok):
    assert credentials_ok(authorization, basic, bearer) is ok


def test_both_servers_record_to_one_requests_log(spark, sf_dir):
    """An HTTP app and a FlightSQL server on one session share its one
    ``requests`` log: each records its request and the view shows both."""
    import pyarrow.flight as fl

    from datafusion_dft_spark.server.flight import DftFlightServer
    from datafusion_dft_spark.server.http import create_app
    from datafusion_dft_spark.session import AppContext

    http_sql, flight_sql = "SELECT 1 AS one_log_http", "SELECT 1 AS one_log_flight"
    app = create_app(spark, AppConfig(), sf_dir=sf_dir)
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        assert server._obs is AppContext.of(spark).requests_log(None)
        assert app.test_client().post("/sql", json={"sql": http_sql}).status_code == 200
        client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        desc = fl.FlightDescriptor.for_command(
            json.dumps({"type": "statement", "query": flight_sql}).encode()
        )
        info = client.get_flight_info(desc)
        assert client.do_get(info.endpoints[0].ticket).read_all().num_rows == 1
        client.close()
    finally:
        server.shutdown()
    (df,) = execute_sql(spark, "SELECT request_id, sql, path FROM requests")
    rows = df.collect()
    assert (http_sql, "/sql") in {(r.sql, r.path) for r in rows}
    flight_ids = {r.request_id for r in rows if r.sql == flight_sql}
    assert {r.path for r in rows if r.request_id in flight_ids} == {
        "/get_flight_info_statement", "/do_get_statement"
    }


def test_a_new_session_starts_with_an_empty_context(tmp_path):
    """Session A registers a UDF, a directory database and reads
    information_schema.routines; after ``stop()`` a new session B has
    none of that state. A subprocess, because the suite's shared
    session must not be stopped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_dir = tmp_path / "db" / "dft" / "tpch" / "t1"
    table_dir.mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2]}), table_dir / "part-0.parquet")
    script = textwrap.dedent(
        f"""
        import json
        from datafusion_dft_spark.catalog import register_db
        from datafusion_dft_spark.config import UdfConfig
        from datafusion_dft_spark.functions.udf_registry import register_udf
        from datafusion_dft_spark.session import AppContext, get_spark
        from datafusion_dft_spark.sql import execute_sql, prepare_statement

        conf = {{"spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"}}
        a = get_spark(master="local[1]", conf=conf)
        register_udf(a, UdfConfig("ctx_add", "row", ["int64", "int64"], "int64",
                                  "tests.udf_fixtures:add"))
        register_db(a, {str(tmp_path / "db")!r})
        execute_sql(a, "SELECT count(*) FROM information_schema.routines")[-1].collect()
        ctx_a = AppContext.of(a)
        before = {{
            "udfs": sorted(ctx_a.udfs), "pairs": sorted(map(list, ctx_a.catalog_schemas)),
            "fresh": ctx_a.routines_fresh,
            "rewrite": prepare_statement(a, "SELECT * FROM dft.tpch.t1"),
        }}
        a.stop()
        b = get_spark(master="local[1]", conf=conf)
        ctx_b = AppContext.of(b)
        after = {{
            "same": ctx_b is ctx_a, "udfs": sorted(ctx_b.udfs),
            "pairs": sorted(map(list, ctx_b.catalog_schemas)), "fresh": ctx_b.routines_fresh,
            "rewrite": prepare_statement(b, "SELECT * FROM dft.tpch.t1"),
        }}
        b.stop()
        print(json.dumps({{"before": before, "after": after}}))
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["before"] == {
        "udfs": ["ctx_add"], "pairs": [["dft", "tpch"]], "fresh": True,
        "rewrite": "SELECT * FROM tpch.t1",
    }
    assert got["after"] == {
        "same": False, "udfs": [], "pairs": [], "fresh": False,
        "rewrite": "SELECT * FROM dft.tpch.t1",
    }


def test_app_context_is_created_once_under_concurrent_first_use(spark):
    from datafusion_dft_spark.session import AppContext

    fresh = spark.newSession()
    barrier = threading.Barrier(8)
    got = []

    def first_use():
        barrier.wait()
        got.append(AppContext.of(fresh))

    threads = [threading.Thread(target=first_use) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 8 and all(c is got[0] for c in got)
    assert got[0] is not AppContext.of(spark)
