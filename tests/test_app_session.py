"""One application context for the four frontends.

Every frontend builds its session through ``session.app_session`` and
every server checks credentials through ``config.credentials_ok``.
"""

from __future__ import annotations

import base64

import pytest

from datafusion_dft_spark.config import AppConfig, credentials_ok

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
