"""HTTP SQL server — the reference's REST frontend re-expressed on Flask.

Reference: src/server/http/router.rs —
- ``POST /sql`` with ``{"sql": ...}`` → JSON rows, server-side
  ``result_limit`` applied through the DataFrame API (router.rs:93-110,
  local.rs:562-568; default 1000 rows, src/config.rs:318-321);
- ``GET /catalog`` = SHOW TABLES (router.rs:119-138);
- ``GET /table/{catalog}/{schema}/{table}`` = SELECT * LIMIT n
  (router.rs:153-173);
- ``GET /tpch/{n}`` canned queries (router.rs:180-196) — here they run
  the registry's TPC-H-adapted suite;
- basic/bearer auth, ``/health``, Prometheus-style ``/metrics``, and a
  per-request insert into the session's one ``requests`` log
  (``AppContext.requests_log``, shared with the FlightSQL server);
- every endpoint accepts the reference's ``flightsql`` flag (body field
  on POST /sql, query param on the GETs, router.rs:88-172): execution
  routes through the ``[flightsql] connection_url`` client instead of
  the local session, 400 when the capability is absent.

Timeouts: the reference cancels queries after ``timeout_seconds`` and
returns 408 (router.rs:75-81 TimeoutLayer). Same here: each request's
Spark jobs run in a dedicated job group; a timer cancels the group at
the deadline, aborting the in-flight collect, and the handler maps the
cancellation to 408.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import re
import time

from flask import Flask, Response, jsonify, request

from ..config import AppConfig, credentials_ok, grpc_location as _grpc_location
from ..session import AppContext
from ..sql import execute_sql, split_statements
from .metrics import Metrics


def _json_conv(v):
    """JSON coercion shared by the local and flightsql response paths —
    one converter so the two routings can never serialize a value
    differently."""
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return base64.b64encode(v).decode()
    if isinstance(v, dict):
        return {k: _json_conv(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_conv(x) for x in v]
    return v


def _int_field(body: dict, key: str, default: int) -> int:
    raw = body.get(key, default)
    try:
        return int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"'{key}' must be an integer, got {raw!r}") from None


def _df_to_json_rows(df, limit: int) -> list[dict]:
    rows = df.limit(limit).collect()
    return [
        {k: _json_conv(v) for k, v in r.asDict(recursive=True).items()} for r in rows
    ]


def _catalog_tables(rows: list[dict], catalog: str | None) -> list[dict]:
    """``SHOW TABLES`` rows in the documented ``/catalog`` shape, for
    both routings, so the ``flightsql`` flag changes execution and not
    the API contract (router.rs:119-138). Column names differ per
    backend (Spark: namespace/tableName/isTemporary; DataFusion and
    standard: table_catalog/table_schema/table_name/table_type), so
    both are probed; a row shape with neither passes through raw.
    ``type`` is TABLE or TEMPORARY (a DataFusion backend says
    'BASE TABLE'/'VIEW'). A temporary view has no catalog; other tables
    take the row's catalog, else ``catalog``."""

    def pick(r, *keys):
        for k in keys:
            if r.get(k):  # '' (Spark's empty namespace) == absent
                return r[k]
        return None

    tables = []
    for r in rows:
        name = pick(r, "tableName", "table_name", "name")
        if name is None:
            return rows
        raw_type = pick(r, "table_type", "type") or (
            "TEMPORARY" if r.get("isTemporary") else "TABLE"
        )
        temporary = "TEMP" in raw_type.upper()
        tables.append(
            {
                "catalog": None if temporary else (pick(r, "table_catalog", "catalog") or catalog),
                "database": pick(r, "namespace", "table_schema", "database"),
                "name": name,
                "type": "TEMPORARY" if temporary else "TABLE",
            }
        )
    return tables


def _drain_flight(reader, need: int | None):
    """Buffer Flight stream batches until ``need`` rows arrive (None =
    all), then cancel the remainder of the stream. Keeps HTTP-server
    memory bounded by offset+limit rows instead of the full routed
    result (the flight server's own result_limit defaults to uncapped,
    so a routed ``SELECT *`` over a large table would otherwise
    materialize entirely in this process)."""
    import pyarrow as pa

    # Read the schema BEFORE any cancel: on a real FlightStreamReader
    # this blocks until the server's first stream message arrives, so
    # (a) the result schema is in hand even when we then cancel with
    # zero rows buffered (accessing .schema on an already-cancelled
    # stream can raise FlightCancelledError), and (b) the server-side
    # do_get handler has demonstrably started producing before we
    # cancel it.
    schema = reader.schema
    batches, got = [], 0
    while True:
        if need is not None and got >= need:
            try:
                reader.cancel()
            except Exception:  # best-effort cancel: the rows needed are already in hand
                pass
            break
        try:
            chunk = reader.read_chunk()
        except StopIteration:
            break
        if chunk.data is None:
            continue
        batches.append(chunk.data)
        got += chunk.data.num_rows
    return pa.Table.from_batches(batches, schema=schema)


def _flight_exec(
    fc,
    sql: str,
    limit: int | None,
    offset: int = 0,
    timeout: float | None = None,
):
    """Execute ``sql`` through the configured FlightSQL server and return
    (json_rows, schema_list) — the ``flightsql=true`` path of every HTTP
    endpoint (router.rs:88-172: ExecOptions routes execution through the
    FlightSQL client instead of the local session). Client auth/headers
    come from the same [flightsql_client] merge the CLI uses, and
    ``timeout`` bounds each gRPC call so routed requests honor the HTTP
    timeout contract (the reference's TimeoutLayer covers all routes)."""
    import pyarrow.flight as fl

    from ..config import client_call_headers
    from .flightsql_proto import encode_command

    headers = [(k.encode(), v.encode()) for k, v in client_call_headers(fc)]
    # ONE deadline for the whole request, not per gRPC call: a
    # multi-statement script makes 2 calls per statement, and handing
    # each its own full timeout would let the request run
    # statements×2×timeout — the reference's TimeoutLayer bounds the
    # request. Each call gets the REMAINING time.
    deadline = (time.perf_counter() + timeout) if timeout else None

    def options():
        remaining = None
        if deadline is not None:
            remaining = deadline - time.perf_counter()
            if remaining <= 0:
                raise fl.FlightTimedOutError("request deadline exceeded")
        return fl.FlightCallOptions(timeout=remaining, headers=headers)

    client = fl.FlightClient(_grpc_location(fc.connection_url))
    try:
        table = None
        stmts = split_statements(sql)
        for i, stmt in enumerate(stmts):
            desc = fl.FlightDescriptor.for_command(
                encode_command({"type": "statement", "query": stmt})
            )
            info = client.get_flight_info(desc, options())
            reader = client.do_get(info.endpoints[0].ticket, options())
            from ..sql import contains_copy

            if i < len(stmts) - 1:
                # Intermediate results are discarded — but a COPY sent
                # as its own single-statement command is a deferred
                # script whose WRITE runs inside the server's do_get:
                # cancelling before the stream completes could abort
                # the write mid-flight, so COPY statements drain fully
                # (their result is one count row — draining is free).
                # Plain statements stop at the schema message.
                _drain_flight(reader, None if contains_copy(stmt) else 0)
            else:
                # Same hazard as the intermediate case: a final COPY's
                # write runs inside the server's do_get, so a tiny
                # offset+limit (e.g. limit=0) must not cancel the
                # stream before the write completes — drain fully and
                # slice afterwards (the COPY result is one count row).
                need = None if limit is None else offset + limit
                if contains_copy(stmt):
                    need = None
                table = _drain_flight(reader, need)
    finally:
        client.close()
    if table is None:
        return [], []
    if offset:
        table = table.slice(offset)
    if limit is not None:
        table = table.slice(0, limit)
    rows = [{k: _json_conv(v) for k, v in r.items()} for r in table.to_pylist()]
    schema = [{"name": f.name, "type": str(f.type)} for f in table.schema]
    return rows, schema


def create_app(spark, config: AppConfig | None = None, sf_dir: str | None = None) -> Flask:
    config = config or AppConfig()
    app = Flask("datafusion_dft_spark")
    obs = AppContext.of(spark).requests_log(config.db_path)
    metrics = Metrics("requests_total", "requests_failed", "rows_returned_total")

    def guarded(path: str, sql: str | None, fn):
        metrics.inc("requests_total")
        t0 = time.perf_counter()
        auth = request.headers.get("Authorization", "")
        if not credentials_ok(auth, config.http.basic_auth, config.http.bearer_token):
            metrics.inc("requests_failed")
            obs.record(path, sql, 0, None, 401)
            return jsonify({"error": "unauthorized"}), 401
        # Real cancellation (router.rs:75-81 TimeoutLayer -> 408): the
        # request's Spark jobs run in a dedicated job group; a timer
        # cancels the group at timeout_seconds, aborting the collect.
        import threading
        import uuid as _uuid

        sc = spark.sparkContext
        group = f"http-{_uuid.uuid4()}"
        timed_out = threading.Event()

        def _cancel():
            timed_out.set()
            try:
                sc.cancelJobGroup(group)
            except Exception:  # best-effort cancel; timed_out decides the 408
                pass

        sc.setJobGroup(group, path, interruptOnCancel=True)
        timer = threading.Timer(config.http.timeout_seconds, _cancel)
        timer.start()
        try:
            payload, n_rows = fn()
            ms = int((time.perf_counter() - t0) * 1000)
            obs.record(path, sql, ms, n_rows, 200)
            metrics.inc("rows_returned_total", n_rows or 0)
            return jsonify(payload)
        except Exception as e:  # recorded with its status, returned as 400/408
            metrics.inc("requests_failed")
            ms = int((time.perf_counter() - t0) * 1000)
            # flightsql-routed requests time out via the per-call gRPC
            # deadline rather than the Spark job-group cancel
            if timed_out.is_set() or type(e).__name__ == "FlightTimedOutError":
                obs.record(path, sql, ms, None, 408)
                return jsonify({"error": f"query exceeded {config.http.timeout_seconds}s timeout"}), 408
            obs.record(path, sql, ms, None, 400)
            return jsonify({"error": str(e).split("\n")[0]}), 400
        finally:
            metrics.observe(path, (time.perf_counter() - t0) * 1000)
            timer.cancel()
            sc.setJobGroup("", "")

    def _flightsql_unavailable():
        """router.rs:98-103 — asking for flightsql routing when the
        capability is absent is a 400, not a 500. Here the capability is
        pyarrow.flight (the compile-feature analog)."""
        try:
            import pyarrow.flight  # noqa: F401

            return None
        except ImportError:
            return (
                jsonify({"error": "FlightSQL is not enabled on this server"}),
                400,
            )

    def _wants_flightsql_param() -> bool:
        return request.args.get("flightsql", "").lower() in ("1", "true")

    @app.post("/sql")
    def post_sql():
        body = request.get_json(force=True, silent=True)
        if not isinstance(body, dict) or not str(body.get("sql", "")).strip():
            return jsonify({"error": "body must be JSON with a non-empty 'sql' field"}), 400
        sql = body["sql"]
        routed = bool(body.get("flightsql"))
        if routed:
            gate = _flightsql_unavailable()
            if gate is not None:
                return gate

        def run():
            # Parsed inside guarded(): a bad limit or offset must surface
            # as a 400 with metrics + observability recorded, not a 500.
            limit = _int_field(body, "limit", config.http.result_limit)
            offset = _int_field(body, "offset", 0)
            if routed:
                rows, schema = _flight_exec(
                    config.flightsql_client,
                    sql,
                    limit,
                    offset=max(offset, 0),
                    timeout=config.http.timeout_seconds,
                )
                return {"rows": rows, "schema": schema}, len(rows)
            dfs = execute_sql(spark, sql)
            if not dfs:
                return {"rows": [], "schema": []}, 0
            df = dfs[-1]
            if offset > 0:
                # Pagination analog of the TUI's batch slicing: the plan's
                # GlobalLimit absorbs offset+limit, so a page deep into an
                # ordered result still never materializes the full set.
                df = df.offset(offset)
            rows = _df_to_json_rows(df, limit)
            return (
                {"rows": rows, "schema": [{"name": f.name, "type": f.dataType.simpleString()} for f in df.schema.fields]},
                len(rows),
            )

        return guarded("/sql", sql, run)

    @app.get("/catalog")
    def get_catalog():
        routed = _wants_flightsql_param()
        if routed:
            gate = _flightsql_unavailable()
            if gate is not None:
                return gate

        def run():
            if routed:
                rows, _ = _flight_exec(
                    config.flightsql_client,
                    "SHOW TABLES",
                    None,
                    timeout=config.http.timeout_seconds,
                )
                catalog = None
            else:
                rows = [r.asDict() for r in spark.sql("SHOW TABLES").collect()]
                catalog = spark.catalog.currentCatalog()
            tables = _catalog_tables(rows, catalog)
            return {"tables": tables}, len(tables)

        return guarded("/catalog", "SHOW TABLES", run)

    @app.get("/table/<catalog>/<schema>/<table>")
    def get_table(catalog: str, schema: str, table: str):
        if not re.fullmatch(r"[A-Za-z0-9_]+", table):
            return jsonify({"error": "invalid table name"}), 400
        sql = f"SELECT * FROM {table}"  # temp views are schema-less; 3-part kept for API parity
        if _wants_flightsql_param():
            gate = _flightsql_unavailable()
            if gate is not None:
                return gate

            def run_flight():
                rows, _ = _flight_exec(
                    config.flightsql_client,
                    f"{sql} LIMIT {config.http.result_limit}",
                    config.http.result_limit,
                    timeout=config.http.timeout_seconds,
                )
                return {"rows": rows}, len(rows)

            return guarded(f"/table/{catalog}/{schema}/{table}", sql, run_flight)

        def run():
            df = spark.table(table)
            rows = _df_to_json_rows(df, config.http.result_limit)
            return {"rows": rows}, len(rows)

        return guarded(f"/table/{catalog}/{schema}/{table}", sql, run)

    @app.get("/tpch/<int:n>")
    def get_tpch(n: int):
        from ..registry import all_queries

        name = next((q for q in all_queries() if q.startswith(f"q{n:02d}_")), None)
        if name is None:
            return jsonify({"error": f"TPC-H query {n} not in registry (corpus lacks its tables)"}), 404
        if sf_dir is None:
            return jsonify({"error": "server started without --sf-dir"}), 400

        def run():
            df = all_queries()[name].build(spark, sf_dir)
            rows = _df_to_json_rows(df, config.http.result_limit)
            return {"query": name, "rows": rows}, len(rows)

        return guarded(f"/tpch/{n}", name, run)

    @app.get("/")
    def root():
        # router.rs:62-65 greeting, adapted.
        return "Hello, from datafusion-dft-spark!"

    @app.get("/health")
    @app.get("/health-check")  # router.rs:66-69 path parity
    def health():
        return jsonify({"status": "ok", "spark_version": spark.version})

    @app.get("/metrics")
    def prometheus_metrics():
        return Response(metrics.render(), mimetype="text/plain")

    # The dedicated metrics listener (--metrics-port) reuses the same
    # rendering so the two exposition points can never disagree.
    app.dft_render_metrics = metrics.render
    return app


def main(argv: list[str] | None = None) -> int:
    import argparse

    from ..config import load_config
    from ..session import app_session
    from .metrics import start_metrics_listener

    p = argparse.ArgumentParser(prog="datafusion-dft-spark-server")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--config", help="TOML config file")
    p.add_argument("--register", help="corpus directory to register as views")
    p.add_argument(
        "--metrics-port", type=int,
        help="also serve Prometheus metrics on a dedicated port "
        "(reference --metrics-addr, src/server/mod.rs:112-129)",
    )
    args = p.parse_args(argv)

    config = load_config(args.config, app="http_server") if args.config else AppConfig()
    spark = app_session(
        config, "datafusion-dft-spark-http", register=args.register, run_ddl=True
    )
    app = create_app(spark, config, sf_dir=args.register)
    start_metrics_listener(
        app.dft_render_metrics, args.host, args.metrics_port, config.http.server_metrics_addr
    )
    app.run(host=args.host, port=args.port, threaded=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
