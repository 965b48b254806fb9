"""FlightSQL frontend e2e: mirror of tests/server_cases/flightsql.rs.

Round-trips a real gRPC Arrow Flight server (random port) with a
pyarrow FlightClient: statement two-phase (get_flight_info -> do_get),
catalog RPCs, prepared-statement lifecycle, and auth rejection —
the contract of src/server/flightsql/service.rs.
"""

from __future__ import annotations

import base64
import json

import pyarrow as pa
import pyarrow.flight as fl
import pytest

from datafusion_dft_spark.catalog import register_views
from datafusion_dft_spark.config import AppConfig, FlightConfig, parse_config
from datafusion_dft_spark.functions.info_schema import refresh_information_schema
from datafusion_dft_spark.server.flight import DftFlightServer
from datafusion_dft_spark.sql import execute_sql


def _cmd(d: dict) -> fl.FlightDescriptor:
    return fl.FlightDescriptor.for_command(json.dumps(d).encode())


def _fetch(client: fl.FlightClient, descriptor: fl.FlightDescriptor, **call_opts) -> pa.Table:
    info = client.get_flight_info(descriptor, **call_opts)
    return client.do_get(info.endpoints[0].ticket, **call_opts).read_all()


@pytest.fixture(scope="module")
def flight_server(spark, sf_dir):
    register_views(spark, sf_dir)
    refresh_information_schema(spark)
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    yield server
    server.shutdown()


@pytest.fixture(scope="module")
def client(flight_server):
    c = fl.FlightClient(f"grpc://127.0.0.1:{flight_server.port}")
    yield c
    c.close()


def test_statement_two_phase(client, spark):
    """SELECT 1 round-trip — the flightsql.rs:25-71 smoke test."""
    table = _fetch(client, _cmd({"type": "statement", "query": "SELECT 1 AS one"}))
    assert table.num_rows == 1
    assert table.column("one").to_pylist() == [1]


def test_statement_schema_before_fetch(client):
    """Phase 1 alone must carry the result schema (service.rs:162-194)."""
    info = client.get_flight_info(
        _cmd({"type": "statement", "query": "SELECT n_name, n_nationkey FROM nation"})
    )
    assert [f.name for f in info.schema] == ["n_name", "n_nationkey"]
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 25
    assert table.schema.equals(info.schema)


def test_statement_against_corpus(client, spark):
    table = _fetch(
        client,
        _cmd({"type": "statement", "query": "SELECT count(*) AS n, min(n_nationkey) AS mn FROM nation"}),
    )
    assert table.to_pylist() == [{"n": 25, "mn": 0}]


def test_state_is_ready_before_the_server_binds(spark):
    """The base initializer binds the port and serves RPCs at once, so
    every attribute a handler reads must exist before it runs. pyarrow's
    FlightServerBase is an immutable type; a class placed between it and
    DftFlightServer in the MRO observes the instance at that moment."""
    seen = {}

    class _Probe(fl.FlightServerBase):
        def __init__(self, *args, **kwargs):
            for name in ("_spark", "_obs", "_lock", "metrics"):
                seen[name] = hasattr(self, name)
            super().__init__(*args, **kwargs)

    class _ProbedServer(DftFlightServer, _Probe):
        pass

    server = _ProbedServer(spark, "grpc://127.0.0.1:0")
    server.shutdown()
    assert seen == {"_spark": True, "_obs": True, "_lock": True, "metrics": True}


def test_unknown_ticket_errors(client):
    bad = fl.Ticket(json.dumps({"handle": "no-such-plan"}).encode())
    with pytest.raises(fl.FlightServerError, match="plan not found"):
        client.do_get(bad).read_all()


def test_catalogs_rpc(client):
    table = _fetch(client, _cmd({"type": "catalogs"}))
    assert "spark_catalog" in table.column("table_catalog").to_pylist()


def test_db_schemas_rpc(client):
    table = _fetch(client, _cmd({"type": "db_schemas"}))
    assert {"table_catalog", "table_schema"} == set(table.schema.names)
    assert table.num_rows >= 1


def test_tables_rpc_with_filter(client):
    table = _fetch(
        client,
        _cmd({"type": "tables", "table_name_filter_pattern": "nation", "table_types": ["VIEW"]}),
    )
    assert "nation" in table.column("table_name").to_pylist()
    # ilike filter: no non-matching names
    assert all("nation" in n for n in table.column("table_name").to_pylist())


def test_table_types_rpc(client):
    table = _fetch(client, _cmd({"type": "table_types"}))
    assert "VIEW" in table.column("table_type").to_pylist()


def test_sql_info_rpc(client):
    table = _fetch(client, _cmd({"type": "sql_info"}))
    row = table.to_pylist()[0]
    assert row["server_name"] == "datafusion-dft-spark"
    assert row["read_only"] is False


def test_xdbc_type_info_rpc(client):
    table = _fetch(client, _cmd({"type": "xdbc_type_info"}))
    assert table.num_rows == 12
    filtered = _fetch(client, _cmd({"type": "xdbc_type_info", "data_type": -5}))
    assert filtered.column("type_name_str").to_pylist() == ["BIGINT"]


def test_prepared_statement_lifecycle(client):
    """create -> schema in result -> info/fetch -> close -> gone
    (service.rs:563-855)."""
    res = list(
        client.do_action(
            fl.Action(
                "create_prepared_statement",
                json.dumps({"query": "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"}).encode(),
            )
        )
    )
    body = json.loads(res[0].body.to_pybytes().decode())
    handle = body["prepared_statement_handle"]
    schema = pa.ipc.read_schema(pa.py_buffer(base64.b64decode(body["dataset_schema"])))
    assert schema.names == ["n_regionkey", "n"]

    # Re-usable: two executions from one prepared plan.
    for _ in range(2):
        table = _fetch(client, _cmd({"type": "prepared_statement", "handle": handle}))
        assert table.num_rows == 5

    list(client.do_action(fl.Action("close_prepared_statement", json.dumps({"prepared_statement_handle": handle}).encode())))
    with pytest.raises(fl.FlightServerError, match="not found"):
        client.get_flight_info(_cmd({"type": "prepared_statement", "handle": handle}))


def test_prepared_copy_rejected(client, tmp_path):
    """COPY executes at rewrite time, so a prepared handle would re-serve
    a stale count without re-copying — the server must reject it (advisor
    r6); the export must not run as a side effect of the rejected prepare."""
    out = tmp_path / "never.parquet"
    with pytest.raises(fl.FlightServerError, match="cannot be prepared"):
        list(
            client.do_action(
                fl.Action(
                    "create_prepared_statement",
                    json.dumps({"query": f"COPY region TO '{out}'"}).encode(),
                )
            )
        )
    assert not out.exists()


def test_statement_copy_deferred_to_do_get(client, tmp_path):
    """GetFlightInfo is schema-only (service.rs:87-226): a direct COPY
    statement must not write at info time; the export happens at DoGet,
    and re-fetching the ticket re-copies (execute-per-run)."""
    out = tmp_path / "deferred.parquet"
    desc = _cmd({"type": "statement", "query": f"COPY region TO '{out}'"})
    info = client.get_flight_info(desc)
    assert [(f.name, str(f.type)) for f in info.schema] == [("count", "int64")]
    assert not out.exists()  # schema-only: no side effect yet
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.column("count").to_pylist() == [5]
    assert out.exists()
    # re-execution re-copies rather than serving a stale count
    mtime = out.stat().st_mtime_ns
    info2 = client.get_flight_info(desc)
    table2 = client.do_get(info2.endpoints[0].ticket).read_all()
    assert table2.column("count").to_pylist() == [5]
    assert out.stat().st_mtime_ns != mtime


def test_mid_script_copy_rejected(client, tmp_path):
    """A COPY in a NON-final position cannot be planned schema-only:
    GetFlightInfo would perform the write (and get_schema +
    get_flight_info would copy twice) — reject, and write nothing
    (advisor r7)."""
    out = tmp_path / "mid.parquet"
    desc = _cmd(
        {"type": "statement", "query": f"COPY region TO '{out}'; SELECT 1 AS one"}
    )
    with pytest.raises(pa.ArrowException, match="final statement"):
        client.get_flight_info(desc)
    assert not out.exists(), "mid-script COPY executed during planning"
    with pytest.raises(pa.ArrowException, match="final statement"):
        client.get_schema(desc)
    assert not out.exists()


def test_sql_info_subset_semantics(client):
    """An explicit info list selects a subset; all-unknown codes return
    an EMPTY result, not everything (FlightSQL subset semantics,
    advisor r7)."""
    partial = _fetch(client, _cmd({"type": "sql_info", "info": [1, 500]}))
    assert partial.schema.names == ["server_version"]
    assert partial.num_rows == 1
    unknown = _fetch(client, _cmd({"type": "sql_info", "info": [500, 9999]}))
    assert unknown.num_rows == 0


def test_list_actions(client):
    kinds = {a.type for a in client.list_actions()}
    assert kinds == {
        "create_prepared_statement",
        "close_prepared_statement",
        "CreatePreparedStatement",   # protobuf-envelope aliases
        "ClosePreparedStatement",    # (arrow.flight.protocol.sql)
    }


def test_observability_records_requests(flight_server, client, spark):
    _fetch(client, _cmd({"type": "statement", "query": "SELECT 1 AS x"}))
    paths = [r.path for r in flight_server._obs.df().collect()]
    assert "/get_flight_info_statement" in paths
    assert "/do_get_statement" in paths


def test_failed_record_fails_the_request(flight_server, client, monkeypatch):
    """A request whose log row cannot be written fails at the client
    instead of succeeding with its row lost."""

    def boom(*a, **kw):
        raise RuntimeError("requests log unavailable")

    monkeypatch.setattr(flight_server._obs, "record", boom)
    with pytest.raises(fl.FlightError, match="requests log unavailable"):
        client.get_flight_info(_cmd({"type": "statement", "query": "SELECT 1 AS x"}))


def test_bearer_auth(spark):
    config = AppConfig(flightsql=FlightConfig(bearer_token="sekrit"))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config)
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        with pytest.raises(fl.FlightUnauthenticatedError):
            c.get_flight_info(_cmd({"type": "statement", "query": "SELECT 1"}))
        opts = fl.FlightCallOptions(headers=[(b"authorization", b"Bearer sekrit")])
        table = _fetch(c, _cmd({"type": "statement", "query": "SELECT 1 AS one"}), options=opts)
        assert table.num_rows == 1
        c.close()
    finally:
        server.shutdown()


def test_basic_auth(spark):
    config = AppConfig(flightsql=FlightConfig(basic_auth="user:pass"))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config)
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        with pytest.raises(fl.FlightUnauthenticatedError):
            c.get_flight_info(_cmd({"type": "statement", "query": "SELECT 1"}))
        tok = base64.b64encode(b"user:pass").decode()
        opts = fl.FlightCallOptions(headers=[(b"authorization", f"Basic {tok}".encode())])
        table = _fetch(c, _cmd({"type": "statement", "query": "SELECT 1 AS one"}), options=opts)
        assert table.num_rows == 1
        c.close()
    finally:
        server.shutdown()


def test_concurrent_statements(flight_server):
    """Four clients fire statements in parallel — handles must not
    cross-talk (each ticket resolves to its own plan)."""
    import concurrent.futures as cf

    def one(i: int):
        c = fl.FlightClient(f"grpc://127.0.0.1:{flight_server.port}")
        try:
            t = _fetch(c, _cmd({"type": "statement", "query": f"SELECT {i} AS v, count(*) AS n FROM nation"}))
            return t.to_pylist()[0]
        finally:
            c.close()

    with cf.ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(one, range(8)))
    assert [r["v"] for r in results] == list(range(8))
    assert all(r["n"] == 25 for r in results)


def test_cli_flightsql_client(flight_server, capsys):
    """``-c 'SELECT 1' --flightsql --host`` against a live server —
    the flightsql.rs:25-71 custom-host smoke test."""
    from datafusion_dft_spark.cli import main as cli_main

    rc = cli_main(
        [
            "-c",
            "SELECT 1 AS one",
            "--flightsql",
            "--host",
            f"grpc://127.0.0.1:{flight_server.port}",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "| one |" in out and "| 1   |" in out


def test_flight_config_parse_and_exclusivity():
    cfg = parse_config({"flightsql_server": {"bearer_token": "t"}, "db": {"path": "/tmp/dft-db"}})
    assert cfg.flightsql.bearer_token == "t"
    assert cfg.db_path == "/tmp/dft-db"
    with pytest.raises(ValueError, match="one auth type"):
        parse_config({"flightsql_server": {"bearer_token": "t", "basic_auth": "u:p"}})


def test_do_get_streams_multiple_batches(spark, sf_dir):
    """Results stream as incremental record batches with bounded driver
    memory (no whole-result toArrow): a result bigger than the batch
    size must arrive in >1 batch, values intact."""
    register_views(spark, sf_dir)
    cfg = AppConfig(flightsql=FlightConfig(stream_batch_rows=100))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config=cfg)
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        info = c.get_flight_info(
            _cmd({"type": "statement",
                  "query": "SELECT l_orderkey, l_extendedprice FROM lineitem"})
        )
        reader = c.do_get(info.endpoints[0].ticket)
        n_batches = 0
        n_rows = 0
        for chunk in reader:
            n_batches += 1
            n_rows += chunk.data.num_rows
            assert chunk.data.num_rows <= 100
        want = spark.table("lineitem").count()
        assert n_rows == want
        assert n_batches >= (want // 100)
        c.close()
    finally:
        server.shutdown()


def test_do_get_result_limit_cap(spark, sf_dir):
    """[flightsql_server] result_limit caps do_get via a plan-side limit."""
    register_views(spark, sf_dir)
    cfg = parse_config({"flightsql_server": {"result_limit": 7, "stream_batch_rows": 3}})
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config=cfg)
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        table = _fetch(c, _cmd({"type": "statement",
                                "query": "SELECT l_orderkey FROM lineitem"}))
        assert table.num_rows == 7
        c.close()
    finally:
        server.shutdown()


def _to_table(df, schema: pa.Schema) -> pa.Table:
    """``arrow_batches(df)`` gathered into one table (the schema is for
    an empty result, which has no batch)."""
    from datafusion_dft_spark.server.flight import arrow_batches

    return pa.Table.from_batches(list(arrow_batches(df)), schema)


def test_arrow_batches_run_no_python_stage(spark):
    """do_get forwards the engine's own Arrow batches: the plan it runs
    has no Python-eval node, and a 100k-row, 2-partition result arrives
    complete and in order, equal to ``toArrow()``."""
    from datafusion_dft_spark.plans.bench import fresh_execution
    from datafusion_dft_spark.plans.explain import python_eval_node_ids
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, 1, 2).select(
        "id",
        F.col("id").cast("double").alias("price"),
        F.concat(F.lit("comment-"), F.col("id")).alias("comment"),
        F.array(F.col("id"), F.col("id") + 1).alias("pair"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    assert python_eval_node_ids(fresh_execution(df)) == set()
    want = df.toArrow()
    got = _to_table(df, want.schema)
    assert got.num_rows == 100_000
    assert got.equals(want)


def test_arrow_batches_match_to_arrow_type_matrix(spark):
    """The engine's batches carry every type ``toArrow()`` carries, with
    the same values: tz-aware and NTZ timestamps, decimal, binary, date,
    array, struct, map, null, boolean, a VectorUDT column (a struct on
    both paths) and an empty result. No row fallback is needed."""
    from pyspark.ml.linalg import Vectors

    df = spark.sql(
        """
        SELECT id,
               timestamp_micros(id * 1000000) AS ts,
               CAST(timestamp_micros(id * 1000000) AS TIMESTAMP_NTZ) AS ts_ntz,
               CAST(id AS DECIMAL(12, 2)) / 3 AS dec,
               CAST(CAST(id AS STRING) AS BINARY) AS bin,
               date_add(DATE'2020-01-01', CAST(id AS INT)) AS d,
               array(id, id + 1) AS arr,
               named_struct('a', id, 's', CAST(id AS STRING)) AS st,
               map(CAST(id AS STRING), id) AS m,
               NULL AS nothing,
               id % 2 = 0 AS flag,
               CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS maybe
        FROM range(0, 500, 1, 3)
        """
    )
    vectors = spark.createDataFrame(
        [(i, Vectors.dense([float(i), i + 0.5]) if i % 2 else Vectors.sparse(3, [1], [float(i)]))
         for i in range(40)],
        ["id", "v"],
    )
    for frame in (df, vectors, df.where("id < 0")):
        want = frame.toArrow()
        got = _to_table(frame, want.schema)
        assert got.num_rows == want.num_rows
        assert got.equals(want), frame.schema.simpleString()


def _completed_stages(sc, group: str) -> int:
    """Distinct stages that ran at least one task under ``group``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }
    return sum(
        1 for sid in stages
        if (info := tracker.getStageInfo(sid)) is not None and info.numCompletedTasks > 0
    )


def test_arrow_batches_execute_per_run(spark, sf_dir):
    """Delivering one planned aggregation twice runs every stage both
    times: the second delivery must not reuse the first one's shuffle
    output (a prepared statement's second DoGet would then skip its
    scan and serve data from before the files changed)."""
    from datafusion_dft_spark.server.flight import arrow_batches

    register_views(spark, sf_dir)
    df = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    sc = spark.sparkContext
    counts, rows = [], []
    try:
        for group in ("deliver-run-1", "deliver-run-2"):
            sc.setJobGroup(group, group)
            rows.append(sum(b.num_rows for b in arrow_batches(df)))
            counts.append(_completed_stages(sc, group))
    finally:
        sc.setJobGroup("", "")
    assert rows[0] == rows[1] > 0
    assert counts[0] >= 2  # the scan/partial aggregate and the final one
    assert counts[0] == counts[1], counts


def test_do_get_runs_a_command_once(spark, tmp_path):
    """A statement that is a command runs when it is planned; fetching
    its result must not run it again (an INSERT would insert twice)."""
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        spark.sql("DROP TABLE IF EXISTS flight_insert_once")
        spark.sql(
            f"CREATE TABLE flight_insert_once (a INT) USING parquet LOCATION '{tmp_path}/t'"
        )
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        _fetch(c, _cmd({"type": "statement", "query": "INSERT INTO flight_insert_once VALUES (1)"}))
        c.close()
        assert spark.table("flight_insert_once").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS flight_insert_once")
        server.shutdown()


def test_do_get_client_cancel_leaves_session_clean(spark, sf_dir):
    """A client that abandons a DoGet after one chunk: the engine stops
    serving (no Spark job stays active), the ``requests`` row carries
    status 1 (gRPC CANCELLED) and the next DoGet succeeds."""
    import time as _time

    register_views(spark, sf_dir)
    cfg = AppConfig(flightsql=FlightConfig(stream_batch_rows=100))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config=cfg)
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        # far larger than the transport's buffers: a small result can be
        # written out whole before the cancel arrives, and the server
        # then rightly records status 0
        info = c.get_flight_info(_cmd({"type": "statement", "query": "SELECT * FROM range(5000000)"}))
        handle = json.loads(info.endpoints[0].ticket.ticket.decode())["handle"]
        reader = c.do_get(info.endpoints[0].ticket)
        assert reader.read_chunk().data.num_rows == 100
        reader.cancel()

        def status():
            (df,) = execute_sql(
                spark,
                f"SELECT status FROM requests WHERE request_id = '{handle}' "
                "AND path = '/do_get_statement'",
            )
            rows = df.collect()
            return rows[0].status if rows else None

        tracker = spark.sparkContext.statusTracker()
        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline and (
            status() is None or tracker.getActiveJobsIds()
        ):
            _time.sleep(0.2)
        assert status() == 1
        assert tracker.getActiveJobsIds() == []
        assert _fetch(c, _cmd({"type": "statement", "query": "SELECT count(*) AS n FROM lineitem"})
                      ).column("n").to_pylist() == [spark.table("lineitem").count()]
        c.close()
    finally:
        server.shutdown()


def test_do_get_midstream_failure_records_failed(spark):
    """A Spark error inside the stream must surface to the client AND
    count as a failed request (ADVICE r5: the finally-block used to
    record success with a partial row count)."""
    from pyspark.sql import functions as F

    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        c = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
        info = c.get_flight_info(
            _cmd({"type": "statement",
                  "query": "SELECT assert_true(id < 10, 'boom') AS x, id FROM range(100000)"})
        )
        failed_before = server.metrics["requests_failed"]
        with pytest.raises(fl.FlightError):
            c.do_get(info.endpoints[0].ticket).read_all()
        assert server.metrics["requests_failed"] == failed_before + 1
        c.close()
    finally:
        server.shutdown()


def test_cli_flightsql_subcommands(flight_server, capsys):
    """`dft flightsql <command>` client surface (args.rs:148-196) e2e
    against the in-process server. Shared root options (--host/--limit)
    precede the subcommand, matching the reference's arg placement."""
    from datafusion_dft_spark.cli import main

    host = f"grpc://127.0.0.1:{flight_server.port}"
    checks = [
        (["flightsql", "statement-query", "--sql", "SELECT 1 AS one"], "one"),
        (["flightsql", "get-catalogs"], "spark_catalog"),
        (["flightsql", "get-db-schemas"], "table_schema"),
        (["flightsql", "get-tables", "--table-name-filter-pattern", "nation"], "nation"),
        (["flightsql", "get-table-types"], "VIEW"),
        (["flightsql", "get-sql-info"], "datafusion-dft-spark"),
        (["flightsql", "get-xdbc-type-info"], "type_name_str"),
    ]
    for argv, needle in checks:
        assert main(["--host", host, "--limit", "100"] + argv) == 0, argv
        assert needle in capsys.readouterr().out, argv


def test_cli_header_parsing(tmp_path):
    """parse_header_line/-file mirror args.rs:263-337: simple + curl
    config formats, comments/blanks, validation errors."""
    import pytest as _pytest

    from datafusion_dft_spark.cli import parse_header_line, parse_headers_file

    assert parse_header_line("X-Trace-Id:  abc ") == ("x-trace-id", "abc")
    with _pytest.raises(ValueError, match="Invalid header format"):
        parse_header_line("no-colon-here")
    with _pytest.raises(ValueError, match="Invalid header name"):
        parse_header_line("bad name: v")

    hf = tmp_path / "headers.txt"
    hf.write_text(
        "# comment\n"
        "\n"
        "Simple-Name: simple-value\n"
        "header = Curl-Name: curl-value\n"
        '-H "Quoted-Name: quoted-value"\n'
    )
    assert parse_headers_file(str(hf)) == [
        ("simple-name", "simple-value"),
        ("curl-name", "curl-value"),
        ("quoted-name", "quoted-value"),
    ]
    bad = tmp_path / "bad.txt"
    bad.write_text("just junk\n")
    with _pytest.raises(ValueError, match="line 1"):
        parse_headers_file(str(bad))


def test_cli_flightsql_headers_reach_secured_server(spark, capsys, tmp_path):
    """--header / --headers-file ride every FlightSQL call — the path
    auth takes to a secured server (args.rs:104-116)."""
    from datafusion_dft_spark.cli import main

    config = AppConfig(flightsql=FlightConfig(bearer_token="sekrit"))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config)
    try:
        host = f"grpc://127.0.0.1:{server.port}"
        # no header → unauthenticated error surfaces as rc=1
        assert (
            main(["--host", host, "flightsql", "statement-query", "--sql", "SELECT 1 AS one"])
            == 1
        )
        capsys.readouterr()
        # --header on the subcommand path
        assert (
            main(
                ["--host", host, "--header", "Authorization: Bearer sekrit",
                 "flightsql", "statement-query", "--sql", "SELECT 1 AS one"]
            )
            == 0
        )
        assert "one" in capsys.readouterr().out
        # --headers-file (curl config format) on the -c --flightsql path
        hf = tmp_path / "headers.txt"
        hf.write_text("header = Authorization: Bearer sekrit\n")
        assert (
            main(["--flightsql", "--host", host, "--headers-file", str(hf),
                  "-c", "SELECT 2 AS two"])
            == 0
        )
        assert "two" in capsys.readouterr().out
    finally:
        server.shutdown()


def test_header_merge_precedence(tmp_path):
    """Three-way merge (cli/mod.rs:877-906): config headers (+auth) <
    headers file < --header flags; names lowercased for gRPC."""
    from argparse import Namespace

    from datafusion_dft_spark.cli import collect_headers
    from datafusion_dft_spark.config import FlightClientConfig

    hf = tmp_path / "h.txt"
    hf.write_text("x-a: from-file\nx-b: from-file\n")
    fc = FlightClientConfig(
        bearer_token="t", headers={"X-A": "from-config", "x-c": "from-config"}
    )
    args = Namespace(header=["x-b: from-cli"], headers_file=str(hf))
    assert dict(collect_headers(args, fc)) == {
        "authorization": "Bearer t",
        "x-a": "from-file",
        "x-b": "from-cli",
        "x-c": "from-config",
    }


def test_cli_flightsql_client_config(spark, capsys, tmp_path):
    """[flightsql_client] config section: connection_url is the default
    host and nested-auth bearer reaches a secured server without flags
    (config.rs:112-126; docs/cli.md 'Auth')."""
    from datafusion_dft_spark.cli import main
    from datafusion_dft_spark.config import load_config

    config = AppConfig(flightsql=FlightConfig(bearer_token="sekrit"))
    server = DftFlightServer(spark, "grpc://127.0.0.1:0", config)
    try:
        cfg = tmp_path / "config.toml"
        cfg.write_text(
            "[flightsql_client]\n"
            f'connection_url = "http://127.0.0.1:{server.port}"\n'
            "[flightsql_client.auth]\n"
            'bearer_token = "sekrit"\n'
        )
        fc = load_config(str(cfg)).flightsql_client
        assert fc.bearer_token == "sekrit"
        assert main(
            ["--config", str(cfg), "flightsql", "statement-query", "--sql", "SELECT 3 AS three"]
        ) == 0
        assert "three" in capsys.readouterr().out
    finally:
        server.shutdown()


def test_statement_copy_failure_recorded(flight_server, client, tmp_path):
    """A deferred COPY that fails at DoGet must land in the failed
    metric and observability like any other error — not vanish because
    it left get_flight_info's recorded path."""
    blocker = tmp_path / "blocker"
    blocker.write_text("a file, not a directory")
    desc = _cmd(
        {"type": "statement", "query": f"COPY region TO '{blocker}/sub/out.parquet'"}
    )
    info = client.get_flight_info(desc)  # schema-only: fine
    failed_before = flight_server.metrics["requests_failed"]
    with pytest.raises(fl.FlightError, match="COPY execution failed"):
        client.do_get(info.endpoints[0].ticket).read_all()
    assert flight_server.metrics["requests_failed"] == failed_before + 1


def test_copy_final_script_defers_earlier_copies(client, tmp_path):
    """'COPY a; COPY b' (final statement IS a COPY) is the OTHER branch
    of the two-branch contract: the whole script defers, planning
    writes nothing, and each DoGet executes BOTH copies (advisor r8 —
    behavior pinned so the docstring's contract can't silently
    regress)."""
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    desc = _cmd(
        {"type": "statement", "query": f"COPY region TO '{a}'; COPY nation TO '{b}'"}
    )
    info = client.get_flight_info(desc)
    assert [(f.name, str(f.type)) for f in info.schema] == [("count", "int64")]
    assert not a.exists() and not b.exists()  # schema-only planning
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.column("count").to_pylist() == [25]  # nation count (final)
    assert a.exists() and b.exists()  # BOTH side effects ran in DoGet


def test_metrics_listener_scrapes_flight_counters(flight_server, client):
    """The dedicated metrics port (reference --metrics-addr,
    src/server/mod.rs:112-129): a stdlib listener renders the flight
    server's counters as Prometheus text, and an RPC moves them."""
    import urllib.request

    from datafusion_dft_spark.server.metrics import start_metrics_server

    srv = start_metrics_server(flight_server.render_metrics, "127.0.0.1", 0)
    try:
        port = srv.server_address[1]

        def scrape() -> dict:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=10
            ) as resp:
                assert resp.status == 200
                assert resp.headers["Content-Type"].startswith("text/plain")
                body = resp.read().decode()
            out = {}
            for line in body.splitlines():
                if line.startswith("#"):
                    continue
                name, value = line.rsplit(" ", 1)
                out[name] = float(value)
            return out

        before = scrape()
        assert "dft_spark_requests_total" in before
        assert "dft_spark_prepared_statements_active" in before
        _fetch(client, _cmd({"type": "statement", "query": "SELECT 1 AS one"}))
        after = scrape()
        assert after["dft_spark_requests_total"] > before["dft_spark_requests_total"]
        # non-metrics paths 404
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=10)
    finally:
        srv.shutdown()
