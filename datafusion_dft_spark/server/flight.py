"""Arrow Flight SQL-shaped frontend — the reference's network-native API.

Reference: src/server/flightsql/service.rs —

- **Two-phase statement execution**: ``get_flight_info_statement``
  parses the SQL, builds the *logical plan*, stores it under a fresh
  request id, and returns a ``FlightInfo`` carrying the result schema
  plus a ticket with the handle (service.rs:87-226, 162-194); ``do_get``
  looks the plan up and streams Arrow record batches
  (service.rs:87-126). Here the "analyzed logical plan" is the
  unexecuted Spark ``DataFrame`` (Catalyst analyzes eagerly; execution
  is deferred until ``do_get``, which runs the plan afresh and forwards
  the engine's own Arrow batches, ``arrow_batches``).
- **Prepared statements**: ``do_action(create_prepared_statement)``
  plans once and returns a handle + IPC-serialized dataset schema;
  ``get_flight_info``/``do_get`` on the handle re-use the stored plan;
  ``close_prepared_statement`` drops it (service.rs:563-726,
  715-855).
- **Catalog RPCs**: catalogs / db_schemas / tables / table_types /
  sql_info / xdbc_type_info, each expressed as a query over
  information_schema (service.rs:251-485) — same here, over the
  ``__info_*`` emulation views.
- **Auth**: basic or bearer validated per request
  (src/server/flightsql/mod.rs:60-105) — here a gRPC server middleware.
- **Observability**: every RPC records a row in the session's one
  ``requests`` log (``AppContext.requests_log``, shared with the HTTP
  server) with request id, path, latency and status
  (service.rs:127-160).

Wire format: BOTH envelopes are accepted per request. The reference's
protobuf ``arrow.flight.protocol.sql`` commands (``google.protobuf.Any``
wrapping CommandStatementQuery et al. — what stock JDBC/ADBC FlightSQL
clients send) are decoded by the hand-rolled wire codec in
``flightsql_proto.py`` (pyarrow ships no FlightSQL protobuf codegen and
this environment has no protobuf runtime); responses — tickets, action
results — are packed in the same envelope the request used. The
documented JSON envelope below remains for scriptability. The data
plane (Arrow IPC batches, schema-in-FlightInfo, opaque tickets,
prepared-statement lifecycle) is identical in both.
"""

from __future__ import annotations

import base64
import json
import threading
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.flight as fl

from ..config import AppConfig, credentials_ok
from ..plans.bench import fresh_execution
from ..session import AppContext
from ..sql import contains_copy, execute_sql, split_statements
from . import flightsql_proto as fsp
from .metrics import Metrics

# FIFO cap on stored plans: the reference keeps every request's plan in
# a HashMap forever (service.rs:181-187 never evicts) — unbounded on a
# long-lived server. Bounding it changes nothing for well-behaved
# clients (info -> immediate fetch) and is strictly safer.
MAX_STORED_PLANS = 256


class _DeferredCopyScript:
    """A COPY-ending script held unexecuted between GetFlightInfo and
    DoGet (see ``_plan_statement``). Exposes a Spark-style ``schema``
    so ``_spark_to_arrow_schema`` treats it like a planned DataFrame."""

    def __init__(self, spark, sql: str):
        from pyspark.sql import types as T

        self._spark, self._sql = spark, sql
        self.schema = T.StructType([T.StructField("count", T.LongType(), False)])

    def execute(self):
        return execute_sql(self._spark, self._sql)[-1]


@dataclass
class PreparedStatementHandle:
    """service.rs:55-62 — stored plan + schemas + creation time."""

    df: object  # pyspark DataFrame (the analyzed plan)
    dataset_schema: pa.Schema
    parameter_schema: pa.Schema | None = None
    created_at: float = field(default_factory=time.time)


class _AuthMiddlewareFactory(fl.ServerMiddlewareFactory):
    """Basic/bearer validation per call (mod.rs:60-105), through the
    same ``config.credentials_ok`` check the HTTP server uses."""

    def __init__(self, basic_auth: str | None, bearer_token: str | None):
        self._basic = basic_auth
        self._bearer = bearer_token

    def start_call(self, info, headers):
        auth = (headers.get("authorization") or headers.get("Authorization") or [""])[0]
        if not credentials_ok(auth, self._basic, self._bearer):
            raise fl.FlightUnauthenticatedError("invalid credentials")
        return None


def _spark_to_arrow_schema(df) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


class DftFlightServer(fl.FlightServerBase):
    """The FlightSQL service over a Spark session.

    Command envelope (JSON bytes in ``FlightDescriptor.command``):

    - ``{"type": "statement", "query": sql}``         (CommandStatementQuery)
    - ``{"type": "prepared_statement", "handle": h}`` (CommandPreparedStatementQuery)
    - ``{"type": "catalogs"}``                        (CommandGetCatalogs)
    - ``{"type": "db_schemas", "catalog": c?, "db_schema_filter_pattern": p?}``
    - ``{"type": "tables", "catalog": c?, "db_schema_filter_pattern": p?,
         "table_name_filter_pattern": p?, "table_types": [...]}``
    - ``{"type": "table_types"}``
    - ``{"type": "sql_info"}``
    - ``{"type": "xdbc_type_info", "data_type": n?}``

    Tickets are ``{"handle": request_id}`` — opaque to clients, exactly
    the reference's ``TicketStatementQuery.statement_handle`` contract.
    """

    def __init__(self, spark, location: str = "grpc://127.0.0.1:0", config: AppConfig | None = None):
        config = config or AppConfig()
        fa = config.flightsql
        middleware = {}
        if fa.basic_auth or fa.bearer_token:
            middleware["auth"] = _AuthMiddlewareFactory(fa.basic_auth, fa.bearer_token)
        # every attribute an RPC handler reads is set BEFORE the base
        # initializer binds the port: it starts serving immediately
        self._spark = spark
        self._flight_conf = fa
        self._obs = AppContext.of(spark).requests_log(config.db_path)
        self._lock = threading.Lock()
        self._requests: dict[str, object] = {}  # request_id -> DataFrame (plan)
        self._prepared: dict[str, PreparedStatementHandle] = {}
        self.metrics = Metrics("requests_total", "requests_failed", "prepared_statements_active")
        super().__init__(location, middleware=middleware)

    def render_metrics(self) -> str:
        """Prometheus text snapshot (the dedicated metrics listener's
        payload — reference serves the same via `--metrics-addr`,
        src/server/mod.rs:112-129)."""
        return self.metrics.render()

    # ------------------------------------------------------------- helpers

    def _failure(self, e: Exception, prefix: str) -> "fl.FlightServerError":
        """Count the failure and wrap it as a client-safe error.
        Truncate the message — a full Java stack trace blows the
        client's gRPC metadata size limit and turns a clean error into
        RESOURCE_EXHAUSTED."""
        self.metrics.inc("requests_failed")
        first_line = str(e).split("\n")[0][:512]
        return fl.FlightServerError(f"{prefix}: {first_line}")

    def _record(self, start: float, request_id: str | None, path: str, sql: str | None, status: int, rows: int | None = None) -> None:
        ms = int((time.perf_counter() - start) * 1000)
        self._obs.record(path, sql, ms, rows, status, request_id=request_id)

    def _store_plan(self, request_id: str, df) -> None:
        with self._lock:
            self._requests[request_id] = df
            while len(self._requests) > MAX_STORED_PLANS:
                self._requests.pop(next(iter(self._requests)))

    def _sql_to_df(self, sql: str):
        dfs = execute_sql(self._spark, sql)
        if not dfs:
            raise fl.FlightServerError("empty SQL statement")
        return dfs[-1]

    def _plan_statement(self, sql: str):
        """Plan a direct statement for GetFlightInfo.

        COPY is side-effecting, and the reference's GetFlightInfo is
        schema-only (plan at GetFlightInfo, execute at DoGet,
        service.rs:87-226) — but ``prepare_statement`` performs the
        export during its rewrite. So a script whose result is a COPY
        count (COPY is the final statement) is stored UNEXECUTED and
        each DoGet runs it fresh: GetFlightInfo/get_schema never write,
        and re-fetching the ticket re-copies (execute-per-run). The
        schema needs no execution — COPY always yields ``count BIGINT``.

        Non-final COPY handling is two-branched ON PURPOSE:

        - final statement IS a COPY → the WHOLE script defers, so
          earlier COPYs are fine too ('COPY a TO x; COPY b TO y' is
          accepted): every statement — including each COPY — executes
          inside each DoGet, consistent with execute-per-run (yes,
          re-fetching the ticket re-runs ALL the copies, same as it
          re-runs the final one).
        - final statement is NOT a COPY → a mid-script COPY is
          rejected: the final statement's schema can depend on the
          side effect having happened, so the script can neither be
          planned schema-only (GetFlightInfo would perform the write —
          and a get_schema + get_flight_info sequence would copy
          twice) nor deferred (the final schema is unknowable without
          executing the COPY).
        """
        stmts = split_statements(sql)
        if stmts and contains_copy(stmts[-1]):
            return _DeferredCopyScript(self._spark, sql)
        if any(contains_copy(s) for s in stmts):
            raise fl.FlightServerError(
                "COPY is only supported as the final statement of a script "
                "(GetFlightInfo is schema-only; a mid-script COPY would "
                "execute during planning)"
            )
        return self._sql_to_df(sql)

    def _parse_command(self, raw: bytes) -> tuple[dict, bool]:
        """Decode a command envelope: protobuf Any (the reference's
        arrow.flight.protocol.sql wire format — what stock JDBC/ADBC
        FlightSQL clients send) or the documented JSON shape. Returns
        (command dict, was_protobuf)."""
        cmd = fsp.command_to_dict(raw)
        if cmd is not None:
            return cmd, True
        return json.loads(raw.decode()), False

    def _flight_info_for_df(self, df, request_id: str, descriptor: fl.FlightDescriptor, proto: bool = False) -> fl.FlightInfo:
        """service.rs:162-194 — schema + one endpoint whose ticket is the
        handle (packed as TicketStatementQuery for protobuf clients)."""
        self._store_plan(request_id, df)
        if proto:
            ticket = fl.Ticket(fsp.encode_command({"type": "ticket", "handle": request_id}))
        else:
            ticket = fl.Ticket(json.dumps({"handle": request_id}).encode())
        schema = _spark_to_arrow_schema(df)
        endpoint = fl.FlightEndpoint(ticket, [])
        return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def _catalog_command_sql(self, cmd: dict) -> str:
        """Catalog RPCs as information_schema queries (service.rs:251-485)."""
        t = cmd["type"]
        if t == "catalogs":
            return "SELECT DISTINCT table_catalog FROM information_schema.tables ORDER BY table_catalog"
        if t == "db_schemas":
            preds = []
            if cmd.get("catalog"):
                preds.append(f"table_catalog = '{_q(cmd['catalog'])}'")
            if cmd.get("db_schema_filter_pattern"):
                preds.append(f"table_schema ILIKE '%{_q(cmd['db_schema_filter_pattern'])}%'")
            where = (" WHERE " + " AND ".join(preds)) if preds else ""
            return (
                "SELECT DISTINCT table_catalog, table_schema FROM information_schema.tables"
                f"{where} ORDER BY table_catalog, table_schema"
            )
        if t == "tables":
            preds = []
            if cmd.get("catalog"):
                preds.append(f"table_catalog = '{_q(cmd['catalog'])}'")
            if cmd.get("db_schema_filter_pattern"):
                preds.append(f"table_schema ILIKE '%{_q(cmd['db_schema_filter_pattern'])}%'")
            if cmd.get("table_name_filter_pattern"):
                preds.append(f"table_name ILIKE '%{_q(cmd['table_name_filter_pattern'])}%'")
            if cmd.get("table_types"):
                quoted = ", ".join(f"'{_q(x)}'" for x in cmd["table_types"])
                preds.append(f"table_type IN ({quoted})")
            where = (" WHERE " + " AND ".join(preds)) if preds else ""
            return (
                "SELECT * FROM information_schema.tables"
                f"{where} ORDER BY table_catalog, table_schema, table_name"
            )
        if t == "table_types":
            return "SELECT DISTINCT table_type FROM information_schema.tables ORDER BY table_type"
        if t == "sql_info":
            # service.rs:400-432 — basic server info as a one-row relation.
            # The protobuf command's repeated `info` selects a subset
            # (FlightSql.proto SqlInfo codes 0-3 map onto these columns);
            # an absent/empty info list returns everything, but an
            # explicit request matching NO known code returns an empty
            # (zero-row) result — FlightSQL subset semantics, not a
            # fallback to unrelated data.
            from .. import __version__

            known = [
                (0, "'datafusion-dft-spark' AS server_name"),
                (1, f"'{__version__}' AS server_version"),
                (2, f"'{pa.__version__}' AS arrow_version"),
                (3, "false AS read_only"),
            ]
            req = cmd.get("info") or []
            if not req:
                sel = [expr for _, expr in known]
            else:
                sel = [expr for code, expr in known if code in req]
            if sel:
                return "SELECT " + ", ".join(sel)
            return (
                "SELECT " + ", ".join(expr for _, expr in known) + " WHERE false"
            )
        if t == "xdbc_type_info":
            # service.rs:434-485 — XDBC metadata for the supported types.
            rows = [
                (-5, "BIGINT", 19, None, None, None, 1, 0, 3, 0, 0, 0, "BIGINT", -5, 0, 10, 0),
                (4, "INTEGER", 10, None, None, None, 1, 0, 3, 0, 0, 0, "INTEGER", 4, 0, 10, 0),
                (5, "SMALLINT", 5, None, None, None, 1, 0, 3, 0, 0, 0, "SMALLINT", 5, 0, 10, 0),
                (-6, "TINYINT", 3, None, None, None, 1, 0, 3, 0, 0, 0, "TINYINT", -6, 0, 10, 0),
                (8, "DOUBLE", 15, None, None, None, 1, 0, 3, 0, 0, 0, "DOUBLE PRECISION", 8, 0, 2, 0),
                (7, "REAL", 7, None, None, None, 1, 0, 3, 0, 0, 0, "REAL", 7, 0, 2, 0),
                (12, "VARCHAR", 2147483647, "'", "'", "length", 1, 1, 3, 0, 0, 0, "VARCHAR", 12, 0, 0, 0),
                (91, "DATE", 10, "'", "'", None, 1, 0, 3, 0, 0, 0, "DATE", 91, 0, 0, 0),
                (93, "TIMESTAMP", 23, "'", "'", None, 1, 0, 3, 0, 0, 0, "TIMESTAMP", 93, 3, 0, 0),
                (-7, "BOOLEAN", 1, None, None, None, 1, 0, 3, 0, 0, 0, "BOOLEAN", -7, 0, 0, 0),
                (-2, "BINARY", 2147483647, "'", "'", "length", 1, 0, 3, 0, 0, 0, "BINARY", -2, 0, 0, 0),
                (2, "DECIMAL", 38, None, None, "precision,scale", 1, 0, 3, 0, 0, 0, "DECIMAL", 2, 0, 10, 0),
            ]
            cols = (
                "type_name_num, type_name_str, column_size, literal_prefix, literal_suffix, "
                "create_params, nullable, case_sensitive, searchable, unsigned_attribute, "
                "fixed_prec_scale, auto_increment, local_type_name, data_type, minimum_scale, "
                "maximum_scale, sql_datetime_sub"
            )

            def lit(v):
                if v is None:
                    return "CAST(NULL AS STRING)"
                if isinstance(v, str):
                    return f"'{_q(v)}'"
                return str(v)

            values = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
            sql = f"SELECT * FROM (VALUES {values}) AS types({cols})"
            if cmd.get("data_type") is not None:
                sql += f" WHERE data_type = {int(cmd['data_type'])}"
            return sql
        raise fl.FlightServerError(f"unknown command type: {t!r}")

    # ------------------------------------------------------------ Flight API

    def get_flight_info(self, context, descriptor):
        self.metrics.inc("requests_total")
        start = time.perf_counter()
        request_id = str(uuid.uuid4())
        cmd, proto = self._parse_command(descriptor.command)
        t = cmd.get("type", "statement")
        path = f"/get_flight_info_{t}"
        sql = None
        try:
            if t == "statement":
                sql = cmd["query"]
                df = self._plan_statement(sql)
            elif t == "prepared_statement":
                with self._lock:
                    handle = self._prepared.get(cmd["handle"])
                if handle is None:
                    raise fl.FlightServerError(f"prepared statement not found: {cmd['handle']}")
                df = handle.df
            else:
                sql = self._catalog_command_sql(cmd)
                df = self._sql_to_df(sql)
            info = self._flight_info_for_df(df, request_id, descriptor, proto=proto)
        except Exception:  # record the failed request, then re-raise it
            self._record(start, request_id, path, sql, 13)
            raise
        self._record(start, request_id, path, sql, 0)
        return info

    def get_schema(self, context, descriptor):
        info = self.get_flight_info(context, descriptor)
        return fl.SchemaResult(info.schema)

    def do_get(self, context, ticket):
        """service.rs:87-126 — look up the stored plan, execute, stream IPC.

        The plan runs as a fresh execution each time (execute-per-run)
        and its result streams as the engine's own Arrow batches
        (``arrow_batches``), one partition at a time — the analog of the
        reference forwarding the engine's record-batch stream untouched.
        Each batch is cast to the wire schema when its types differ and
        cut into ``stream_batch_rows`` slices. An optional
        ``result_limit`` (mirroring the HTTP server's) is pushed into the
        plan as a GlobalLimit. The ``requests`` row carries the rows
        sent and status 0, 13 when execution fails mid-stream, or 1
        (gRPC CANCELLED) when the client abandons the stream; either way
        the engine stops serving the result.
        """
        self.metrics.inc("requests_total")
        start = time.perf_counter()
        parsed = fsp.command_to_dict(ticket.ticket)
        if parsed is not None:
            request_id = parsed["handle"]
        else:
            request_id = json.loads(ticket.ticket.decode())["handle"]
        with self._lock:
            df = self._requests.get(request_id)
        if df is None:
            self._record(start, request_id, "/do_get_statement", None, 13)
            raise fl.FlightServerError(f"plan not found for id {request_id}")
        if isinstance(df, _DeferredCopyScript):
            try:
                df = df.execute()  # the COPY side effect happens here, per DoGet
            except Exception as e:  # record the failed COPY, then re-raise it as a Flight error
                # a failed export must land in observability + the failed
                # metric like any other error (it used to fail inside
                # get_flight_info's recorded path before deferral)
                self._record(start, request_id, "/do_get_statement", None, 13)
                raise self._failure(e, "COPY execution failed") from e
        cap = self._flight_conf.result_limit
        if cap and cap > 0:
            df = df.limit(cap)
        schema = _spark_to_arrow_schema(df)
        batch_rows = max(1, self._flight_conf.stream_batch_rows)

        def batches():
            n = 0
            status = 0
            stream = arrow_batches(df)
            try:
                for batch in stream:
                    if batch.schema != schema:
                        batch = batch.cast(schema)
                    for off in range(0, batch.num_rows, batch_rows):
                        piece = batch.slice(off, batch_rows)
                        n += piece.num_rows
                        yield piece
            except GeneratorExit:
                status = 1  # the client went away before the end
                raise
            except Exception as e:  # record the failure, then re-raise it as a Flight error
                # mid-stream failure (Spark task error): record it as
                # such instead of a success with a partial row count
                status = 13
                raise self._failure(e, "query execution failed") from e
            finally:
                stream.close()
                self._record(start, request_id, "/do_get_statement", None, status, rows=n)

        return fl.GeneratorStream(schema, batches())

    def do_put(self, context, descriptor, reader, writer):
        """DoPut (CommandStatementUpdate / prepared-statement parameter
        binding / ingest) is rejected loudly: this server exposes the
        engine's query surface only — pyarrow's default would surface an
        opaque NotImplementedError; a stock client deserves a typed
        FlightServerError naming the command it sent, and the attempt
        must land in the observability table like every other request."""
        self.metrics.inc("requests_total")
        self.metrics.inc("requests_failed")
        start = time.perf_counter()
        unpacked = fsp.unpack_any(descriptor.command or b"")
        kind = unpacked[0] if unpacked is not None else "non-protobuf descriptor"
        self._record(start, None, "/do_put", None, 2)
        raise fl.FlightServerError(
            f"DoPut is not supported ({kind}): this server is query-only — "
            "use COPY for exports and external writers for ingest"
        )

    def do_action(self, context, action):
        self.metrics.inc("requests_total")
        start = time.perf_counter()
        if action.type in ("create_prepared_statement", "CreatePreparedStatement"):
            # service.rs:563-654 — plan once, hand back handle + IPC schema.
            # Stock FlightSQL clients use the protobuf action name +
            # Any-wrapped request/result; the JSON envelope is kept for
            # the documented JSON contract.
            raw = action.body.to_pybytes()
            sql = fsp.parse_action_create(raw)
            proto = sql is not None
            if not proto:
                sql = json.loads(raw.decode())["query"]
            if contains_copy(sql):
                # COPY executes at rewrite time; a prepared handle would
                # re-serve the stale count without re-copying on later
                # executions — reject instead of diverging from
                # execute-per-run semantics. Direct statement queries
                # still run COPY, once per request.
                self._record(start, None, "/do_action/create_prepared_statement", sql, 3)
                raise fl.FlightServerError(
                    "COPY cannot be prepared (side-effecting statement); "
                    "use a direct statement query"
                )
            request_id = str(uuid.uuid4())
            df = self._sql_to_df(sql)
            schema = _spark_to_arrow_schema(df)
            with self._lock:
                self._prepared[request_id] = PreparedStatementHandle(df=df, dataset_schema=schema)
                self.metrics.set("prepared_statements_active", len(self._prepared))
            self._record(start, request_id, "/do_action/create_prepared_statement", sql, 0)
            schema_bytes = schema.serialize().to_pybytes()
            if proto:
                return [fsp.encode_action_create_result(request_id, schema_bytes)]
            result = {
                "prepared_statement_handle": request_id,
                "dataset_schema": base64.b64encode(schema_bytes).decode(),
                "parameter_schema": None,
            }
            return [json.dumps(result).encode()]
        if action.type in ("close_prepared_statement", "ClosePreparedStatement"):
            # service.rs:656-713.
            raw = action.body.to_pybytes()
            handle = fsp.parse_action_close(raw)
            if handle is None:
                handle = json.loads(raw.decode())["prepared_statement_handle"]
            with self._lock:
                found = self._prepared.pop(handle, None)
                self.metrics.set("prepared_statements_active", len(self._prepared))
            self._record(start, handle, "/do_action/close_prepared_statement", None, 0 if found else 5)
            if found is None:
                raise fl.FlightServerError(f"prepared statement not found: {handle}")
            return []
        raise fl.FlightServerError(f"unknown action: {action.type!r}")

    def list_actions(self, context):
        return [
            ("create_prepared_statement", "Plan a SQL statement; returns a reusable handle"),
            ("close_prepared_statement", "Drop a prepared statement handle"),
            ("CreatePreparedStatement", "Protobuf-envelope alias (arrow.flight.protocol.sql)"),
            ("ClosePreparedStatement", "Protobuf-envelope alias (arrow.flight.protocol.sql)"),
        ]


def _q(s: str) -> str:
    """Escape a string literal for embedding in SQL (catalog RPC filters)."""
    return str(s).replace("'", "''")


def arrow_batches(df):
    """Yield ``df``'s result as Spark's own Arrow batches, in order.

    The engine encodes each partition as Arrow record batches
    (``toArrowBatchRdd``, what ``toArrow()`` collects), and
    ``toLocalIteratorAndServe`` hands them over one partition at a time
    with the next one computed ahead: no Python stage, no Python rows,
    and driver memory bounded by two partitions whatever the result
    size. The schema is built the way ``toArrow()`` builds it, so the
    batches are the ones ``toArrow()`` would return. Closing the
    generator tells the engine to stop serving.
    """
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _local_iterator_from_socket

    spark = df.sparkSession
    schema = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    rdd = fresh_execution(df)._jdf.toArrowBatchRdd()
    sock = spark._jvm.PythonRDD.toLocalIteratorAndServe(rdd, True)
    blobs = _local_iterator_from_socket(sock, NoOpSerializer())
    try:
        for blob in blobs:
            yield pa.ipc.read_record_batch(pa.py_buffer(blob), schema)
    finally:
        blobs.close()


def main(argv: list[str] | None = None) -> int:
    import argparse

    from ..config import load_config
    from ..session import app_session
    from .metrics import start_metrics_listener

    p = argparse.ArgumentParser(prog="datafusion-dft-spark-flight")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=50051)
    p.add_argument("--config", help="TOML config file")
    p.add_argument("--register", help="corpus directory to register as views")
    p.add_argument(
        "--metrics-port", type=int,
        help="serve Prometheus metrics on a dedicated port "
        "(reference --metrics-addr, src/server/mod.rs:112-129)",
    )
    args = p.parse_args(argv)

    config = load_config(args.config, app="flightsql_server") if args.config else AppConfig()
    spark = app_session(
        config, "datafusion-dft-spark-flight", register=args.register, run_ddl=True
    )
    server = DftFlightServer(spark, f"grpc://{args.host}:{args.port}", config)
    print(f"FlightSQL server listening on grpc://{args.host}:{server.port}")
    start_metrics_listener(
        server.render_metrics, args.host, args.metrics_port,
        config.flightsql.server_metrics_addr,
    )
    server.serve()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
