"""TOML config surface mirroring the reference's app config.

Reference: dft reads a TOML config with [execution] (DDL path, engine
settings passthrough, benchmark_iterations), [http_server]
(result_limit, timeout), auth, and UDF definitions
(crates/datafusion-app/src/config.rs; docs/config.md). Same shape here:

```toml
[execution]
ddl_path = "bootstrap.sql"
benchmark_iterations = 10

[execution.settings]          # arbitrary spark.conf passthrough
"spark.sql.shuffle.partitions" = "64"

[http_server]
result_limit = 1000           # src/config.rs:318-321 default
timeout_seconds = 10          # src/config.rs:313-316 default
basic_auth = "user:pass"      # optional
bearer_token = "secret"       # optional

[[udf]]                       # config-driven UDF registry (WASM-UDF analog)
name = "my_add"
mode = "row"                  # "row" (per-row) | "arrow" (pandas_udf)
input_types = ["int64", "int64"]
return_type = "int64"
function = "my_module:add"    # import path to the python callable
```
"""

from __future__ import annotations

import base64
import hmac
import re
import tomllib
from dataclasses import dataclass, field


@dataclass
class HttpConfig:
    result_limit: int = 1000
    timeout_seconds: int = 10
    basic_auth: str | None = None
    bearer_token: str | None = None
    # [http_server] server_metrics_addr "host:port" (config.rs:293-295;
    # the reference always starts it at 127.0.0.1:9000 — here None
    # means no dedicated listener, --metrics-port / this key opt in)
    server_metrics_addr: str | None = None


@dataclass
class FlightConfig:
    """[flightsql_server] — mirrors the reference's FlightSQL auth config
    (src/server/flightsql/mod.rs:60-105: basic XOR bearer)."""

    basic_auth: str | None = None
    bearer_token: str | None = None
    # do_get result cap (rows), mirroring [http_server] result_limit.
    # 0 = unlimited: unlike the HTTP JSON path the Flight data plane
    # streams record batches with bounded driver memory, so a cap is a
    # policy choice rather than a safety requirement.
    result_limit: int = 0
    # rows per streamed Arrow record batch
    stream_batch_rows: int = 8192
    # [flightsql_server] server_metrics_addr "host:port" (see HttpConfig)
    server_metrics_addr: str | None = None


@dataclass
class FlightClientConfig:
    """[flightsql_client] (also accepted as [flightsql], features.md) —
    the CLIENT connection the app uses when routing execution through a
    FlightSQL server (config.rs:112-126 FlightSQLClientConfig; the HTTP
    endpoints' ``flightsql`` param, router.rs:88-172; CLI --flightsql).

    ``headers`` / ``headers_file`` seed the three-way header merge
    (config < file < CLI flags, cli/mod.rs:877-906). Auth follows this
    repo's flat convention ("user:pass" / token) but the reference's
    nested ``auth`` table is parsed too so its config files port over.
    """

    connection_url: str = "http://localhost:50051"
    basic_auth: str | None = None
    bearer_token: str | None = None
    headers: dict[str, str] = field(default_factory=dict)
    headers_file: str | None = None


# RFC 7230 header-name token / visible-ASCII value — the same validation
# http::HeaderName/HeaderValue apply in the reference (args.rs:263-278).
_HEADER_NAME_RE = re.compile(r"^[!#$%&'*+.^_`|~0-9a-zA-Z-]+$")
_HEADER_VALUE_RE = re.compile(r"^[\t\x20-\x7e\x80-\xff]*$")


def parse_header_line(line: str) -> tuple[str, str]:
    """``'Name: Value'`` → ``(name, value)`` with validation (args.rs:263-278)."""
    if ":" not in line:
        raise ValueError(
            f"Invalid header format: '{line}'\n       Expected format: "
            "'Header-Name: Header-Value', 'header = Name: Value', or '-H \"Name: Value\"'"
        )
    name, value = line.split(":", 1)
    name, value = name.strip(), value.strip()
    if not _HEADER_NAME_RE.match(name):
        raise ValueError(f"Invalid header name: {name!r}")
    if not _HEADER_VALUE_RE.match(value):
        raise ValueError("Header value contains invalid characters")
    return name.lower(), value  # gRPC metadata keys are lowercase


def parse_headers_file(path: str) -> list[tuple[str, str]]:
    """Headers from a file: simple ``Name: Value`` lines, curl config
    ``header = Name: Value`` / ``-H "Name: Value"`` lines, ``#`` comments
    and blanks — both formats may mix (args.rs:280-337)."""
    headers: list[tuple[str, str]] = []
    with open(path) as f:
        for line_num, raw_line in enumerate(f, 1):
            line = raw_line.strip()
            if not line or line.startswith("#"):
                continue
            if line.startswith("header"):
                stripped = line[len("header"):].lstrip()
                candidate = stripped[1:].strip() if stripped.startswith("=") else line
            elif line.startswith("-H"):
                candidate = line[2:].strip().strip("\"'")
            else:
                candidate = line
            try:
                headers.append(parse_header_line(candidate))
            except ValueError as e:
                raise ValueError(
                    f"Invalid header format at line {line_num} in '{path}': '{line}'\n{e}"
                ) from None
    return headers


def client_call_headers(
    fc: "FlightClientConfig | None",
    cli_headers: "list[str] | tuple[str, ...]" = (),
    cli_headers_file: str | None = None,
) -> list[tuple[str, str]]:
    """Headers for one FlightSQL client call: three-way merge, later
    sources win (cli/mod.rs:877-906) — config headers (+auth derived as
    an authorization header) < headers file (CLI flag or config
    headers_file) < explicit header lines."""
    merged: dict[str, str] = {}
    if fc is not None:
        if fc.bearer_token:
            merged["authorization"] = f"Bearer {fc.bearer_token}"
        elif fc.basic_auth:
            tok = base64.b64encode(fc.basic_auth.encode()).decode()
            merged["authorization"] = f"Basic {tok}"
        for k, v in fc.headers.items():
            merged.update([parse_header_line(f"{k}: {v}")])
    headers_file = cli_headers_file or (fc.headers_file if fc else None)
    if headers_file:
        merged.update(parse_headers_file(headers_file))
    for h in cli_headers:
        merged.update([parse_header_line(h)])
    return list(merged.items())


def credentials_ok(authorization: str, basic: str | None, bearer: str | None) -> bool:
    """Server-side check of one ``Authorization`` header value against
    the configured ``basic`` ("user:pass") or ``bearer`` credential —
    the counterpart of the header ``client_call_headers`` builds
    (src/server/flightsql/mod.rs:60-105). Nothing configured admits
    every call. Compares are constant-time: ``==`` stops at the first
    differing byte and leaks credential prefixes through timing."""
    if not basic and not bearer:
        return True
    if bearer and authorization.startswith("Bearer "):
        return hmac.compare_digest(authorization[7:].encode(), bearer.encode())
    if basic and authorization.startswith("Basic "):
        try:
            decoded = base64.b64decode(authorization[6:])
        except ValueError:  # bad padding or non-ASCII input
            return False
        return hmac.compare_digest(decoded, basic.encode())
    return False


def grpc_location(url: str) -> str:
    """Map the reference's http(s):// connection_url notation to the
    gRPC location pyarrow.flight expects."""
    if url.startswith("https://"):
        return "grpc+tls://" + url[len("https://"):]
    if url.startswith("http://"):
        return "grpc://" + url[len("http://"):]
    return url


def _parse_auth(table: dict) -> tuple[str | None, str | None]:
    """(basic_auth, bearer_token) from a config table: flat keys or the
    reference's nested ``auth = {bearer_token, basic_auth = {username,
    password}}`` shape (config.rs AuthConfig)."""
    basic = table.get("basic_auth")
    bearer = table.get("bearer_token")
    auth = table.get("auth") or {}
    if isinstance(auth, dict):
        bearer = bearer or auth.get("bearer_token")
        nested_basic = auth.get("basic_auth")
        if basic is None and isinstance(nested_basic, dict):
            basic = f"{nested_basic.get('username', '')}:{nested_basic.get('password', '')}"
    if isinstance(basic, dict):  # flat key written in nested style
        basic = f"{basic.get('username', '')}:{basic.get('password', '')}"
    return basic, bearer


@dataclass
class UdfConfig:
    name: str
    mode: str  # "row" | "arrow"
    input_types: list[str]
    return_type: str
    function: str  # "module:callable"


@dataclass
class ExecutionConfig:
    ddl_path: str | None = None
    benchmark_iterations: int = 10
    settings: dict[str, str] = field(default_factory=dict)
    # [execution.object_store] — S3 / HuggingFace store registrations
    # (config.rs:238-241; extensions/s3.rs, extensions/huggingface.rs).
    object_store: "ObjectStoreConfig | None" = None
    # Per-app record-batch sizing (docs/config.md: cli default 8092, tui
    # 100 — a batch is the TUI's pagination unit). None = app-side
    # default; explicit values reach Arrow batch sizing (CLI:
    # spark.sql.execution.arrow.maxRecordsPerBatch) and REPL page
    # chunking. The flightsql_server_batch_size key seeds
    # FlightConfig.stream_batch_rows instead.
    cli_batch_size: int | None = None
    tui_batch_size: int | None = None


@dataclass
class AppConfig:
    execution: ExecutionConfig = field(default_factory=ExecutionConfig)
    http: HttpConfig = field(default_factory=HttpConfig)
    flightsql: FlightConfig = field(default_factory=FlightConfig)
    flightsql_client: FlightClientConfig = field(default_factory=FlightClientConfig)
    udfs: list[UdfConfig] = field(default_factory=list)
    # [db] path — app-state directory (src/config.rs DbConfig): the
    # ``requests`` log is saved under it at exit and restored at start
    # (tables/map_table.rs:69-71 "serialized on app shutdown").
    db_path: str | None = None


def load_config(path: str, app: str | None = None) -> AppConfig:
    with open(path, "rb") as f:
        raw = tomllib.load(f)
    return parse_config(raw, app=app)


def _merge_execution(raw: dict, app: str | None) -> dict:
    """The reference's layered config (docs/config.md): defaults <
    [shared.execution] < app-specific [<app>.execution], app winning.
    A top-level [execution] table (this repo's flat convention) merges
    at the shared layer's priority, after [shared]."""
    merged: dict = {}
    layers = [raw.get("shared", {}).get("execution"), raw.get("execution")]
    if app:
        layers.append(raw.get(app, {}).get("execution"))
    for layer in layers:
        if not layer:
            continue
        for k, v in layer.items():
            if isinstance(v, dict) and isinstance(merged.get(k), dict):
                merged[k] = {**merged[k], **v}
            else:
                merged[k] = v
    return merged


def _parse_flightsql_client(table: dict) -> FlightClientConfig:
    basic, bearer = _parse_auth(table)
    return FlightClientConfig(
        connection_url=table.get("connection_url", "http://localhost:50051"),
        basic_auth=basic,
        bearer_token=bearer,
        headers={str(k): str(v) for k, v in (table.get("headers") or {}).items()},
        headers_file=table.get("headers_file"),
    )


def parse_config(raw: dict, app: str | None = None) -> AppConfig:
    ex = _merge_execution(raw, app)
    http = raw.get("http_server", {})
    flight = raw.get("flightsql_server", {})
    if flight.get("basic_auth") and flight.get("bearer_token"):
        # mod.rs:66 — "Only one auth type can be used at a time"
        raise ValueError("flightsql_server: only one auth type can be used at a time")
    from .sources.object_store import parse_object_store

    def _opt_int(key):
        return int(ex[key]) if key in ex else None

    return AppConfig(
        execution=ExecutionConfig(
            ddl_path=ex.get("ddl_path"),
            benchmark_iterations=int(ex.get("benchmark_iterations", 10)),
            settings={str(k): str(v) for k, v in ex.get("settings", {}).items()},
            object_store=(
                parse_object_store(ex["object_store"]) if "object_store" in ex else None
            ),
            cli_batch_size=_opt_int("cli_batch_size"),
            tui_batch_size=_opt_int("tui_batch_size"),
        ),
        http=HttpConfig(
            result_limit=int(http.get("result_limit", 1000)),
            timeout_seconds=int(http.get("timeout_seconds", 10)),
            basic_auth=http.get("basic_auth"),
            bearer_token=http.get("bearer_token"),
            server_metrics_addr=http.get("server_metrics_addr"),
        ),
        flightsql=FlightConfig(
            basic_auth=flight.get("basic_auth"),
            bearer_token=flight.get("bearer_token"),
            result_limit=int(flight.get("result_limit", 0)),
            # execution-layer flightsql_server_batch_size (docs/config.md)
            # is the default; an explicit stream_batch_rows wins.
            stream_batch_rows=int(
                flight.get(
                    "stream_batch_rows", ex.get("flightsql_server_batch_size", 8192)
                )
            ),
            server_metrics_addr=flight.get("server_metrics_addr"),
        ),
        flightsql_client=_parse_flightsql_client(
            raw.get("flightsql_client") or raw.get("flightsql") or {}
        ),
        db_path=raw.get("db", {}).get("path"),
        udfs=[
            UdfConfig(
                name=u["name"],
                mode=u.get("mode", "row"),
                input_types=list(u.get("input_types", [])),
                return_type=u["return_type"],
                function=u["function"],
            )
            for u in raw.get("udf", [])
        ],
    )
