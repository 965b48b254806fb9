"""CLI frontend: ``python -m datafusion_dft_spark [options]``.

Reference: ``dft -c "SELECT ..." -f file.sql --time --bench -n N -o out``
(src/cli/mod.rs:211-307,530-555,682-806). Same surface re-expressed:

  -c / --command   one or more SQL strings (multi-statement, ';'-split)
  -f / --file      one or more SQL files
  --ddl FILE       run startup DDL before queries (execution.ddl analog)
  --run-ddl        run the --config file's ddl_path (config.rs gate)
  --register DIR   register the corpus parquet tables under DIR as views
  --db DIR         dft-style {catalog}/{schema}/{table} directory database
  --time           print wall time per statement
  --bench / -n     per-phase benchmark (default 10 iterations)
  --run-before     cache-warming statement before each bench
  --save / --append  export bench results to CSV
  --analyze        single-run plan + phase breakdown
  -o FILE          write the last result (format by suffix: csv/json/parquet/arrow/orc)
  --limit N        cap printed rows (reference http result_limit analog)
  --flightsql / --host      route -c/-f statements through a FlightSQL server
  --header / --headers-file headers for FlightSQL calls (simple + curl
                            config formats; args.rs:104-116,263-337)
  flightsql <command>       client RPCs (args.rs:148-196): statement-query,
                            get-catalogs, get-db-schemas, get-tables,
                            get-table-types, get-sql-info, get-xdbc-type-info
  serve-http / serve-flightsql  start the matching server from this one
                            entry point (`dft serve-http`, args.rs:142-146);
                            --serve-host/--serve-port bind, root
                            --config/--register pass through
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import DataFrame

# Header parsing/merge lives in config.py (shared with the HTTP server's
# flightsql routing); re-exported here as the CLI-facing names.
from .config import parse_header_line, parse_headers_file  # noqa: E402,F401


def _format_cells(cols: list[str], cells: list[list[str]], truncated: bool, limit: int) -> str:
    widths = [
        max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |", sep]
    for row in cells:
        out.append("| " + " | ".join(v.ljust(w) for v, w in zip(row, widths)) + " |")
    out.append(sep)
    if truncated:
        out.append(f"-- printed {limit} rows (truncated); use --limit to raise")
    return "\n".join(out)


def format_table(df: DataFrame, limit: int = 40) -> str:
    """psql-style ASCII table of the first ``limit`` rows."""
    rows = df.take(limit + 1)
    truncated = len(rows) > limit
    rows = rows[:limit]
    cells = [[("NULL" if v is None else str(v)) for v in r] for r in rows]
    return _format_cells(df.columns, cells, truncated, limit)


def format_arrow_table(table, limit: int = 40) -> str:
    """Same ASCII rendering for a pyarrow Table (FlightSQL client path)."""
    truncated = table.num_rows > limit
    rows = table.slice(0, limit).to_pylist()
    cells = [[("NULL" if r[c] is None else str(r[c])) for c in table.schema.names] for r in rows]
    return _format_cells(list(table.schema.names), cells, truncated, limit)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="datafusion-dft-spark",
        description="PySpark-native analytics engine CLI",
    )
    p.add_argument("-c", "--command", action="append", default=[], help="SQL string to run")
    p.add_argument("-f", "--file", action="append", default=[], help="SQL file to run")
    p.add_argument("--ddl", help="startup DDL file executed before queries")
    p.add_argument("--config", help="TOML config (settings passthrough, ddl_path, [[udf]] blocks)")
    p.add_argument("--register", help="directory of corpus parquet files to register as views")
    p.add_argument("--db", help="dft-style {catalog}/{schema}/{table} directory database")
    p.add_argument("--time", action="store_true", help="print elapsed time per statement")
    p.add_argument("--bench", action="store_true", help="benchmark each statement")
    p.add_argument("--concurrent", action="store_true", help="concurrent benchmark mode")
    p.add_argument("--generate-tpch", metavar="DIR", help="generate TPC-H-style parquet into DIR")
    p.add_argument("--scale-factor", type=float, default=0.01, help="generator scale factor")
    p.add_argument("--db-layout", action="store_true", help="generator: {db}/tables/dft/tpch/{t}/ layout")
    p.add_argument(
        "--money", choices=("double", "decimal"), default="double",
        help="generator money/rate columns: driver-corpus double (default) "
        "or spec DECIMAL(12,2) (exact, deterministic aggregation)",
    )
    p.add_argument("--analyze", action="store_true", help="plan + phase breakdown per statement")
    p.add_argument(
        "-n", "--iterations", type=int, default=None,
        help="bench iterations (default: config benchmark_iterations, else 10)",
    )
    p.add_argument(
        "--run-ddl", action="store_true",
        help="execute the config's ddl_path before statements (config.rs gate)",
    )
    p.add_argument("--run-before", help="statement run before each benchmark")
    p.add_argument("--save", help="save benchmark results to CSV")
    p.add_argument("--append", action="store_true", help="append to --save file")
    p.add_argument("-o", "--output", help="write last result to file (format from suffix)")
    p.add_argument("--limit", type=int, default=40, help="max rows to print")
    p.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument(
        "-q",
        "--flightsql",
        action="store_true",
        help="route queries through a FlightSQL server instead of a local session",
    )
    p.add_argument(
        "--host",
        default=None,
        help="FlightSQL server location (default: config [flightsql_client] "
        "connection_url, else grpc://127.0.0.1:50051)",
    )
    p.add_argument(
        "--header",
        action="append",
        default=[],
        metavar="'Name: Value'",
        help="header for the FlightSQL connection (repeatable; args.rs:104-110)",
    )
    p.add_argument(
        "--headers-file",
        help="file of FlightSQL headers — simple 'Name: Value' or curl config format",
    )

    # `dft flightsql <command>` client subcommands (args.rs:148-196):
    # each executes the matching FlightSQL RPC + DoGet and prints the
    # result. Shared root options (--host/--header/--limit/--time) may
    # appear before the subcommand, mirroring the reference's arg
    # placement (only --config is global there too).
    sub = p.add_subparsers(dest="subcommand")
    fs = sub.add_parser("flightsql", help="FlightSQL client commands against --host")
    fsub = fs.add_subparsers(dest="fsql_command", required=True)
    sq = fsub.add_parser("statement-query", help="CommandStatementQuery + DoGet")
    sq.add_argument("--sql", required=True, help="the query to execute")
    fsub.add_parser("get-catalogs", help="CommandGetCatalogs + DoGet")
    gds = fsub.add_parser("get-db-schemas", help="CommandGetDbSchemas + DoGet")
    gds.add_argument("--catalog")
    gds.add_argument("--db-schema-filter-pattern")
    gt = fsub.add_parser("get-tables", help="CommandGetTables + DoGet")
    gt.add_argument("--catalog")
    gt.add_argument("--db-schema-filter-pattern")
    gt.add_argument("--table-name-filter-pattern")
    gt.add_argument("--table-types", nargs="*", help="table types to include")
    fsub.add_parser("get-table-types", help="CommandGetTableTypes + DoGet")
    gsi = fsub.add_parser("get-sql-info", help="CommandGetSqlInfo + DoGet")
    gsi.add_argument("--info", nargs="*", type=int, help="SQL info ids (default: all)")
    gxt = fsub.add_parser("get-xdbc-type-info", help="CommandGetXdbcTypeInfo + DoGet")
    gxt.add_argument("--data-type", type=int, help="XDBC data type to filter by")
    # `dft serve-http` / `dft serve-flightsql` (args.rs:142-146): start
    # the matching server from the single entry point. Root --config /
    # --register pass through; --serve-host/--serve-port name the bind
    # address (the root --host is the flightsql CLIENT location).
    for name, default_port in (("serve-http", 8080), ("serve-flightsql", 50051)):
        sp = sub.add_parser(name, help=f"start the {name.split('-')[1]} server")
        sp.add_argument("--serve-host", default="127.0.0.1", help="bind address")
        sp.add_argument("--serve-port", type=int, default=default_port, help="bind port")
        sp.add_argument(
            "--metrics-port", type=int,
            help="serve Prometheus metrics on a dedicated port "
            "(reference --metrics-addr)",
        )
        # --config/--register also accepted AFTER the subcommand (the
        # natural place to type them); SUPPRESS keeps a value given
        # before the subcommand from being clobbered by a default
        sp.add_argument("--config", default=argparse.SUPPRESS,
                        help="TOML config file")
        sp.add_argument("--register", default=argparse.SUPPRESS,
                        help="corpus directory to register as views")
    # `dft generate-tpch` (args.rs:229-234: --scale-factor, --format
    # {parquet,vortex}); generator flags go AFTER the subcommand. The
    # reference writes into the configured DB path; here --output names
    # the destination explicitly. Same surface as the legacy
    # --generate-tpch flag plus --format.
    gp = sub.add_parser("generate-tpch", help="generate TPC-H data")
    gp.add_argument("--output", required=True, help="destination directory")
    gp.add_argument("--scale-factor", type=float, default=1.0)
    gp.add_argument("--format", choices=("parquet", "vortex"), default="parquet",
                    help="vortex needs the vortex-data package (flat layout only)")
    gp.add_argument("--db-layout", action="store_true",
                    help="{db}/tables/dft/tpch/{t}/ layout (parquet only)")
    gp.add_argument("--money", choices=("double", "decimal"), default="double")
    return p


def _client_config(args):
    """[flightsql_client] from --config, else defaults."""
    from .config import FlightClientConfig, load_config

    if getattr(args, "config", None):
        return load_config(args.config).flightsql_client
    return FlightClientConfig()


def resolve_host(args, fc) -> str:
    """--host wins over the config connection_url (cli/mod.rs:908-909);
    http(s):// notation maps to gRPC locations."""
    from .config import grpc_location

    return grpc_location(args.host or fc.connection_url)


def collect_headers(args, fc=None) -> list[tuple[str, str]]:
    """Three-way merge, later sources win (cli/mod.rs:877-906):
    config headers (+auth) < headers file (--headers-file or config
    headers_file) < --header flags."""
    from .config import client_call_headers

    return client_call_headers(fc, args.header, args.headers_file)


def _call_options(headers: list[tuple[str, str]]):
    import pyarrow.flight as fl

    if not headers:
        return None
    return fl.FlightCallOptions(
        headers=[(k.encode(), v.encode()) for k, v in headers]
    )


def _do_command(client, cmd: dict, options):
    """get_flight_info → do_get for one FlightSQL command dict."""
    import pyarrow.flight as fl

    from .server import flightsql_proto as fsp

    desc = fl.FlightDescriptor.for_command(fsp.encode_command(cmd))
    info = client.get_flight_info(desc, options)
    return client.do_get(info.endpoints[0].ticket, options).read_all()


def run_flightsql_client(args, scripts: list[str]) -> int:
    """``dft -c ... --flightsql --host`` (tests/server_cases/flightsql.rs:55-71):
    each statement goes get_flight_info → do_get against the server; no
    local Spark session is built. Commands go over the stock protobuf
    ``arrow.flight.protocol.sql`` envelope, so this client also works
    against any standard FlightSQL server (and ours exercises the
    protobuf path end-to-end). ``--header`` / ``--headers-file`` entries
    ride every call (args.rs:104-116) — how auth reaches a secured
    server."""
    import pyarrow.flight as fl

    from .sql import split_statements

    try:
        fc = _client_config(args)
        options = _call_options(collect_headers(args, fc))
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    client = fl.FlightClient(resolve_host(args, fc))
    rc = 0
    for script in scripts:
        for stmt in split_statements(script):
            try:
                t0 = time.perf_counter()
                table = _do_command(
                    client, {"type": "statement", "query": stmt}, options
                )
                print(format_arrow_table(table, limit=args.limit))
                if args.time:
                    print(f"elapsed: {time.perf_counter() - t0:.3f}s")
            except Exception as e:  # mirror dft: report per-statement, keep going
                print(f"error in statement: {stmt[:80]}...\n  {e}", file=sys.stderr)
                rc = 1
    client.close()
    return rc


def run_flightsql_command(args) -> int:
    """``dft flightsql <command>`` (args.rs:148-196): one catalog /
    metadata / query RPC against ``--host``, result printed as a table.
    Command names and options match the reference's clap derivations
    (kebab-case of the FlightSQL message names)."""
    import pyarrow.flight as fl

    cmd_builders = {
        "statement-query": lambda a: {"type": "statement", "query": a.sql},
        "get-catalogs": lambda a: {"type": "catalogs"},
        "get-db-schemas": lambda a: {
            "type": "db_schemas",
            "catalog": a.catalog,
            "db_schema_filter_pattern": a.db_schema_filter_pattern,
        },
        "get-tables": lambda a: {
            "type": "tables",
            "catalog": a.catalog,
            "db_schema_filter_pattern": a.db_schema_filter_pattern,
            "table_name_filter_pattern": a.table_name_filter_pattern,
            "table_types": a.table_types,
        },
        "get-table-types": lambda a: {"type": "table_types"},
        "get-sql-info": lambda a: {"type": "sql_info", "info": a.info},
        "get-xdbc-type-info": lambda a: {"type": "xdbc_type_info", "data_type": a.data_type},
    }
    try:
        fc = _client_config(args)
        options = _call_options(collect_headers(args, fc))
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    client = fl.FlightClient(resolve_host(args, fc))
    try:
        table = _do_command(client, cmd_builders[args.fsql_command](args), options)
        print(format_arrow_table(table, limit=args.limit))
        return 0
    except Exception as e:  # the CLI's reporter: any RPC failure is printed and exits 1
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        client.close()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if getattr(args, "subcommand", None) == "flightsql":
        return run_flightsql_command(args)
    if getattr(args, "subcommand", None) == "generate-tpch":
        # same execution path as the legacy --generate-tpch flag; the
        # subparser owns scale_factor/db_layout/money, --format extends
        if args.format == "vortex" and args.db_layout:
            print("error: --format vortex supports the flat layout only",
                  file=sys.stderr)
            return 2
        args.generate_tpch = args.output
        args.command, args.file = [], []
    if getattr(args, "subcommand", None) in ("serve-http", "serve-flightsql"):
        serve_argv = ["--host", args.serve_host, "--port", str(args.serve_port)]
        if args.config:
            serve_argv += ["--config", args.config]
        if args.register:
            serve_argv += ["--register", args.register]
        if args.metrics_port is not None:
            serve_argv += ["--metrics-port", str(args.metrics_port)]
        if args.subcommand == "serve-http":
            from .server.http import main as serve_main
        else:
            from .server.flight import main as serve_main
        return serve_main(serve_argv)
    if not args.command and not args.file and not args.generate_tpch:
        print("error: provide SQL via -c or -f (or --generate-tpch DIR)", file=sys.stderr)
        return 2
    # cli_cases/basic.rs:128-166 — a missing -f file is a usage error
    # (exit 2, clean message), checked up front so no statement runs.
    import os as _os

    for path in args.file:
        if not _os.path.exists(path):
            print(f"File does not exist: '{path}'", file=sys.stderr)
            return 2
    # cli_cases/basic.rs:399-414 — -o is only meaningful for exactly one
    # command/file; silently writing "the last result" hides the others.
    if args.output and (len(args.command) + len(args.file)) > 1:
        print("Error: Output can only be saved for a single file or command", file=sys.stderr)
        return 2

    if args.flightsql:
        scripts = list(args.command)
        for path in args.file:
            with open(path) as f:
                scripts.append(f.read())
        return run_flightsql_client(args, scripts)

    from .catalog import register_db, register_views
    from .config import AppConfig, load_config
    from .plans.bench import format_report, run_bench, save_csv
    from .session import app_session
    from .sources.io import write_any
    from .sql import execute_ddl_file, prepare_statement, split_statements

    config = load_config(args.config, app="cli") if args.config else AppConfig()
    if config.execution.cli_batch_size:
        # docs/config.md cli_batch_size — lands on Arrow batch sizing
        # (toArrow / pandas-UDF transfer units), the Spark analog of the
        # reference's per-app record-batch size.
        config.execution.settings.setdefault(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.execution.cli_batch_size),
        )
    # cli_cases/config.rs:59-89 — config ddl_path runs only when
    # --run-ddl is passed, so a config file can carry DDL without every
    # invocation replaying it. Tables generated below are registered
    # after they exist.
    spark = app_session(
        config,
        "datafusion-dft-spark-cli",
        master=args.master,
        register=None if args.generate_tpch else args.register,
        run_ddl=args.run_ddl,
    )
    if args.generate_tpch:
        from .tools.tpch_gen import generate

        try:
            paths = generate(
                spark,
                args.generate_tpch,
                scale_factor=args.scale_factor,
                layout="db" if args.db_layout else "flat",
                money=args.money,
                fmt=getattr(args, "format", "parquet"),
            )
        except NotImplementedError as e:
            # the vortex package gate — actionable message, clean exit
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(f"generated {len(paths)} tables (sf={args.scale_factor}):")
        for p in paths:
            print(f"  {p}")
        if not args.command and not args.file:
            return 0
        if args.register:
            register_views(spark, args.register)
    if args.db:
        register_db(spark, args.db)
    if args.ddl:
        execute_ddl_file(spark, args.ddl)

    scripts: list[str] = list(args.command)
    for path in args.file:
        with open(path) as f:
            scripts.append(f.read())

    # cli_cases/config.rs:92-118 — [execution] benchmark_iterations is
    # the -n default; an explicit -n wins.
    if args.iterations is None:
        args.iterations = config.execution.benchmark_iterations

    last_df: DataFrame | None = None
    bench_results = []
    rc = 0
    for script in scripts:
        for stmt in split_statements(script):
            try:
                prepared = prepare_statement(spark, stmt)
                if args.bench:
                    if args.concurrent:
                        from .plans.bench import run_bench_concurrent

                        res = run_bench_concurrent(
                            spark, prepared, iterations=args.iterations, run_before=args.run_before
                        )
                    else:
                        res = run_bench(
                            spark, prepared, iterations=args.iterations, run_before=args.run_before
                        )
                    bench_results.append(res)
                    print(format_report(res))
                    continue
                if args.analyze:
                    from .plans.bench import analyze

                    info = analyze(spark, prepared)
                    print(
                        f"rows={info['rows']} plan={info['plan_sec']*1e3:.1f}ms "
                        f"physical={info['physical_sec']*1e3:.1f}ms "
                        f"execute={info['execute_sec']*1e3:.1f}ms"
                    )
                    print(info["explain_formatted"])
                    continue
                t0 = time.perf_counter()
                df = spark.sql(prepared)
                print(format_table(df, limit=args.limit))
                if args.time:
                    print(f"elapsed: {time.perf_counter() - t0:.3f}s")
                last_df = df
            except Exception as e:  # mirror dft: report per-statement, keep going
                print(f"error in statement: {stmt[:80]}...\n  {e}", file=sys.stderr)
                rc = 1
    if args.save and bench_results:
        save_csv(bench_results, args.save, append=args.append)
        print(f"saved benchmark CSV: {args.save}")
    if args.output and last_df is not None:
        try:
            write_any(last_df, args.output, single_file=True)
            print(f"wrote: {args.output}")
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
