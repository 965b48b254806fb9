"""Interactive SQL REPL — the reference TUI's engine-facing core.

The reference ships a full ratatui SQL IDE (``src/tui/``); its
presentation layer (panes, syntax highlight, mouse) is out of scope
here, but the *engine-facing* behaviors its e2e cases assert
(``tests/tui_cases/{sql_execution,ddl,pagination}.rs``) are carried:

- interactive statement entry, executed on ``;`` through the same
  multi-statement SQL layer as the CLI (shared session state, so DDL
  in one statement is visible to the next — tui_cases/ddl.rs);
- results buffered as Arrow record batches and *paged* with the exact
  pagination math of ``src/tui/pagination.rs:24-70`` (PAGE_SIZE=100,
  page extraction across batch boundaries, empty-page semantics);
- ``\\timing`` toggle (the TUI's execution-elapsed display),
  ``\\d`` table listing, ``\\q`` quit;
- query history with execution time / row count / error, re-runnable by
  number (the History tab's engine contract,
  ``src/tui/state/tabs/history.rs:39-70`` HistoryQuery): ``\\history``
  lists, ``\\rerun N`` re-executes;
- the DDL pane's engine behaviors (``src/tui/state/tabs/sql.rs`` DDL
  mode: load/rerun the configured DDL file): ``\\ddl`` shows the
  configured file, ``\\ddl run`` (re-)executes it;
- the FlightSQL tab's engine contract (``tests/tui_cases/
  flightsql_execution.rs``, ``flightsql_pagination.rs``: same editor,
  statements routed to a FlightSQL server, separate execution context,
  identical pagination): ``\\flightsql URL`` switches the session to a
  server, ``\\flightsql off`` back to local; history tags each entry
  with its Context (history.rs:21-37 Local/FlightSQL).

The loop is I/O-injectable so tests drive it exactly like the
reference's simulated-keystroke TUI cases.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa

PAGE_SIZE = 100


def page_row_range(page: int, page_size: int = PAGE_SIZE) -> tuple[int, int]:
    """pagination.rs:9-13 — [start, end) row range of a page."""
    start = page * page_size
    return start, start + page_size


def has_sufficient_rows(loaded_rows: int, page: int, page_size: int = PAGE_SIZE) -> bool:
    """pagination.rs:16-19 — page fully materialized in the buffer?"""
    _, end = page_row_range(page, page_size)
    return loaded_rows >= end


def extract_page(
    batches: list[pa.RecordBatch], page: int, page_size: int = PAGE_SIZE
) -> pa.RecordBatch:
    """pagination.rs:22-50 — slice one page across batch boundaries.

    Same edge semantics: no batches → empty batch with empty schema;
    page beyond data → empty batch with the result schema; end clamped
    to available rows.
    """
    if not batches:
        return pa.RecordBatch.from_pylist([], schema=pa.schema([]))
    total = sum(b.num_rows for b in batches)
    start, end = page_row_range(page, page_size)
    end = min(end, total)
    if start >= total:
        return batches[0].slice(0, 0)
    table = pa.Table.from_batches(batches).slice(start, end - start).combine_chunks()
    return table.to_batches()[0]


@dataclass
class Repl:
    """Line-at-a-time REPL core, I/O-injected for tests."""

    spark: object
    echo: object = print
    timing: bool = False
    # tui_batch_size (docs/config.md: a record batch is the TUI's unit
    # of pagination; default 100 to keep pages snappy)
    batch_size: int = PAGE_SIZE
    # configured DDL file (execution.ddl_path) for \ddl / \ddl run
    ddl_path: str | None = None
    # FlightSQL-tab mode: when set, statements route to this server
    flight_url: str | None = None
    _fl_client: object = None
    _pending: list[str] = field(default_factory=list)
    # HistoryQuery analog: (context, sql, elapsed_sec, rows, error)
    _history: list[tuple[str, str, float, int | None, str | None]] = field(
        default_factory=list
    )
    _batches: list[pa.RecordBatch] = field(default_factory=list)
    _page: int = 0

    # ------------------------------------------------------------- commands

    def feed(self, line: str) -> bool:
        """Process one input line; returns False when the session ends."""
        stripped = line.strip()
        if not self._pending and stripped.startswith("\\"):
            return self._meta(stripped)
        if not self._pending and stripped in ("n", "p") and self._batches:
            self._turn_page(1 if stripped == "n" else -1)
            return True
        self._pending.append(line)
        if stripped.endswith(";"):
            sql = "\n".join(self._pending)
            self._pending.clear()
            self._run(sql)
        return True

    def _meta(self, cmd: str) -> bool:
        if cmd in ("\\q", "\\quit"):
            return False
        if cmd == "\\timing":
            self.timing = not self.timing
            self.echo(f"timing {'on' if self.timing else 'off'}")
        elif cmd == "\\d":
            self._run("SHOW TABLES;")
        elif cmd == "\\history":
            if not self._history:
                self.echo("-- history is empty")
            for i, (ctx, sql, elapsed, rows, err) in enumerate(self._history, 1):
                one_line = " ".join(sql.split())
                stat = f"ERROR: {err}" if err else f"{rows} row(s)"
                self.echo(f"[{i}] {ctx} {elapsed:.3f}s {stat}  {one_line[:80]}")
        elif cmd.startswith("\\rerun"):
            arg = cmd[len("\\rerun"):].strip()
            try:
                idx = int(arg)
            except ValueError:
                self.echo("usage: \\rerun N (see \\history)")
                return True
            if not 1 <= idx <= len(self._history):
                self.echo(f"no history entry {idx} (1-{len(self._history)})")
                return True
            self._run(self._history[idx - 1][1])
        elif cmd == "\\ddl" or cmd.startswith("\\ddl "):
            arg = cmd[len("\\ddl"):].strip()
            if not self.ddl_path:
                self.echo("no DDL file configured (execution.ddl_path)")
            elif arg == "run":
                from .sql import execute_ddl_file

                try:
                    n = execute_ddl_file(self.spark, self.ddl_path)
                    self.echo(f"ran {n} DDL statement(s) from {self.ddl_path}")
                except Exception as e:  # the REPL's reporter: print the error, keep the session
                    self.echo(f"error: {str(e).splitlines()[0]}")
            elif arg == "":
                try:
                    with open(self.ddl_path) as f:
                        self.echo(f.read().rstrip())
                except OSError as e:
                    self.echo(f"error: {e}")
            else:
                self.echo("usage: \\ddl [run]")
        elif cmd == "\\flightsql" or cmd.startswith("\\flightsql "):
            arg = cmd[len("\\flightsql"):].strip()
            if arg in ("", "off"):
                self._close_flight()
                if arg == "off" or self.flight_url:
                    self.flight_url = None
                    self.echo("flightsql off (statements run locally)")
                else:
                    self.echo("usage: \\flightsql URL | off")
            else:
                from .config import grpc_location

                self._close_flight()
                self.flight_url = grpc_location(arg)
                self.echo(f"flightsql on: statements route to {self.flight_url}")
        else:
            self.echo(
                f"unknown command: {cmd} (try \\d, \\timing, \\history, "
                "\\rerun N, \\ddl, \\flightsql, \\q)"
            )
        return True

    def _close_flight(self) -> None:
        if self._fl_client is not None:
            try:
                self._fl_client.close()
            except Exception:  # best-effort close of a connection that is being dropped
                pass
            self._fl_client = None

    def _run_flight(self, sql: str) -> "pa.Table":
        """FlightSQL-tab execution: statements go to the connected
        server; the result Table pages exactly like local results."""
        import pyarrow.flight as fl

        from .cli import _do_command
        from .sql import split_statements

        if self._fl_client is None:
            self._fl_client = fl.FlightClient(self.flight_url)
        table = None
        for stmt in split_statements(sql.rstrip(";")):
            table = _do_command(
                self._fl_client, {"type": "statement", "query": stmt}, None
            )
        return table if table is not None else pa.table({})

    def _run(self, sql: str) -> None:
        from .sql import execute_sql

        t0 = time.perf_counter()
        ctx = "FlightSQL" if self.flight_url else "Local"  # history.rs:21-37

        def record(rows: int | None, err: str | None) -> None:
            # HistoryQuery analog (history.rs:39-70): context + sql +
            # elapsed + stats on success, the error string otherwise
            self._history.append(
                (ctx, sql, time.perf_counter() - t0, rows, err)
            )

        if self.flight_url:
            try:
                table = self._run_flight(sql)
            except Exception as e:  # the REPL's reporter: record, print, keep the session
                msg = str(e).splitlines()[0]
                record(None, msg)
                self.echo(f"error: {msg}")
                return
        else:
            try:
                dfs = execute_sql(self.spark, sql.rstrip(";"))
            except Exception as e:  # the REPL's reporter: record, print, keep the session
                msg = str(e).splitlines()[0]
                record(None, msg)
                self.echo(f"error: {msg}")
                return
            if not dfs:
                record(0, None)
                return
            try:
                table = dfs[-1].toArrow()
            except Exception as e:  # the REPL's reporter: record, print, keep the session
                msg = str(e).splitlines()[0]
                record(None, msg)
                self.echo(f"error: {msg}")
                return
        record(table.num_rows, None)
        self._batches = table.to_batches(max_chunksize=self.batch_size) or []
        self._page = 0
        self._show_page()
        if self.timing:
            self.echo(f"elapsed: {time.perf_counter() - t0:.3f}s")

    def _turn_page(self, delta: int) -> None:
        total = sum(b.num_rows for b in self._batches)
        new = max(0, self._page + delta)
        start, _ = page_row_range(new, self.batch_size)
        if start < max(total, 1):
            self._page = new
        self._show_page()

    def _show_page(self) -> None:
        # batch_size IS the page size: a record batch is the TUI's unit
        # of pagination (docs/config.md tui_batch_size)
        page = extract_page(self._batches, self._page, self.batch_size)
        total = sum(b.num_rows for b in self._batches)
        if page.num_rows:
            self.echo(page.to_pandas().to_string(index=False))
        start, end = page_row_range(self._page, self.batch_size)
        self.echo(
            f"-- rows {min(start, total)}-{min(end, total)} of {total} "
            f"(page {self._page}; 'n' next, 'p' prev)"
            if total > self.batch_size
            else f"-- {total} row(s)"
        )


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .config import AppConfig, load_config
    from .session import app_session

    p = argparse.ArgumentParser(prog="datafusion-dft-spark-repl")
    p.add_argument("--config", help="TOML config file")
    p.add_argument("--register", help="corpus directory to register as views")
    args = p.parse_args(argv)
    config = load_config(args.config, app="tui") if args.config else AppConfig()
    # the configured DDL runs on \ddl run, not at start-up
    spark = app_session(
        config, "datafusion-dft-spark-repl", register=args.register, run_ddl=False
    )
    repl = Repl(
        spark,
        batch_size=config.execution.tui_batch_size or PAGE_SIZE,
        ddl_path=config.execution.ddl_path,
    )
    print("datafusion-dft-spark interactive shell (\\q to quit, \\d tables, \\timing)")
    while True:
        try:
            line = input("dft> " if not repl._pending else "...> ")
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if not repl.feed(line):
            return 0


if __name__ == "__main__":
    raise SystemExit(main())
