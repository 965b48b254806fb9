"""Start one of the program's servers through its own ``main``.

    python3 perfbench/launcher.py {http|flight} [--spans FILE] -- MAIN_ARGS...

With ``--spans`` the launcher first wraps the public entry points the
server calls on every request (``sql.prepare_statement``,
``Observability.record``, ``sources.io.copy_to``) and the request
handlers (the Flask WSGI app, ``DftFlightServer`` RPCs) in spans, and
counts the server's Spark jobs. When its standard input closes it
writes the spans to FILE and exits; the process group it leads (the
JVM and Python workers) is then stopped by the caller.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Tracer, apply_program_env  # noqa: E402

SERVERS = {
    "http": "datafusion_dft_spark.server.http",
    "flight": "datafusion_dft_spark.server.flight",
}
FLIGHT_RPCS = ("get_flight_info", "do_get", "do_action")


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def inner(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return inner


def instrument(tracer: Tracer, server_mod, kind: str, jobs: dict) -> None:
    from datafusion_dft_spark import catalog, observability, session, sql
    from datafusion_dft_spark.sources import io
    from pyspark.sql import SparkSession

    prepare = _wrap(tracer, "sql.prepare", sql.prepare_statement)
    sql.prepare_statement = prepare
    server_mod.prepare_statement = prepare
    observability.Observability.record = _wrap(
        tracer, "observability.record", observability.Observability.record
    )
    io.copy_to = _wrap(tracer, "sources.copy", io.copy_to)
    # start-up: the servers' main imports these at call time
    session.get_spark = _wrap(tracer, "session.start", session.get_spark)
    catalog.register_views = _wrap(tracer, "catalog.register", catalog.register_views)

    def first_request_jobs():
        if "base" not in jobs:
            spark = SparkSession.builder.getOrCreate()  # the server's own session
            jobs["spark"] = spark
            jobs["base"] = _all_jobs(spark)

    if kind == "http":
        create_app = server_mod.create_app

        def traced_create_app(*a, **kw):
            app = create_app(*a, **kw)
            wsgi = app.wsgi_app

            def traced_wsgi(environ, start_response):
                first_request_jobs()
                with tracer.span("server.handle", rid=environ.get("HTTP_X_BENCH_ID")):
                    return wsgi(environ, start_response)

            app.wsgi_app = traced_wsgi
            return app

        server_mod.create_app = traced_create_app
    else:
        cls = server_mod.DftFlightServer
        for rpc in FLIGHT_RPCS:
            orig = getattr(cls, rpc)

            def make(orig, rpc):
                @functools.wraps(orig)
                def inner(self, *a, **kw):
                    first_request_jobs()
                    with tracer.span(f"server.{rpc}"):
                        return orig(self, *a, **kw)

                return inner

            setattr(cls, rpc, make(orig, rpc))


def _all_jobs(spark) -> int:
    """Jobs the status store has seen (running or finished)."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def main(argv: list[str]) -> int:
    kind = argv[0]
    spans_path = None
    rest = argv[1:]
    if rest[:1] == ["--spans"]:
        spans_path, rest = rest[1], rest[2:]
    if rest[:1] == ["--"]:
        rest = rest[1:]
    apply_program_env()
    import importlib

    server_mod = importlib.import_module(SERVERS[kind])
    tracer = Tracer(spans_path is not None)
    jobs: dict = {}
    if tracer.enabled:
        instrument(tracer, server_mod, kind, jobs)

    def watch_stdin():
        sys.stdin.read()  # returns at EOF: the caller wants us gone
        if spans_path:
            total = None
            if "spark" in jobs:
                try:
                    total = _all_jobs(jobs["spark"]) - jobs["base"]
                except Exception as e:  # report, do not hang the exit
                    print(f"launcher: job count unavailable: {e}", file=sys.stderr)
            with open(spans_path + ".tmp", "w") as f:
                json.dump({"spans": tracer.spans, "jobs": total}, f)
            os.replace(spans_path + ".tmp", spans_path)
        sys.stdout.flush()
        os._exit(0)

    threading.Thread(target=watch_stdin, name="stdin-watch", daemon=True).start()
    return server_mod.main(rest)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
