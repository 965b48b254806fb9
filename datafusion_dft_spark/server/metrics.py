"""Standalone Prometheus metrics listener on a dedicated port.

Reference analog: ``try_start_metrics_server``
(src/server/mod.rs:112-129) — both ``serve-http`` and
``serve-flightsql`` optionally take a metrics address and expose the
Prometheus text format there, separate from the data-plane port (so an
operator can scrape metrics without data-plane auth, and a slow query
cannot starve the scrape). Here: a stdlib ThreadingHTTPServer on a
daemon thread rendering a point-in-time snapshot — no exporter
dependency.
"""

from __future__ import annotations

import threading
from collections.abc import Callable


# Cumulative latency buckets in milliseconds; +Inf is the count.
_BUCKETS_MS = (5, 10, 25, 50, 100, 250, 500, 1000, 2500, 5000, 10000)


class Metrics:
    """Counters, ``*_active`` gauges and per-path latency histograms
    behind one lock.

    Flask request threads, Flight RPC threads and the metrics listener
    all touch one instance, so every update and every render holds the
    lock: no update is lost, a scrape never sees a histogram bucket
    ahead of its count, and it never iterates a dict that another
    thread is growing. Reference analog: the per-path request-duration
    histograms of src/telemetry.
    """

    def __init__(self, *names: str):
        self._lock = threading.Lock()
        self._values = dict.fromkeys(names, 0)
        self._hists: dict[str, list[float]] = {}  # path -> buckets..., sum, count

    def __getitem__(self, name: str):
        with self._lock:
            return self._values[name]

    def inc(self, name: str, n: int = 1) -> None:
        with self._lock:
            self._values[name] += n

    def set(self, name: str, value) -> None:
        with self._lock:
            self._values[name] = value

    def observe(self, path: str, ms: float) -> None:
        with self._lock:
            h = self._hists.setdefault(path, [0] * (len(_BUCKETS_MS) + 2))
            for i, le in enumerate(_BUCKETS_MS):
                if ms <= le:
                    h[i] += 1
            h[-2] += ms
            h[-1] += 1

    def render(self) -> str:
        """Prometheus text: ``*_active`` names as gauges, the other
        names as counters, then one histogram series per path."""
        with self._lock:
            values = dict(self._values)
            hists = {path: list(h) for path, h in self._hists.items()}
        lines = []
        for name in sorted(values):
            kind = "gauge" if name.endswith("_active") else "counter"
            lines.append(f"# TYPE dft_spark_{name} {kind}")
            lines.append(f"dft_spark_{name} {values[name]}")
        if hists:
            series = "dft_spark_request_duration_ms"
            lines.append(f"# TYPE {series} histogram")
            for path in sorted(hists):
                h = hists[path]
                for le, c in zip(_BUCKETS_MS, h):
                    lines.append(f'{series}_bucket{{path="{path}",le="{le}"}} {c}')
                lines.append(f'{series}_bucket{{path="{path}",le="+Inf"}} {h[-1]}')
                lines.append(f'{series}_sum{{path="{path}"}} {h[-2]:.3f}')
                lines.append(f'{series}_count{{path="{path}"}} {h[-1]}')
        return "\n".join(lines) + "\n"


def split_addr(addr: str | None) -> tuple[str, int] | None:
    """'host:port' → (host, port); None/'' → None (no listener)."""
    if not addr:
        return None
    host, _, port = addr.rpartition(":")
    if not host or not port.isdigit():
        raise ValueError(f"server_metrics_addr must be 'host:port', got {addr!r}")
    return host, int(port)


def start_metrics_server(render: Callable[[], str], host: str, port: int):
    """Serve ``render()`` at ``/metrics`` (and ``/``) on host:port.

    Returns the HTTP server (``.server_address`` carries the bound
    port when 0 was requested; ``.shutdown()`` stops it). The serving
    thread is a daemon — it dies with the process, like the
    reference's exporter task.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib casing)
            if self.path.split("?")[0] not in ("/metrics", "/"):
                self.send_error(404)
                return
            body = render().encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # scrapes must not spam stderr
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(
        target=server.serve_forever, name="dft-metrics", daemon=True
    )
    thread.start()
    return server


def start_metrics_listener(
    render: Callable[[], str], host: str, port: int | None, config_addr: str | None
):
    """The servers' listener rule: a ``--metrics-port`` flag (bound on
    the data-plane ``host``) wins over the config's
    ``server_metrics_addr``; with neither, no listener. Returns the
    started server or None."""
    addr = (host, port) if port is not None else split_addr(config_addr)
    if addr is None:
        return None
    server = start_metrics_server(render, *addr)
    print(f"metrics on http://{addr[0]}:{server.server_address[1]}/metrics")
    return server
