"""Shared plumbing: the checkout layout, seeded corpora with cached
oracle digests, the process-tree memory sampler and the span recorder.

The benchmark runs from the root of a checkout of the repository. It
imports the program (``datafusion_dft_spark``) and the corpus generator
(``tools/tpch_gen.py``) from there, and keeps everything it writes under
``.perfbench/`` in that checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
CORPORA = os.path.join(STATE, "corpus")
# Corpora are regenerated per seed; keep only the most recent few.
KEEP_CORPORA = 3


class CheckoutError(RuntimeError):
    """The working directory is not a checkout of the program."""


def check_checkout() -> None:
    missing = [
        p
        for p in ("datafusion_dft_spark/registry.py", "tools/tpch_gen.py", "tools/verify_driver.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        raise CheckoutError(
            f"run from the root of a checkout of the program; missing {', '.join(missing)}"
        )


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def program_env(extra: dict[str, str] | None = None) -> dict[str, str]:
    """The deployment settings the repository's tier-1 command uses:
    ``SPARK_GRAFT_CPUS`` = usable cores, a local dir for Spark scratch,
    and the checkout on ``PYTHONPATH`` so Python workers import the
    program."""
    local_dirs = os.path.join(STATE, "spark-local")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": local_dirs,
        # keep temporary files inside the checkout too
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    env.update(extra or {})
    return env


def apply_program_env() -> None:
    os.environ.update(program_env())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def host_facts() -> dict:
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    import pyspark

    return {
        "nproc": cpu_count(),
        "ram_gb": round(mem_kb / 1048576, 1),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "env": {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM")},
    }


# --------------------------------------------------------------- corpus


def _tpch_gen():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import tpch_gen
    finally:
        sys.path.pop(0)
    return tpch_gen


@dataclass(frozen=True)
class Corpus:
    sf: float
    seed: int
    path: str

    def stats(self) -> dict:
        with open(os.path.join(self.path, "tables.json")) as f:
            return json.load(f)


def ensure_corpus(sf: float, seed: int) -> Corpus:
    """Generate (or reuse) the corpus for (sf, seed) with
    ``tools/tpch_gen.generate`` and record rows, bytes and row groups
    per table beside it."""
    path = os.path.join(CORPORA, f"sf{sf:g}-seed{seed}")
    done = os.path.join(path, "tables.json")
    if not os.path.exists(done):
        import contextlib
        import io

        import pyarrow.parquet as pq

        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(io.StringIO()):
            _tpch_gen().generate(sf, tmp, seed=seed)
        tables = {}
        for name in sorted(os.listdir(tmp)):
            if name.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(tmp, name)).metadata
                tables[name[: -len(".parquet")]] = {
                    "rows": meta.num_rows,
                    "bytes": os.path.getsize(os.path.join(tmp, name)),
                    "row_groups": meta.num_row_groups,
                }
        with open(os.path.join(tmp, "tables.json"), "w") as f:
            json.dump(tables, f, sort_keys=True)
        os.replace(tmp, path)
        _prune_corpora(keep=path)
    os.utime(path)
    return Corpus(sf, seed, path)


def _prune_corpora(keep: str) -> None:
    entries = [
        os.path.join(CORPORA, d) for d in os.listdir(CORPORA) if not d.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in [e for e in entries if e != keep][KEEP_CORPORA - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def _normalize(v):
    """Make Arrow-delivered values print like DuckDB's Python values:
    tz-aware UTC timestamps become naive UTC."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return [_normalize(x) for x in v]
    return v


def _verify_driver():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import verify_driver
    finally:
        sys.path.pop(0)
    return verify_driver


def digest_rows(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest: row count, sorted column names and the
    value hash of ``tools/verify_driver.py`` (floats at %.6g)."""
    body = _verify_driver().value_hash(list(columns), rows)
    return hashlib.md5(
        f"{len(rows)}|{','.join(sorted(columns))}|{body}".encode()
    ).hexdigest()


def digest_arrow(table) -> str:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    rows = [tuple(_normalize(c[r]) for c in data) for r in range(table.num_rows)]
    return digest_rows(cols, rows)


def oracle_digests(corpus: Corpus, names: list[str]) -> dict[str, str]:
    """DuckDB oracle digest per query, computed once per corpus and
    cached beside it."""
    cache = os.path.join(corpus.path, "oracle.json")
    known: dict[str, str] = {}
    if os.path.exists(cache):
        with open(cache) as f:
            known = json.load(f)
    todo = [n for n in names if n not in known]
    if todo:
        import duckdb

        from datafusion_dft_spark.registry import all_queries

        specs = all_queries()
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in _verify_driver().TABLES:
            p = os.path.join(corpus.path, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for n in todo:
            oracle = specs[n].oracle
            if oracle is None:
                raise ValueError(f"query {n} has no oracle; the benchmark times only checked queries")
            res = con.sql(oracle)
            known[n] = digest_rows(list(res.columns), [tuple(r) for r in res.fetchall()])
        con.close()
        with open(cache + ".tmp", "w") as f:
            json.dump(known, f, sort_keys=True)
        os.replace(cache + ".tmp", cache)
    return {n: known[n] for n in names}


# ------------------------------------------------------- process memory


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    kids.extend(int(x) for x in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return kids


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def become_subreaper() -> None:
    """Make orphaned descendants (a JVM whose launcher exited, Python
    workers whose JVM exited) children of this process, so
    ``stop_descendants`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace: float = 15.0) -> None:
    """Wait up to ``grace`` s for every descendant to exit, then
    terminate and finally kill the rest; returns when none is left."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace
    sig = None
    while True:
        _reap()
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


class RssSampler:
    """Samples the summed RSS of process trees every ``interval`` s in a
    background thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, roots: list[int], interval: float = 0.5):
        self.roots = list(roots)
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def add_root(self, pid: int) -> None:
        self.roots.append(pid)

    def _sample(self) -> None:
        pids = {p for r in list(self.roots) for p in tree_pids(r)}
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end, parent and a shared id.

    Disabled tracers record nothing, so untraced runs pay one attribute
    test per boundary. Spans nest per thread.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["idx"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
        }
        with self._lock:
            rec["idx"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["idx"]])
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    @staticmethod
    def span_cost_s(n: int = 20000) -> float:
        """Measured cost of entering and leaving one span."""
        t = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n
