"""The ``requests`` log: rows recorded in O(1), the view built on read.

Golden-batch and upsert tests mirror tables/map_table.rs (the
reference's backing table) and observability/mod.rs:164-232.
"""

from __future__ import annotations

import shutil
import sys
import threading

from datafusion_dft_spark.observability import Observability
from datafusion_dft_spark.sql import execute_sql


def _keys(obs: Observability) -> list[tuple[str, str]]:
    return [(r.request_id, r.path) for r in obs.df().collect()]


def test_scan_golden_batch(spark):
    """map_table.rs:400-420 — seed rows, scan, assert batch contents."""
    obs = Observability(spark, view_name="obs_golden")
    for rid in ("a", "b", "c"):
        obs.record("/sql", f"SELECT '{rid}'", 1, 1, 200, request_id=rid)
    assert _keys(obs) == [("a", "/sql"), ("b", "/sql"), ("c", "/sql")]


def test_upsert_replaces_in_place(spark):
    """IndexMap semantics: the same key replaces the row and keeps its
    insertion position."""
    obs = Observability(spark, view_name="obs_upsert")
    obs.record("/sql", "SELECT 1", 5, 1, 200, request_id="r1")
    obs.record("/sql", "SELECT 2", 6, 1, 200, request_id="r2")
    obs.record("/sql", "SELECT 1", 7, None, 400, request_id="r1")
    rows = [(r.request_id, r.duration_ms, r.rows, r.status) for r in obs.df().collect()]
    assert rows == [("r1", 7, None, 400), ("r2", 6, 1, 200)]


def test_composite_primary_key(spark):
    """One request id spans several RPC rows; the (request_id, path)
    pair is the key."""
    obs = Observability(spark, view_name="obs_composite")
    obs.record("/x", None, 1, None, 0, request_id="a")
    obs.record("/y", None, 2, None, 0, request_id="a")
    obs.record("/x", None, 3, None, 0, request_id="a")
    rows = [(r.request_id, r.path, r.duration_ms) for r in obs.df().collect()]
    assert rows == [("a", "/x", 3), ("a", "/y", 2)]


def test_sql_projection_and_filter(spark):
    """The view is a plain relation: Catalyst projects/filters it."""
    obs = Observability(spark, view_name="obs_sql")
    for i in range(10):
        obs.record("/sql", f"v{i}", i, i, 200, request_id=f"id{i}")
    (df,) = execute_sql(
        spark, "SELECT sql FROM obs_sql WHERE duration_ms >= 8 ORDER BY duration_ms"
    )
    assert [r.sql for r in df.collect()] == ["v8", "v9"]


def test_save_load_round_trip(spark, tmp_path):
    """Shutdown serialization (map_table.rs:69-71) round-trips, nulls
    included."""
    p = str(tmp_path / "dbdir")
    a = Observability(spark, view_name="obs_save", persist_path=p)
    a.record("/sql", "SELECT 1", 10, 1, 200, request_id="r1")
    a.record("/do_put", None, 3, None, 2, request_id="r2")
    a.save()
    shutil.copytree(f"{p}/observability/obs_save", f"{p}/observability/obs_load")
    b = Observability(spark, view_name="obs_load", persist_path=p)
    assert [tuple(r) for r in b.df().collect()] == [tuple(r) for r in a.df().collect()]


def test_observability_persistence_round_trip(spark, tmp_path):
    """[db] path — the requests log survives a server restart: the
    restored rows are in the view from construction on, before any
    request is recorded."""
    p = str(tmp_path / "dbdir")
    a = Observability(spark, view_name="req_persist_a", persist_path=p)
    a.record("/sql", "SELECT 1", 10, 1, 200, request_id="r1")
    a.save()
    # "restart": a fresh instance under another view name, so the two
    # views stay apart in the shared session
    shutil.copytree(f"{p}/observability/req_persist_a", f"{p}/observability/req_persist_b")
    Observability(spark, view_name="req_persist_b", persist_path=p)
    assert "req_persist_b" in {t.name for t in spark.catalog.listTables()}
    (df,) = execute_sql(spark, "SELECT request_id, path FROM req_persist_b")
    assert [tuple(r) for r in df.collect()] == [("r1", "/sql")]


def test_record_matches_reference_schema(spark):
    """observability/mod.rs:185-231 — record one request, read it back
    through SQL with the exact reference schema."""
    obs = Observability(spark, view_name="requests_mt")
    obs.record("/sql", "SELECT 1", 200, 1, 200, request_id="fixed-id")
    (df,) = execute_sql(
        spark, "SELECT request_id, path, sql, duration_ms, rows, status FROM requests_mt"
    )
    assert [r.asDict() for r in df.collect()] == [
        {
            "request_id": "fixed-id",
            "path": "/sql",
            "sql": "SELECT 1",
            "duration_ms": 200,
            "rows": 1,
            "status": 200,
        }
    ]


def test_record_makes_no_spark_call_and_read_builds_once(spark, monkeypatch):
    """Recording is O(1) with no Spark call; the first read builds the
    view once and a read with no new record builds nothing."""
    obs = Observability(spark, view_name="obs_count")
    calls = []
    build = spark.createDataFrame

    def counted(*a, **kw):
        calls.append(1)
        return build(*a, **kw)

    monkeypatch.setattr(spark, "createDataFrame", counted)
    for i in range(10_000):
        obs.record("/sql", "SELECT 1", 1, 1, 200, request_id=str(i))
    assert len(calls) == 0
    (df,) = execute_sql(spark, "SELECT count(*) AS n FROM obs_count")
    assert df.first().n == 10_000
    assert len(calls) == 1
    (df,) = execute_sql(spark, "SELECT count(*) AS n FROM obs_count")
    assert df.first().n == 10_000
    assert len(calls) == 1


def test_concurrent_record_and_read(spark):
    """Eight recording threads and one reading thread: none raises and
    no row is lost."""
    obs = Observability(spark, view_name="obs_concurrent")
    errors: list[BaseException] = []
    writers_done = threading.Event()

    def write(t: int) -> None:
        try:
            for i in range(500):
                obs.record("/sql", None, 1, 1, 200, request_id=f"{t}-{i}")
        except BaseException as e:
            errors.append(e)

    def read() -> None:
        try:
            while not writers_done.is_set():
                (df,) = execute_sql(spark, "SELECT count(*) AS n FROM obs_concurrent")
                assert 0 <= df.first().n <= 4000
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=write, args=(t,)) for t in range(8)]
    reader = threading.Thread(target=read)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        reader.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        writers_done.set()
        reader.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in [*threads, reader])
    assert errors == []
    assert obs.df().count() == 4000
