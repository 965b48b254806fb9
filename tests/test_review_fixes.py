"""Regression tests for code-review findings (round 1 review pass)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from datafusion_dft_spark.operators.joins import asof_join, salted_join
from datafusion_dft_spark.sql import prepare_statement, split_statements


def test_asof_join_does_not_blend_right_rows(spark):
    """A NULL field in the matched right row must stay NULL — not be
    backfilled from an older right row (per-column carry bug)."""
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 3))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 1), 5.0, 7.0),
            (1, dt.datetime(2024, 1, 1, 2), None, 9.0),
        ],
        "k long, ts timestamp, a double, b double",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
    assert len(out) == 1
    row = out[0]
    assert row.a_right is None, "NULL field backfilled from an older right row"
    assert row.b_right == 9.0
    assert row.ts_right == dt.datetime(2024, 1, 1, 2)


def test_asof_join_no_prior_match_is_null(spark):
    left = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 6, 1), 1.0)], "k long, ts timestamp, a double"
    )
    row = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()[0]
    assert row.a_right is None and row.ts_right is None


def test_split_statements_backslash_escape():
    stmts = split_statements(r"SELECT 'don\'t; stop' AS s; SELECT 2")
    assert len(stmts) == 2
    assert stmts[0] == r"SELECT 'don\'t; stop' AS s"


def test_json_length_rewrite_nested_and_objects(spark):
    stmt = prepare_statement(
        spark, "SELECT json_length(json_get(j, 'arr')) AS n, json_length(j) AS k FROM jt"
    )
    assert stmt.count("(") == stmt.count(")"), stmt
    spark.sql(
        "SELECT '{\"arr\": [1,2,3], \"x\": 1}' AS j"
    ).createOrReplaceTempView("jt")
    row = spark.sql(stmt).collect()[0]
    assert row.n == 3  # array length of $.arr
    assert row.k == 2  # object key count fallback


def test_salted_join_rejects_outer(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, on="k", how="full")


def test_nanos_flag_not_leaked(spark, sf_dir):
    from datafusion_dft_spark.catalog import load_table

    load_table(spark, sf_dir, "events").count()
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_cli_config_udf_wiring(sf_dir, tmp_path, capsys):
    from datafusion_dft_spark.cli import main

    cfg = tmp_path / "cfg.toml"
    cfg.write_text(
        """
[[udf]]
name = "cli_cfg_add"
mode = "row"
input_types = ["int64", "int64"]
return_type = "int64"
function = "tests.udf_fixtures:add"
"""
    )
    rc = main(["--config", str(cfg), "-c", "SELECT cli_cfg_add(40, 2) AS s"])
    out = capsys.readouterr().out
    assert rc == 0 and "42" in out


def test_asof_join_null_keys_never_match(spark):
    """Equi-join semantics: a NULL left key must NOT pick up a NULL-key
    right row's payload (round-2 ADVICE: NULL keys grouped together by
    the window partition matched each other)."""
    left = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 2)), (1, dt.datetime(2024, 1, 2))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (None, dt.datetime(2024, 1, 1), 99.0),
            (1, dt.datetime(2024, 1, 1), 5.0),
        ],
        "k long, ts timestamp, a double",
    )
    rows = {r.k: r for r in asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()}
    assert rows[1].a_right == 5.0
    assert rows[None].a_right is None, "NULL key matched a NULL-key right row"
    assert rows[None].ts_right is None


def test_http_bad_limit_is_400(spark, sf_dir):
    from datafusion_dft_spark.config import AppConfig
    from datafusion_dft_spark.server.http import create_app

    c = create_app(spark, AppConfig(), sf_dir=sf_dir).test_client()
    for key in ("limit", "offset"):
        r = c.post("/sql", json={"sql": "SELECT 1 AS one", key: "not-a-number"})
        assert r.status_code == 400
        assert key in r.get_json()["error"]
    # metrics must have recorded the failures (not bypassed via a 500)
    text = c.get("/metrics").get_data(as_text=True)
    assert "dft_spark_requests_failed 2" in text


def test_http_auth_constant_time_compare(spark, sf_dir):
    """Wrong tokens still rejected, right ones accepted, through the
    hmac.compare_digest path (including non-prefix mismatches)."""
    from datafusion_dft_spark.config import AppConfig
    from datafusion_dft_spark.server.http import create_app

    cfg = AppConfig()
    cfg.http.bearer_token = "sekret-token"
    c = create_app(spark, cfg, sf_dir=sf_dir).test_client()
    body = {"sql": "SELECT 1 AS one"}
    assert c.post("/sql", json=body).status_code == 401
    assert c.post("/sql", json=body, headers={"Authorization": "Bearer sekret-tokeX"}).status_code == 401
    assert c.post("/sql", json=body, headers={"Authorization": "Bearer sekret-token-longer"}).status_code == 401
    assert c.post("/sql", json=body, headers={"Authorization": "Bearer sekret-token"}).status_code == 200


def test_byte_sums_large_binary_offsets():
    """large_binary carries int64 offsets — reading them as int32 would
    silently misparse (advisor r7); both widths must agree, and
    offset-less types must refuse."""
    import numpy as np
    import pyarrow as pa

    from datafusion_dft_spark.operators.multimodal import _byte_sums

    payloads = [b"", b"\x01\x02", b"\xff" * 5, None, b"abc"]
    want = [0, 3, 255 * 5, 0, ord("a") + ord("b") + ord("c")]
    small = pa.array(payloads, type=pa.binary())
    large = pa.array(payloads, type=pa.large_binary())
    assert list(np.asarray(_byte_sums(small))) == want
    assert list(np.asarray(_byte_sums(large))) == want
    # sliced large array keeps correct offsets interpretation
    assert list(np.asarray(_byte_sums(large.slice(1, 2)))) == want[1:3]
    with pytest.raises(TypeError, match="binary"):
        _byte_sums(pa.array([1, 2], type=pa.int64()))


def test_drain_flight_stops_after_need_rows():
    """The flightsql-routed HTTP path must stream do_get and stop at
    offset+limit rows instead of read_all() (advisor r7, medium)."""
    import pyarrow as pa

    from datafusion_dft_spark.server.http import _drain_flight

    class FakeChunk:
        def __init__(self, data):
            self.data = data

    class FakeReader:
        schema = pa.schema([("x", pa.int64())])

        def __init__(self, n_batches, rows_each):
            self._batches = [
                pa.record_batch([pa.array(range(rows_each), pa.int64())], schema=self.schema)
                for _ in range(n_batches)
            ]
            self.read = 0
            self.cancelled = False

        def read_chunk(self):
            if self.read >= len(self._batches):
                raise StopIteration
            b = self._batches[self.read]
            self.read += 1
            return FakeChunk(b)

        def cancel(self):
            self.cancelled = True

    r = FakeReader(100, 10)
    t = _drain_flight(r, 25)  # offset+limit = 25 -> 3 batches of 10
    assert t.num_rows == 30 and r.read == 3 and r.cancelled
    r2 = FakeReader(4, 10)
    assert _drain_flight(r2, None).num_rows == 40 and not r2.cancelled
    r3 = FakeReader(7, 10)
    t3 = _drain_flight(r3, 0)  # intermediate statement: no rows needed
    assert t3.num_rows == 0 and r3.read == 0 and r3.cancelled


def test_drain_flight_reads_schema_before_cancel():
    """A real FlightStreamReader raises FlightCancelledError from
    .schema once the stream is cancelled before the schema message —
    _drain_flight must capture the schema FIRST even on the need=0
    cancel-immediately path (advisor r8, high)."""
    import pyarrow as pa

    from datafusion_dft_spark.server.http import _drain_flight

    class OrderReader:
        def __init__(self):
            self.cancelled = False
            self.read = 0

        @property
        def schema(self):
            if self.cancelled:
                raise RuntimeError("stream cancelled before schema message")
            return pa.schema([("x", pa.int64())])

        def read_chunk(self):
            raise StopIteration

        def cancel(self):
            self.cancelled = True

    r = OrderReader()
    t = _drain_flight(r, 0)
    assert t.num_rows == 0 and r.cancelled  # no raise: schema read first
    # need=0 as a FINAL statement (offset=0, limit=0) takes the same path
    assert _drain_flight(OrderReader(), 0).schema.names == ["x"]


def test_routed_intermediate_copy_fully_drains(spark, sf_dir, tmp_path):
    """A COPY sent as an intermediate statement of a routed script must
    be drained to completion, not cancelled: the write runs inside the
    server's do_get stream (advisor r8, high). Verified end-to-end
    against the in-process FlightSQL server: the copied file must exist
    and be complete even though the COPY is not the final statement."""
    import pytest

    pytest.importorskip("pyarrow.flight")

    from datafusion_dft_spark.catalog import register_views
    from datafusion_dft_spark.config import AppConfig
    from datafusion_dft_spark.server.flight import DftFlightServer
    from datafusion_dft_spark.server.http import _flight_exec

    register_views(spark, sf_dir)
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        out = str(tmp_path / "region_out.parquet")
        fc = AppConfig().flightsql_client
        fc.connection_url = f"grpc://127.0.0.1:{server.port}"
        rows, _schema = _flight_exec(
            fc,
            f"COPY region TO '{out}'; SELECT 1 AS ok",
            limit=None,
        )
        assert rows == [{"ok": 1}]
        assert spark.read.parquet(out).count() == 5, (
            "intermediate COPY was cancelled before writing"
        )
    finally:
        server.shutdown()


def test_ensure_min_parallelism_guard(spark):
    """Narrow-scan guard (r12): under-split inputs repartition to the
    session parallelism; already-wide inputs pass through UNCHANGED
    (at scale the guard must add nothing to the plan)."""
    from datafusion_dft_spark.session import (
        default_parallelism,
        ensure_min_parallelism,
    )

    cpus = default_parallelism()
    narrow = spark.range(1000).coalesce(1)
    widened = ensure_min_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == cpus
    wide = spark.range(1000).repartition(cpus + 4)
    same = ensure_min_parallelism(wide)
    assert same is wide  # identity — no plan change on wide inputs


def test_default_parallelism_falls_back_to_usable_cores(monkeypatch):
    """Without the SPARK_GRAFT_CPUS override, plan for the cores this
    process may run on, not a fixed count."""
    import os

    from datafusion_dft_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert default_parallelism() == 32


def test_ensure_min_parallelism_connect_safe_probe():
    """r12 verdict 'what's wrong' #3: a session with no RDD handle
    (Spark Connect) must SKIP the guard with a logged warning, not
    silently swallow; any other probe failure is a genuine analysis
    error and PROPAGATES so the stack points at the caller."""
    import logging

    import datafusion_dft_spark.session as sess

    class _NoRdd:
        @property
        def rdd(self):
            raise AttributeError("rdd is not supported on Spark Connect")

    class _BrokenPlan:
        @property
        def rdd(self):
            raise RuntimeError("UNRESOLVED_COLUMN: missing")

    sess._WARNED_NO_RDD_PROBE = False
    no_rdd = _NoRdd()
    records = []

    class _Capture(logging.Handler):
        def emit(self, record):
            records.append(record.getMessage())

    h = _Capture()
    sess._LOG.addHandler(h)
    try:
        assert sess.ensure_min_parallelism(no_rdd) is no_rdd
        assert any("narrow-scan guard skipped" in m for m in records)
        n_after_first = len(records)
        # warning fires once, not per call
        assert sess.ensure_min_parallelism(no_rdd) is no_rdd
        assert len(records) == n_after_first
    finally:
        sess._LOG.removeHandler(h)
        sess._WARNED_NO_RDD_PROBE = False
    with pytest.raises(RuntimeError, match="UNRESOLVED_COLUMN"):
        sess.ensure_min_parallelism(_BrokenPlan())
