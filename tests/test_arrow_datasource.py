"""Arrow IPC Python DataSource (Spark 4 `pyspark.sql.datasource`).

Covers the idiomatic upgrade of the Arrow IPC glue: partition-per-file
reads that yield RecordBatches straight into Spark (no pandas hop),
distributed part-file writes, overwrite cleanup, schema-mismatch
refusal, and type fidelity (decimal/timestamp) that the old
``toPandas()`` writer could mangle. Reference parity anchor: Arrow IPC
is a listing format in the reference (src/db.rs:37-52, stats.rs:733-736).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

from datafusion_dft_spark.sources.arrow_datasource import (
    FORMAT_NAME,
    register_arrow_datasource,
)


def _write_ipc(path, table):
    with ipc.new_file(str(path), table.schema) as w:
        w.write_table(table)


def test_register_idempotent(spark, monkeypatch):
    register_arrow_datasource(spark)
    calls = []
    monkeypatch.setattr(type(spark.dataSource), "register", lambda self, cls: calls.append(cls))
    register_arrow_datasource(spark)  # second call is a no-op
    assert calls == []


def test_read_partition_per_file(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        t = pa.table({"a": pa.array(range(i * 10, (i + 1) * 10), pa.int64())})
        _write_ipc(src / f"f{i}.arrow", t)
    register_arrow_datasource(spark)
    df = spark.read.format(FORMAT_NAME).load(str(src))
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 30
    assert df.groupBy().sum("a").collect()[0][0] == sum(range(30))


def test_distributed_write_roundtrip_and_overwrite(spark, tmp_path):
    register_arrow_datasource(spark)
    df = spark.sql("SELECT id, CAST(id * 1.5 AS DOUBLE) AS v FROM range(40)")
    out = str(tmp_path / "out")
    df.repartition(4).write.format(FORMAT_NAME).mode("overwrite").save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".arrow")]
    assert len(parts) == 4
    back = spark.read.format(FORMAT_NAME).load(out)
    assert back.count() == 40
    assert {(r.id, r.v) for r in back.collect()} == {(i, i * 1.5) for i in range(40)}

    # overwrite removes the previous generation's part files
    df.repartition(2).write.format(FORMAT_NAME).mode("overwrite").save(out)
    parts2 = [f for f in os.listdir(out) if f.endswith(".arrow")]
    assert len(parts2) == 2
    assert spark.read.format(FORMAT_NAME).load(out).count() == 40


def test_empty_partitions_write_no_files(spark, tmp_path):
    register_arrow_datasource(spark)
    df = spark.range(5).repartition(8)
    out = str(tmp_path / "sparse")
    df.write.format(FORMAT_NAME).mode("append").save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".arrow")]
    assert 0 < len(parts) <= 8
    assert spark.read.format(FORMAT_NAME).load(out).count() == 5


def test_schema_mismatch_across_files_refused(spark, tmp_path):
    src = tmp_path / "mix"
    src.mkdir()
    _write_ipc(src / "a.arrow", pa.table({"a": pa.array([1, 2], pa.int64())}))
    _write_ipc(src / "b.arrow", pa.table({"b": pa.array([3, 4], pa.int64())}))
    register_arrow_datasource(spark)
    df = spark.read.format(FORMAT_NAME).load(str(src))
    with pytest.raises(Exception, match="must share a schema"):
        df.collect()


def test_write_to_existing_file_path_refused(spark, tmp_path):
    register_arrow_datasource(spark)
    f = tmp_path / "one.arrow"
    _write_ipc(f, pa.table({"a": pa.array([1], pa.int64())}))
    with pytest.raises(Exception, match="DIRECTORY of part files"):
        spark.range(3).write.format(FORMAT_NAME).mode("append").save(str(f))


def test_type_fidelity_decimal_timestamp(spark, tmp_path):
    """Decimal/timestamp survive the writer without pandas coercion —
    the old driver-side path went DataFrame->pandas->Arrow, which turns
    DECIMAL into object/float dtype; the DataSource writer receives
    Spark's own Arrow batches."""
    register_arrow_datasource(spark)
    df = spark.sql(
        "SELECT CAST(id AS DECIMAL(12,2)) / 4 AS m, "
        "timestamp'2024-01-02 03:04:05' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(10)"
    )
    out = str(tmp_path / "typed")
    df.coalesce(1).write.format(FORMAT_NAME).mode("overwrite").save(out)
    part = [f for f in os.listdir(out) if f.endswith(".arrow")][0]
    with open(os.path.join(out, part), "rb") as fh:
        t = ipc.open_file(fh).read_all()
    assert pa.types.is_decimal(t.schema.field("m").type)
    assert pa.types.is_timestamp(t.schema.field("ts").type)
    back = spark.read.format(FORMAT_NAME).load(out)
    assert back.schema["m"].dataType.simpleString() == "decimal(16,6)"
    assert back.count() == 10


def test_read_any_prefers_datasource(spark, tmp_path):
    """read_any on .arrow goes through the registered source (the scan
    shows up as a DataSourceV2 python scan)."""
    from datafusion_dft_spark.sources.io import read_any, write_any

    df = spark.range(6)
    single = str(tmp_path / "x.arrow")
    write_any(df, single, single_file=True)
    back = read_any(spark, single)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan or "PythonDataSource" in plan, plan
    assert back.count() == 6


def test_registration_failure_propagates(spark, tmp_path, monkeypatch):
    """The DataSource is the one reader and directory writer: a failed
    registration raises instead of switching to another code path."""
    from datafusion_dft_spark.sources.io import read_arrow, write_any

    src = tmp_path / "in"
    src.mkdir()
    _write_ipc(src / "a.arrow", pa.table({"a": pa.array([1, 2, 3], pa.int64())}))

    class _Refused(RuntimeError):
        pass

    def refuse(cls):
        raise _Refused(f"cannot register {cls.__name__}")

    monkeypatch.setattr(type(spark.dataSource), "register", lambda self, cls: refuse(cls))
    monkeypatch.setattr(spark, "_arrowipc_registered", False, raising=False)
    with pytest.raises(_Refused, match="ArrowIpcDataSource"):
        read_arrow(spark, str(src))
    out = tmp_path / "out_dir"
    with pytest.raises(_Refused, match="ArrowIpcDataSource"):
        write_any(spark.range(3), str(out), fmt="arrow")
    assert not out.exists()


def test_write_any_distributed_dir_target(spark, tmp_path):
    """write_any(fmt='arrow') on a non-.arrow path = distributed part
    files; .arrow suffix keeps the reference's one-file COPY contract."""
    from datafusion_dft_spark.sources.io import read_any, write_any

    df = spark.range(12).repartition(3)
    out = str(tmp_path / "dist_dir")
    write_any(df, out, fmt="arrow")
    parts = [f for f in os.listdir(out) if f.endswith(".arrow")]
    assert len(parts) == 3
    assert read_any(spark, out, fmt="arrow").count() == 12
