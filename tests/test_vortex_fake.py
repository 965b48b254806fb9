"""Exercise the Vortex read/write glue against an API-conformant fake.

vortex-python is absent in this container, so `sources/io.py`'s Vortex
path had only its NotImplementedError gate under test. This test runs
the FULL glue — `_require_vortex`, `_vortex_file_to_arrow`'s API
probing, the distributed `read_vortex` DataSource scan, and
`write_any`'s writer-API discovery — in a subprocess whose PYTHONPATH
carries a fake `vortex` package implementing the documented surface
(`vortex.open(path).to_arrow_table()`, `vortex.io.write(table, path)`)
over Arrow IPC bytes. Executor Python workers import the fake the same
way they would import the real package, so the executor-side decode
path genuinely runs. This is glue coverage, HONESTLY scoped: the real
codec still has never executed here (reference gates it upstream too,
extensions/vortex.rs:36-44).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

FAKE_VORTEX = textwrap.dedent(
    """
    \"\"\"Fake vortex-python: the documented API over Arrow IPC bytes.\"\"\"
    import builtins

    import pyarrow as pa
    import pyarrow.ipc as ipc


    class _File:
        def __init__(self, path):
            self._path = path

        def to_arrow_table(self):
            # builtins.open: this module's own `open` shadows it
            with builtins.open(self._path, "rb") as f:
                return ipc.open_file(f).read_all()


    def open(path):  # noqa: A001 - mirrors vortex.open
        return _File(path)


    class io:
        @staticmethod
        def write(table, path):
            with ipc.new_file(path, table.schema) as w:
                w.write_table(table)
    """
)

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])  # fake vortex package dir
    import vortex  # proves the fake resolves like the real package

    from pyspark.sql import SparkSession

    from datafusion_dft_spark.sources.io import read_any, read_vortex, write_any
    from datafusion_dft_spark.sql import execute_sql

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", sys.argv[1])
        .getOrCreate()
    )
    out = sys.argv[2] + "/t.vortex"
    src = spark.range(100).selectExpr("id", "CAST(id * 2 AS STRING) AS s")
    write_any(src, out)  # writer-API discovery path
    back = read_vortex(spark, out)  # distributed DataSource scan
    rows = sorted((r.id, r.s) for r in back.collect())
    assert rows == [(i, str(i * 2)) for i in range(100)], rows[:5]
    assert read_any(spark, out).count() == 100  # suffix inference

    # CREATE EXTERNAL TABLE ... STORED AS VORTEX goes through the same glue
    execute_sql(
        spark,
        f"CREATE EXTERNAL TABLE vt STORED AS VORTEX LOCATION '{out}'",
    )
    assert spark.table("vt").count() == 100

    # Spark 4 Python DataSource path (sources/vortex_datasource.py):
    # read_vortex prefers format("vortexfile") when the package imports;
    # distributed dir writes emit one part-*.vortex per task.
    import os as _os

    from datafusion_dft_spark.sources.vortex_datasource import (
        register_vortex_datasource,
    )

    register_vortex_datasource(spark)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan or "PythonDataSource" in plan, plan

    dist_dir = sys.argv[2] + "/dist_vortex"
    write_any(src.repartition(2), dist_dir, fmt="vortex")
    parts = [f for f in _os.listdir(dist_dir) if f.endswith(".vortex")]
    assert len(parts) == 2, parts
    dist_back = read_vortex(spark, dist_dir)
    assert dist_back.rdd.getNumPartitions() == 2
    assert sorted((r.id, r.s) for r in dist_back.collect()) == rows
    print("VORTEX-GLUE-OK")
    """
)


def test_vortex_glue_with_fake_package(tmp_path):
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "vortex.py").write_text(FAKE_VORTEX)
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{pkg}:/root/repo:" + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, str(script), str(pkg), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "VORTEX-GLUE-OK" in proc.stdout
