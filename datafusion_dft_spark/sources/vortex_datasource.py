"""Vortex as a Spark 4 Python DataSource (gated on vortex-python).

Reference registers Vortex natively via its FileFormatFactory
(`extensions/vortex.rs:36-44`). No Spark/JVM Vortex datasource exists
anywhere, so this engine decodes through vortex-python's Arrow surface.
This module is its one reader and distributed writer, in the idiomatic
Spark 4 shape, mirroring ``arrow_datasource.py``:

- ``spark.read.format("vortexfile").load(path)`` — one input partition
  per ``.vortex`` file; each executor decodes its file to Arrow
  batches that flow straight into Spark (no pandas hop).
- ``df.write.format("vortexfile").save(dir)`` — DISTRIBUTED writes:
  one ``part-*.vortex`` per task through the package's writer API
  (the single-file path in ``write_any`` stays driver-side for the
  reference's one-file export contract).

Registration requires vortex-python importable on the DRIVER;
executors must also resolve it (``spark.executorEnv.PYTHONPATH`` in
the fake-package test).
"""

from __future__ import annotations

import glob as _glob
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "vortexfile"


def _list_vortex_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(_glob.glob(os.path.join(path, "*.vortex")))
    return sorted(_glob.glob(path)) or [path]


class _VortexFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        super().__init__(path)


class _VortexReader(DataSourceReader):
    """One task per Vortex file; executor-side decode to Arrow."""

    def __init__(self, files: list[str], names: list[str]) -> None:
        self._files = files
        self._names = names

    def partitions(self) -> list[InputPartition]:
        return [_VortexFilePartition(p) for p in self._files]

    def read(self, partition: InputPartition):
        from .io import _vortex_file_to_arrow

        table = _vortex_file_to_arrow(partition.value)
        if table.schema.names != self._names:
            raise ValueError(
                f"Vortex file {partition.value!r} has columns "
                f"{table.schema.names}, expected {self._names} "
                "(all files of one scan must share a schema)"
            )
        yield from table.to_batches()


class _VortexWriteCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class _VortexWriter(DataSourceArrowWriter):
    """Distributed writer: one ``part-*.vortex`` per task."""

    def __init__(self, target_dir: str) -> None:
        self._dir = target_dir

    def write(self, iterator) -> WriterCommitMessage:
        import pyarrow as pa

        from .io import _vortex_write_table

        batches = list(iterator)
        if not batches:
            return _VortexWriteCommit("", 0)
        out = os.path.join(self._dir, f"part-{uuid.uuid4().hex}.vortex")
        table = pa.Table.from_batches(batches)
        _vortex_write_table(table, out)
        return _VortexWriteCommit(out, table.num_rows)

    def commit(self, messages):
        return None

    def abort(self, messages):
        for m in messages:
            if m is not None and getattr(m, "path", ""):
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class VortexDataSource(DataSource):
    """``format("vortexfile")`` — Vortex files as a Spark source/sink."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("vortexfile requires a path (load(path)/save(path))")
        return path

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        from .io import _vortex_file_to_arrow

        files = _list_vortex_files(self._path())
        if not files or not os.path.exists(files[0]):
            raise FileNotFoundError(f"no Vortex files at {self._path()!r}")
        return from_arrow_schema(_vortex_file_to_arrow(files[0]).schema)

    def reader(self, schema: StructType) -> DataSourceReader:
        from .io import _vortex_file_to_arrow

        files = _list_vortex_files(self._path())
        return _VortexReader(files, _vortex_file_to_arrow(files[0]).schema.names)

    def writer(self, schema: StructType, overwrite: bool):
        path = self._path()
        if os.path.isfile(path):
            raise ValueError(
                f"vortexfile writes a DIRECTORY of part files; {path!r} is a "
                "file (use write_any(single_file=True) for one-file export)"
            )
        if overwrite and os.path.isdir(path):
            for old in _glob.glob(os.path.join(path, "part-*.vortex")):
                os.remove(old)
        os.makedirs(path, exist_ok=True)
        return _VortexWriter(path)


def register_vortex_datasource(spark) -> None:
    """Idempotently register the source on this session; failures raise.

    The missing-package gate runs first, so without vortex-python the
    caller gets the actionable NotImplementedError.
    """
    from .io import _require_vortex

    _require_vortex()
    if not getattr(spark, "_vortexfile_registered", False):
        spark.dataSource.register(VortexDataSource)
        spark._vortexfile_registered = True
