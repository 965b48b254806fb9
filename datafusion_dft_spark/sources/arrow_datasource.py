"""Arrow IPC as a first-class Spark 4 Python DataSource.

The reference registers Arrow IPC as a native listing format
(``stats.rs:733-736`` lists ``ArrowExec`` among IO plans; ``src/db.rs:37-52``
sniffs ``.arrow``). Spark's JVM distribution carries no Arrow IPC file
source, so this engine registers one through the *idiomatic Spark 4*
Python DataSource API (`pyspark.sql.datasource`):

- ``spark.read.format("arrowipc").load(path)`` — one input partition
  per ``.arrow`` file, each executor task yields ``pyarrow.RecordBatch``
  objects straight into Spark's Arrow ingestion path (no pandas hop).
- ``df.write.format("arrowipc").save(dir)`` — DISTRIBUTED writes: each
  task serializes its partition to ``part-*.arrow`` inside the target
  directory (nothing is collected to the driver).

Registration is per-session and lazy (``register_arrow_datasource``);
it is the only Arrow IPC reader and distributed writer ``sources/io.py``
has, so a failed registration raises.
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

FORMAT_NAME = "arrowipc"


def _list_ipc_files(path: str) -> list[str]:
    """Resolve ``path`` (dir | glob | file) to a sorted file list."""
    if os.path.isdir(path):
        return sorted(_glob.glob(os.path.join(path, "*.arrow")))
    return sorted(_glob.glob(path)) or [path]


def _ipc_file_schema(path: str):
    import pyarrow.ipc as ipc

    with open(path, "rb") as f:
        return ipc.open_file(f).schema


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        super().__init__(path)


class _ArrowIpcReader(DataSourceReader):
    """One task per IPC file; batches flow Arrow-native into Spark."""

    def __init__(self, files: list[str], arrow_schema_names: list[str]) -> None:
        self._files = files
        self._names = arrow_schema_names

    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: InputPartition):
        import pyarrow.ipc as ipc

        with open(partition.value, "rb") as fh:
            reader = ipc.open_file(fh)
            if reader.schema.names != self._names:
                raise ValueError(
                    f"Arrow IPC file {partition.value!r} has columns "
                    f"{reader.schema.names}, expected {self._names} "
                    "(all files of one scan must share a schema)"
                )
            for i in range(reader.num_record_batches):
                yield reader.get_batch(i)


class _ArrowWriteCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class _ArrowIpcWriter(DataSourceArrowWriter):
    """Distributed IPC writer: one ``part-*.arrow`` file per task."""

    def __init__(self, target_dir: str) -> None:
        self._dir = target_dir

    def write(self, iterator) -> WriterCommitMessage:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        batches = list(iterator)
        if not batches:
            return _ArrowWriteCommit("", 0)
        out = os.path.join(self._dir, f"part-{uuid.uuid4().hex}.arrow")
        schema = batches[0].schema
        rows = 0
        with ipc.new_file(out, schema) as w:
            for b in batches:
                if not isinstance(b, pa.RecordBatch):  # defensive
                    b = pa.RecordBatch.from_pandas(b, schema=schema)
                w.write_batch(b)
                rows += b.num_rows
        return _ArrowWriteCommit(out, rows)

    def commit(self, messages):  # noqa: D102 - base contract
        return None

    def abort(self, messages):
        for m in messages:
            if m is not None and getattr(m, "path", ""):
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class ArrowIpcDataSource(DataSource):
    """``format("arrowipc")`` — Arrow IPC files as a Spark source/sink."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("arrowipc requires a path (load(path)/save(path))")
        return path

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        files = _list_ipc_files(self._path())
        if not files or not os.path.exists(files[0]):
            raise FileNotFoundError(f"no Arrow IPC files at {self._path()!r}")
        return from_arrow_schema(_ipc_file_schema(files[0]))

    def reader(self, schema: StructType) -> DataSourceReader:
        files = _list_ipc_files(self._path())
        return _ArrowIpcReader(files, _ipc_file_schema(files[0]).names)

    def writer(self, schema: StructType, overwrite: bool):
        path = self._path()
        if os.path.isfile(path):
            raise ValueError(
                f"arrowipc writes a DIRECTORY of part files; {path!r} is a "
                "file (use write_any(single_file=True) for one-file export)"
            )
        if overwrite and os.path.isdir(path):
            for old in _glob.glob(os.path.join(path, "part-*.arrow")):
                os.remove(old)
        os.makedirs(path, exist_ok=True)
        return _ArrowIpcWriter(path)


def register_arrow_datasource(spark) -> None:
    """Idempotently register the source on this session; failures raise."""
    if not getattr(spark, "_arrowipc_registered", False):
        spark.dataSource.register(ArrowIpcDataSource)
        spark._arrowipc_registered = True
