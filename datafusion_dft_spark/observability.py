"""In-engine observability: the ``requests`` table.

Reference: crates/datafusion-app/src/observability/mod.rs:144-157 — a
per-request log queryable as a table. Schema mirrored exactly (unsigned
columns widened per SURVEY.md §7: rows u64→long, status u16→int).

Rows live in an insertion-ordered dict keyed by ``(request_id, path)``,
the reference's ``MapTable`` (tables/map_table.rs:46-52): recording the
same key replaces the row and keeps its position. ``record`` is an O(1)
replace-in-place under a lock and never calls Spark. The view is rebuilt
on read, like the reference's scan (map_table.rs:101-137):
``sql.prepare_statement`` refreshes it when a statement names it, and
``df()`` refreshes it too. A refresh builds nothing when no row changed
since the last build, and refreshes run one at a time, so an older
snapshot never replaces a newer one.

There is one log per session: ``session.AppContext.requests_log``
creates it when the first server (HTTP or FlightSQL) is built on the
session, and every later server records to the same rows, so the
``requests`` view lists the requests of all of them. With a ``db_path``
the rows are saved as parquet at interpreter exit and restored at start
(map_table.rs:69-71 "serialized on app shutdown").
"""

from __future__ import annotations

import atexit
import datetime as dt
import os
import re
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import AppContext

SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType(), True),
        T.StructField("path", T.StringType(), False),
        T.StructField("sql", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("status", T.IntegerType(), False),
    ]
)


class Observability:
    def __init__(
        self,
        spark: SparkSession,
        view_name: str = "requests",
        persist_path: str | None = None,
    ):
        self._spark = spark
        self.view_name = view_name
        self._name_re = re.compile(rf"(?i)\b{re.escape(view_name)}\b")
        # Composite key: one request id spans multiple RPC rows in the
        # reference's log (FlightSQL's get_flight_info + do_get share an
        # id, service.rs:127-160); re-records of the same phase coalesce.
        self._rows: dict[tuple[str, str], tuple] = {}
        self._version = 0  # bumped by every record
        self._built = -1  # the version the view was last built from
        self._lock = threading.Lock()  # guards _rows and _version
        self._refresh_lock = threading.Lock()  # one view build at a time
        self._path = (
            os.path.join(persist_path, "observability", view_name) if persist_path else None
        )
        if self._path:
            if os.path.exists(self._path):
                for r in spark.read.schema(SCHEMA).parquet(self._path).collect():
                    self._rows[(r.request_id, r.path)] = tuple(r)
            atexit.register(self.save)
        self.refresh()
        # sql.prepare_statement finds the log here to refresh its view
        AppContext.of(spark).request_logs[view_name] = self

    def save(self) -> None:
        """Persist the requests log under the configured db path."""
        if self._path:
            self.df().coalesce(1).write.mode("overwrite").parquet(self._path)

    def record(
        self,
        path: str,
        sql: str | None,
        duration_ms: int,
        rows: int | None,
        status: int,
        request_id: str | None = None,
    ) -> str:
        rid = request_id or str(uuid.uuid4())
        row = (
            rid,
            path,
            sql,
            dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            int(duration_ms),
            None if rows is None else int(rows),
            int(status),
        )
        with self._lock:
            self._rows[(rid, path)] = row
            self._version += 1
        return rid

    def names_view(self, sql: str) -> bool:
        """Whether ``sql`` mentions the view's name (a match inside a
        string literal costs one rebuild, never a wrong answer)."""
        return self._name_re.search(sql) is not None

    def refresh(self) -> None:
        """Rebuild the view from the rows when any changed since the
        last build."""
        with self._refresh_lock:
            with self._lock:
                if self._version == self._built:
                    return
                version = self._version
                data = list(self._rows.values())
            self._spark.createDataFrame(data, SCHEMA).createOrReplaceTempView(self.view_name)
            self._built = version

    def df(self) -> DataFrame:
        self.refresh()
        return self._spark.table(self.view_name)
