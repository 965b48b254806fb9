"""In-engine observability: the ``requests`` table.

Reference: crates/datafusion-app/src/observability/mod.rs:144-157 — a
per-request log queryable as a table. Schema mirrored exactly (unsigned
columns widened per SURVEY.md §7: rows u64→long, status u16→int).
Backed by the MapTable analog (tables/map_table.rs:46-120): rows key on
request_id with upsert semantics, re-registering the ``requests`` temp
view on each insert — the reference's rebuild-on-scan approach.

There is one log per session: ``session.AppContext.requests_log``
creates it when the first server (HTTP or FlightSQL) is built on the
session, and every later server records to the same rows, so the
``requests`` view lists the requests of all of them.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .map_table import MapTable

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
        # Composite key: one request id spans multiple RPC rows in the
        # reference's log (FlightSQL's get_flight_info + do_get share an
        # id, service.rs:127-160 — append keeps both); (request_id, path)
        # preserves that while re-records of the same phase coalesce.
        self._table = MapTable(spark, view_name, SCHEMA, primary_key=("request_id", "path"))
        self._persist_path = persist_path
        if persist_path:
            # restore prior sessions' log (map_table.rs:69-71) and save
            # on interpreter exit.
            import atexit
            import os

            self._table.load(os.path.join(persist_path, "observability", view_name))
            atexit.register(self.save)

    def save(self) -> None:
        """Persist the requests log under the configured db path."""
        if self._persist_path:
            import os

            self._table.save(
                os.path.join(self._persist_path, "observability", self._table.name)
            )

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
        self._table.upsert(
            {
                "request_id": rid,
                "path": path,
                "sql": sql,
                "timestamp": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
                "duration_ms": int(duration_ms),
                "rows": None if rows is None else int(rows),
                "status": int(status),
            }
        )
        return rid

    def refresh(self) -> DataFrame:
        return self._table.refresh()

    def df(self) -> DataFrame:
        return self._table._spark.table(self._table.name)
