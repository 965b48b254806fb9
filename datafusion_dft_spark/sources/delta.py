"""Delta Lake connector.

Reference: ``CREATE EXTERNAL TABLE d STORED AS DELTATABLE LOCATION ...``
via DeltaTableFactory (extensions/deltalake.rs:34-51, test
tests/extension_cases/deltalake.rs:23-45). Two paths:

- **delta-spark jars present**: ``spark.read.format("delta")`` — the
  full-fidelity path (checkpoints, DVs, column mapping); preferred
  automatically.
- **pure-Python transaction-log replay** (this environment — the
  container ships no delta jars): the Delta protocol's commit log is
  just newline-delimited JSON actions under ``_delta_log/``; replaying
  ``add``/``remove`` actions yields the active file set for any
  version, and ``metaData.schemaString`` is literally a Spark schema
  JSON. The data files are plain parquet, so the result is an ordinary
  pruned/pushed-down parquet scan — the log parse touches only
  metadata on the driver, exactly like Delta's own snapshot
  reconstruction. Supports time travel (``version=``), partitioned
  tables (``partitionValues`` rehydrated as literal columns, cast
  through the declared schema), URL-encoded file paths, and
  checkpointed logs: replay starts from the newest checkpoint parquet
  at or below the target version (single- or multi-part, located via
  ``_last_checkpoint`` plus a directory listing) and applies the JSON
  commits after it — so compacted/vacuumed histories read fine.
  Column mapping is supported in both 'name' and 'id' modes, and
  DELETION VECTORS are applied (``sources/delta_dv.py`` decodes the
  Z85/roaring descriptors; deleted rows drop via a
  ``_metadata.row_index`` anti-join). Reader features beyond
  {columnMapping, deletionVectors} still require the jars.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class DeltaNotAvailable(RuntimeError):
    pass


def delta_available(spark: SparkSession) -> bool:
    """True iff the delta-spark jars are on the driver's classpath."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
        return True
    except Py4JJavaError:
        return False


def _checkpoint_versions(log_dir: str) -> list[int]:
    """Checkpoint versions present on disk (single- or multi-part).

    ``_last_checkpoint`` is an optimization hint, not the source of
    truth — it can lag after a failed write — so the file listing is
    authoritative, with the hint folded in when readable.
    """
    versions: set[int] = set()
    for p in glob.glob(os.path.join(log_dir, "*.checkpoint*.parquet")):
        try:
            versions.add(int(os.path.basename(p).split(".")[0]))
        except ValueError:
            continue
    hint = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(hint):
        try:
            with open(hint) as f:
                v = int(json.load(f)["version"])
        except (OSError, ValueError, KeyError, TypeError):
            pass  # an unreadable hint is ignored; the listing above decides
        else:
            if glob.glob(os.path.join(log_dir, f"{v:020d}.checkpoint*.parquet")):
                versions.add(v)
    return sorted(versions)


def _checkpoint_actions(log_dir: str, v: int):
    """Yield the action dicts stored in checkpoint parquet at version v.

    A checkpoint is the complete table state: one parquet row per live
    action, with one non-null struct column among add / remove /
    metaData / protocol / txn (delta protocol 'Checkpoints' section).
    Multi-part checkpoints (``N.checkpoint.i.of.parquet``) concatenate.
    Read driver-side with pyarrow — it is metadata, same as the JSON.
    """
    import pyarrow.parquet as pq

    single = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    files = (
        [single]
        if os.path.exists(single)
        else sorted(glob.glob(os.path.join(log_dir, f"{v:020d}.checkpoint.*.parquet")))
    )
    if not files:
        raise DeltaNotAvailable(f"checkpoint parquet for version {v} missing under {log_dir}")
    for fp in files:
        for rec in pq.read_table(fp).to_pylist():
            action = {k: val for k, val in rec.items() if val is not None}
            if action:
                yield action


def _as_dict(pv) -> dict:
    """partitionValues: dict from JSON, list of (k, v) from pyarrow maps."""
    if isinstance(pv, dict):
        return pv
    if isinstance(pv, (list, tuple)):
        return dict(pv)
    return {}


def _replay_log(
    path: str, version: int | None
) -> tuple[T.StructType, list[str], list[dict], dict]:
    """Reconstruct the snapshot at ``version`` (default: latest).

    Starts from the newest checkpoint at or below the target version
    when one exists (so vacuumed/compacted JSON history is fine — the
    reference reads such tables via delta-rs snapshots,
    extensions/deltalake.rs:34-51), then applies the JSON commits after
    it. Without a usable checkpoint, replays JSON from version 0.
    """
    from urllib.parse import unquote

    log_dir = os.path.join(path, "_delta_log")
    commit_files = sorted(glob.glob(os.path.join(log_dir, "*.json")))
    commits = {int(os.path.basename(p).split(".")[0]): p for p in commit_files}
    ckpts = _checkpoint_versions(log_dir)
    if not commits and not ckpts:
        raise DeltaNotAvailable(f"no Delta commit log under {log_dir}")
    last = max(list(commits) + ckpts) if version is None else version

    schema_json: str | None = None
    partition_cols: list[str] = []
    configuration: dict = {}
    active: dict[str, dict] = {}

    def apply(action: dict) -> None:
        nonlocal schema_json, partition_cols, configuration
        if "protocol" in action:
            # Delta spec ("Protocol Evolution"): a reader MUST refuse tables
            # whose minReaderVersion it does not implement. This replay
            # implements reader versions 1 and 2 (2 = column mapping —
            # physical parquet names resolved through the schema field
            # metadata, see _read_delta_python), and version 3 when every
            # listed readerFeature is columnMapping or deletionVectors
            # (DVs applied via sources/delta_dv.py + a row_index
            # anti-join). Anything else is refused loudly, as the spec
            # mandates; silently wrong answers are not an option. The
            # delta-spark jars path handles the full protocol (reference
            # enforces the same via delta-rs, extensions/deltalake.rs:34-51).
            proto = action["protocol"]
            ver = proto.get("minReaderVersion") or 1
            feats = {f for f in (proto.get("readerFeatures") or []) if f is not None}
            unsupported = feats - {"columnMapping", "deletionVectors"}
            if ver > 3 or unsupported:
                raise DeltaNotAvailable(
                    f"Delta table requires minReaderVersion={ver}"
                    + (f" with readerFeatures={sorted(feats)}" if feats else "")
                    + " — the pure-Python log replay implements reader "
                    "protocols 1-2 plus the columnMapping and "
                    "deletionVectors features only; install delta-spark "
                    "jars to read this table"
                )
        elif "metaData" in action:
            schema_json = action["metaData"]["schemaString"]
            partition_cols = list(action["metaData"].get("partitionColumns") or [])
            configuration = dict(action["metaData"].get("configuration") or {})
        elif "add" in action:
            add = dict(action["add"])
            # Delta spec: add.path is URL-encoded relative to the root.
            add["path"] = unquote(add["path"])
            add["partitionValues"] = _as_dict(add.get("partitionValues"))
            # deletionVector (dict from JSON, struct-dict from checkpoint
            # parquet) rides along; _read_delta_python applies it. The
            # latest add for a path wins, INCLUDING its DV — re-adding a
            # file with a grown DV replaces the old descriptor wholesale.
            active[add["path"]] = add
        elif "remove" in action:
            active.pop(unquote(action["remove"]["path"]), None)

    base = max((c for c in ckpts if c <= last), default=None)
    if base is not None:
        for action in _checkpoint_actions(log_dir, base):
            apply(action)
        start = base + 1
    else:
        start = 0
    required = range(start, last + 1)
    missing = [v for v in required if v not in commits]
    if missing:
        raise DeltaNotAvailable(
            f"Delta JSON commits {missing} absent under {log_dir} and no "
            "checkpoint covers them — history vacuumed beyond what the "
            "pure-Python reader can reconstruct; install delta-spark jars "
            "or deep-clone the table"
        )
    for v in required:
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                apply(json.loads(line))
    if schema_json is None:
        raise DeltaNotAvailable(f"no metaData action in {log_dir}")
    schema = T.StructType.fromJson(json.loads(schema_json))
    return schema, partition_cols, list(active.values()), configuration


def _physical_name(f: T.StructField) -> str:
    """Delta column mapping ('name' mode): the parquet column name lives
    in the field metadata; unmapped fields keep their logical name."""
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _physical_type(dt: T.DataType) -> T.DataType:
    """Rewrite a logical type so every nested struct field carries its
    physical name — arrays/maps recurse, leaves pass through."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(_physical_name(f), _physical_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _fieldid_field(f: T.StructField) -> T.StructField:
    """Delta column mapping ('id' mode): keep the LOGICAL name but tag
    the field with Spark's ``parquet.field.id`` metadata key (from the
    Delta ``delta.columnMapping.id``), recursing into nested types —
    Spark's parquet reader then matches file columns by field id
    instead of name (``spark.sql.parquet.fieldId.read.enabled``), which
    is exactly the id-mode resolution rule: file column NAMES are
    free to differ per file (e.g. after renames), ids are stable."""
    meta = dict(f.metadata or {})
    fid = meta.get("delta.columnMapping.id")
    out_meta = {"parquet.field.id": int(fid)} if fid is not None else {}
    return T.StructField(f.name, _fieldid_type(f.dataType), f.nullable, out_meta)


def _fieldid_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([_fieldid_field(f) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_fieldid_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _fieldid_type(dt.keyType),
            _fieldid_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


# Deleted-pair sets up to this many rows broadcast to the anti-join;
# above it (a table whose DV total is genuinely huge) fall back to a
# plain shuffled anti-join — same auto-switch pattern as the
# incremental-dedup broadcast guards (operators/similarity.py).
_DV_BROADCAST_MAX_ROWS = 2_000_000

# Strips the URI scheme Spark's _metadata.file_path carries
# (file:/..., hdfs://host/...) down to the bare path for matching
# against the replay's absolute add paths.
_URI_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+"


def _apply_deletion_vectors(
    spark: SparkSession, df: DataFrame, table_path: str, dv_adds: list[dict]
) -> DataFrame:
    """Filter logically-deleted rows out of a DV-bearing parquet scan.

    ``df`` must be the raw per-group scan. Mechanics: each file's DV
    decodes (driver-side — DVs are metadata-scale, like the log
    itself) to its deleted row indexes; the scan gains
    ``_metadata.file_path``/``row_index`` columns and an anti-join
    against the (file, index) pairs drops exactly the deleted rows.
    The pair set broadcasts below _DV_BROADCAST_MAX_ROWS.
    """
    import pandas as pd

    from .delta_dv import decode_deletion_vector

    frames = []
    for add in dv_adds:
        idx = decode_deletion_vector(table_path, add["deletionVector"])
        if len(idx):
            fp = os.path.abspath(os.path.join(table_path, add["path"]))
            frames.append(pd.DataFrame({"__dv_fp": fp, "__dv_ri": idx}))
    tagged = df.select(
        "*",
        F.regexp_replace(F.col("_metadata.file_path"), _URI_SCHEME_RE, "/").alias(
            "__dv_fp"
        ),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )
    if not frames:
        return tagged.drop("__dv_fp", "__dv_ri")
    pairs = pd.concat(frames, ignore_index=True)
    deleted = spark.createDataFrame(pairs)
    if len(pairs) <= _DV_BROADCAST_MAX_ROWS:
        deleted = F.broadcast(deleted)
    return tagged.join(deleted, ["__dv_fp", "__dv_ri"], "left_anti").drop(
        "__dv_fp", "__dv_ri"
    )


def _read_delta_python(spark: SparkSession, path: str, version: int | None) -> DataFrame:
    schema, partition_cols, adds, config = _replay_log(path, version)
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if mode not in ("none", "name", "id"):
        raise DeltaNotAvailable(
            f"Delta column mapping mode {mode!r} is not supported by the "
            "pure-Python replay ('none'/'name'/'id' are) — install "
            "delta-spark jars"
        )
    mapped = mode == "name"
    # partitionValues are keyed by the PHYSICAL partition column name in
    # BOTH mapping modes (Delta spec, Column Mapping — 'id' mode still
    # writes physicalName metadata and uses it for partition values).
    phys = {
        f.name: _physical_name(f) if mode != "none" else f.name
        for f in schema.fields
    }
    data_fields = [f for f in schema.fields if f.name not in partition_cols]
    if mapped:
        data_schema = T.StructType(
            [
                T.StructField(phys[f.name], _physical_type(f.dataType), f.nullable)
                for f in data_fields
            ]
        )
    elif mode == "id":
        data_schema = T.StructType([_fieldid_field(f) for f in data_fields])
        # Must hold at ACTION time (the scan is lazy), so set it on the
        # session rather than scoping it to this call. It only changes
        # behavior for read schemas that carry parquet.field.id
        # metadata — ordinary reads are unaffected.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    else:
        data_schema = T.StructType(data_fields)
    if not adds:
        return spark.createDataFrame([], schema)
    # Group files by partition tuple; each group is one parquet scan with
    # the partition values attached as literals (cast through the declared
    # types) — Spark sees ordinary parquet relations, so pruning/pushdown
    # apply per group. Under column mapping, add.partitionValues is keyed
    # by the PHYSICAL partition column name (Delta spec, column mapping).
    by_part: dict[tuple, list[dict]] = {}
    for add in adds:
        pv = add.get("partitionValues", {}) or {}
        key = tuple(pv.get(phys[c]) for c in partition_cols)
        by_part.setdefault(key, []).append(add)
    parts: list[DataFrame] = []
    for key, group in sorted(by_part.items()):
        plain = [a for a in group if not a.get("deletionVector")]
        with_dv = [a for a in group if a.get("deletionVector")]
        pieces: list[DataFrame] = []
        if plain:
            pieces.append(
                spark.read.schema(data_schema).parquet(
                    *[os.path.join(path, a["path"]) for a in plain]
                )
            )
        if with_dv:
            raw = spark.read.schema(data_schema).parquet(
                *[os.path.join(path, a["path"]) for a in with_dv]
            )
            pieces.append(_apply_deletion_vectors(spark, raw, path, with_dv))
        df = pieces[0]
        for extra in pieces[1:]:
            df = df.unionByName(extra)
        if mapped:
            # physical -> logical: top-level via alias, nested struct
            # fields via cast to the logical type (struct casts match
            # by position, so identical structure + new names renames)
            # df[name] (not F.col) — physical names are uuid-ish
            # ("col-6b8d...") and would misparse as arithmetic
            df = df.select(
                *[df[phys[f.name]].cast(f.dataType).alias(f.name) for f in data_fields]
            )
        for c, raw in zip(partition_cols, key):
            typ = schema[c].dataType
            df = df.withColumn(c, F.lit(raw).cast(typ))
        parts.append(df.select(*[f.name for f in schema.fields]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_delta(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read a Delta table (time travel via ``version``).

    Prefers the delta-spark jar path when present; otherwise replays the
    transaction log in pure Python (JSON commits only).
    """
    if delta_available(spark):
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(path)
    return _read_delta_python(spark, path, version)
