"""Delta Lake read path on a hand-written protocol fixture.

Mirrors tests/extension_cases/deltalake.rs:23-45 (the reference reads a
committed ``simple_table`` dataset) without needing delta-spark jars:
the fixture is two JSON commits + plain parquet files written by
pyarrow, i.e. exactly what the Delta protocol puts on disk.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_dft_spark.sources.delta import DeltaNotAvailable, delta_available, read_delta
from datafusion_dft_spark.sql import prepare_statement

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "val", "type": "string", "nullable": True, "metadata": {}},
            {"name": "part", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_commit(log_dir: str, version: int, actions: list[dict]) -> None:
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _add(path: str, part: str, size: int) -> dict:
    return {
        "add": {
            "path": path,
            "partitionValues": {"part": part},
            "size": size,
            "modificationTime": 1700000000000,
            "dataChange": True,
        }
    }


@pytest.fixture(scope="module")
def delta_table(tmp_path_factory) -> str:
    """Two-commit partitioned table: v0 = file a (3 rows, part=x);
    v1 removes a, adds b (2 rows, part=x) and c (2 rows, part=y)."""
    root = tmp_path_factory.mktemp("delta") / "simple_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)

    def write_file(rel: str, ids: list[int]) -> int:
        dest = root / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "val": pa.array([f"v{i}" for i in ids], pa.string())}),
            dest,
        )
        return os.path.getsize(dest)

    sz_a = write_file("part=x/a.parquet", [1, 2, 3])
    sz_b = write_file("part=x/b.parquet", [10, 11])
    sz_c = write_file("part=y/c.parquet", [20, 21])
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "00000000-0000-0000-0000-000000000001",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_JSON,
                    "partitionColumns": ["part"],
                    "configuration": {},
                    "createdTime": 1700000000000,
                }
            },
            _add("part=x/a.parquet", "x", sz_a),
        ],
    )
    _write_commit(
        str(log_dir),
        1,
        [
            {"remove": {"path": "part=x/a.parquet", "deletionTimestamp": 1700000001000, "dataChange": True}},
            _add("part=x/b.parquet", "x", sz_b),
            _add("part=y/c.parquet", "y", sz_c),
        ],
    )
    return str(root)


def test_read_latest_version(spark, delta_table):
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, delta_table).collect()}
    assert rows == {(10, "v10", "x"), (11, "v11", "x"), (20, "v20", "y"), (21, "v21", "y")}


def test_time_travel_v0(spark, delta_table):
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, delta_table, version=0).collect()}
    assert rows == {(1, "v1", "x"), (2, "v2", "x"), (3, "v3", "x")}


def test_schema_matches_metadata(spark, delta_table):
    df = read_delta(spark, delta_table)
    assert [f.name for f in df.schema.fields] == ["id", "val", "part"]
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["part"].dataType.simpleString() == "string"


def test_ddl_registers_delta_view(spark, delta_table):
    """CREATE EXTERNAL TABLE ... STORED AS DELTATABLE over the fixture."""
    spark.sql(prepare_statement(
        spark, f"CREATE EXTERNAL TABLE dt STORED AS DELTATABLE LOCATION '{delta_table}'"
    ))
    assert spark.table("dt").count() == 4
    spark.catalog.dropTempView("dt")


def test_missing_commit_raises(spark, delta_table, tmp_path):
    """A gap in the JSON history (vacuumed into a checkpoint) must raise
    the actionable error, not silently return a partial snapshot."""
    import shutil

    broken = tmp_path / "broken"
    shutil.copytree(delta_table, broken)
    os.remove(broken / "_delta_log" / f"{0:020d}.json")
    with pytest.raises(DeltaNotAvailable, match="absent"):
        read_delta(spark, str(broken))


def _checkpoint_schema() -> pa.schema:
    part_vals = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field("protocol", pa.struct(
                [pa.field("minReaderVersion", pa.int32()),
                 pa.field("minWriterVersion", pa.int32())])),
            pa.field("metaData", pa.struct(
                [pa.field("id", pa.string()),
                 pa.field("schemaString", pa.string()),
                 pa.field("partitionColumns", pa.list_(pa.string()))])),
            pa.field("add", pa.struct(
                [pa.field("path", pa.string()),
                 pa.field("partitionValues", part_vals),
                 pa.field("size", pa.int64()),
                 pa.field("dataChange", pa.bool_())])),
            pa.field("remove", pa.struct(
                [pa.field("path", pa.string()),
                 pa.field("dataChange", pa.bool_())])),
        ]
    )


@pytest.fixture(scope="module")
def checkpointed_table(tmp_path_factory) -> str:
    """A table whose early JSON history is vacuumed: checkpoint parquet
    at v2 (protocol+metaData+adds for files b, c), one JSON commit v3
    (removes c, adds d with a URL-encoded path). JSON commits 0-2 are
    GONE — exactly what a real >10-commit Delta table looks like."""
    root = tmp_path_factory.mktemp("delta_ckpt") / "ckpt_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)

    def write_file(rel: str, ids: list[int]) -> int:
        dest = root / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "val": pa.array([f"v{i}" for i in ids], pa.string())}),
            dest,
        )
        return os.path.getsize(dest)

    sz_b = write_file("part=x/b.parquet", [10, 11])
    sz_c = write_file("part=y/c.parquet", [20, 21])
    # space in the file name => URL-encoded add.path in the commit
    sz_d = write_file("part=y/d file.parquet", [30])

    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "00000000-0000-0000-0000-000000000002",
                      "schemaString": SCHEMA_JSON,
                      "partitionColumns": ["part"]}},
        {"add": {"path": "part=x/b.parquet", "partitionValues": [("part", "x")],
                 "size": sz_b, "dataChange": True}},
        {"add": {"path": "part=y/c.parquet", "partitionValues": [("part", "y")],
                 "size": sz_c, "dataChange": True}},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_checkpoint_schema()),
        log_dir / f"{2:020d}.checkpoint.parquet",
    )
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump({"version": 2, "size": len(rows)}, f)
    _write_commit(
        str(log_dir),
        3,
        [
            {"remove": {"path": "part=y/c.parquet", "deletionTimestamp": 1700000002000,
                        "dataChange": True}},
            {"add": {"path": "part=y/d%20file.parquet", "partitionValues": {"part": "y"},
                     "size": sz_d, "dataChange": True}},
        ],
    )
    return str(root)


def test_checkpoint_replay_latest(spark, checkpointed_table):
    """Checkpoint state + post-checkpoint commit, URL-decoded paths."""
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, checkpointed_table).collect()}
    assert rows == {(10, "v10", "x"), (11, "v11", "x"), (30, "v30", "y")}


def test_checkpoint_time_travel_to_checkpoint_version(spark, checkpointed_table):
    """version=2 is served straight from the checkpoint snapshot."""
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, checkpointed_table, version=2).collect()}
    assert rows == {(10, "v10", "x"), (11, "v11", "x"), (20, "v20", "y"), (21, "v21", "y")}


def test_checkpoint_time_travel_before_checkpoint_raises(spark, checkpointed_table):
    """version=1 predates the checkpoint and its JSON is vacuumed —
    must raise the actionable error, not a wrong answer."""
    with pytest.raises(DeltaNotAvailable, match="absent"):
        read_delta(spark, checkpointed_table, version=1)


def test_multipart_checkpoint(spark, checkpointed_table, tmp_path):
    """Multi-part checkpoints (N.checkpoint.i.of.parquet) concatenate."""
    import shutil

    root = tmp_path / "multipart"
    shutil.copytree(checkpointed_table, root)
    log_dir = root / "_delta_log"
    single = log_dir / f"{2:020d}.checkpoint.parquet"
    tbl = pq.read_table(single)
    os.remove(single)
    pq.write_table(tbl.slice(0, 2), log_dir / f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    pq.write_table(tbl.slice(2), log_dir / f"{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, str(root)).collect()}
    assert rows == {(10, "v10", "x"), (11, "v11", "x"), (30, "v30", "y")}


@pytest.fixture()
def v3_table(tmp_path) -> str:
    """A table whose protocol demands reader version 3 with
    v2Checkpoint — a feature the pure-Python replay does NOT implement,
    so it must refuse (Delta spec 'Protocol Evolution'; the reference
    refuses via delta-rs, extensions/deltalake.rs:34-51). Since r9 the
    deletionVectors feature itself is SUPPORTED — see
    tests/test_delta_dv.py — so the refusal fixture uses a feature that
    stays unsupported."""
    root = tmp_path / "dv_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    dest = root / "f.parquet"
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "val": pa.array(["a", "b"], pa.string()),
                  "part": pa.array(["x", "x"], pa.string())}),
        dest,
    )
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"metaData": {"id": "00000000-0000-0000-0000-000000000003",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": SCHEMA_JSON,
                          "partitionColumns": [],
                          "configuration": {}}},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": os.path.getsize(dest), "dataChange": True}},
        ],
    )
    return str(root)


def test_unsupported_reader_protocol_raises(spark, v3_table):
    """Unimplemented reader features must refuse, never replay adds as
    plain parquet scans and silently produce wrong answers."""
    with pytest.raises(DeltaNotAvailable, match="minReaderVersion=3"):
        read_delta(spark, v3_table)


CM_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaaa1111"}},
            {"name": "info", "nullable": True,
             "type": {"type": "struct", "fields": [
                 {"name": "score", "type": "double", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-nested33"}},
             ]},
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbbb2222"}},
            {"name": "part", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 4,
                          "delta.columnMapping.physicalName": "col-cccc4444"}},
        ],
    }
)


def _cm_metadata(mode: str) -> dict:
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000004",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": CM_SCHEMA_JSON,
            "partitionColumns": ["part"],
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "4"},
        }
    }


def _cm_write_file(root, rel: str, ids: list[int]) -> int:
    """Data files under column mapping carry PHYSICAL column names."""
    dest = root / rel
    dest.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "col-aaaa1111": pa.array(ids, pa.int64()),
            "col-bbbb2222": pa.array(
                [{"col-nested33": float(i) / 2} for i in ids],
                pa.struct([pa.field("col-nested33", pa.float64())]),
            ),
        }),
        dest,
    )
    return os.path.getsize(dest)


def test_column_mapped_table_reads(spark, tmp_path):
    """'name'-mode column mapping (minReaderVersion=2): physical parquet
    names — including NESTED struct fields — resolve back to logical
    names, and partitionValues are looked up by the partition column's
    PHYSICAL name (r7 judge task; Delta spec 'Column Mapping')."""
    root = tmp_path / "cm_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    sz_a = _cm_write_file(root, "a.parquet", [1, 2])
    sz_b = _cm_write_file(root, "b.parquet", [3])
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _cm_metadata("name"),
            {"add": {"path": "a.parquet",
                     "partitionValues": {"col-cccc4444": "x"},
                     "size": sz_a, "dataChange": True}},
            {"add": {"path": "b.parquet",
                     "partitionValues": {"col-cccc4444": "y"},
                     "size": sz_b, "dataChange": True}},
        ],
    )
    df = read_delta(spark, str(root))
    assert df.columns == ["id", "info", "part"]
    assert df.schema["info"].dataType.fieldNames() == ["score"]
    rows = {r.id: (r.info.score, r.part) for r in df.collect()}
    assert rows == {1: (0.5, "x"), 2: (1.0, "x"), 3: (1.5, "y")}


def _cm_write_file_ids(root, rel: str, ids: list[int], names: dict) -> int:
    """'id'-mode data file: parquet FIELD IDS carry the mapping; column
    names are whatever the writer used at the time (they differ across
    files after renames — resolution must ignore them entirely)."""
    dest = root / rel
    dest.parent.mkdir(parents=True, exist_ok=True)

    def fid(n):
        return {b"PARQUET:field_id": str(n).encode()}

    nested = pa.field("n_score", pa.float64(), metadata=fid(3))
    tbl = pa.table({
        names["id"]: pa.array(ids, pa.int64()),
        names["info"]: pa.array(
            [{"n_score": float(i) / 2} for i in ids], pa.struct([nested])
        ),
    })
    tbl = tbl.cast(pa.schema([
        pa.field(names["id"], pa.int64(), metadata=fid(1)),
        pa.field(names["info"], pa.struct([nested]), metadata=fid(2)),
    ]))
    pq.write_table(tbl, dest)
    return os.path.getsize(dest)


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """'id'-mode column mapping: parquet columns resolve by FIELD ID
    (spark.sql.parquet.fieldId.read.enabled over a schema tagged with
    parquet.field.id from delta.columnMapping.id) — the two data files
    deliberately use DIFFERENT column names for the same field ids (the
    post-rename layout id mode exists for), so any name-based
    resolution fails loudly; partitionValues still key by the PHYSICAL
    name (Delta spec, Column Mapping)."""
    root = tmp_path / "cmid_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    sz_a = _cm_write_file_ids(
        root, "a.parquet", [1, 2], {"id": "old_id_name", "info": "old_info"}
    )
    sz_b = _cm_write_file_ids(
        root, "b.parquet", [3], {"id": "renamed_id", "info": "renamed_info"}
    )
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _cm_metadata("id"),
            {"add": {"path": "a.parquet",
                     "partitionValues": {"col-cccc4444": "x"},
                     "size": sz_a, "dataChange": True}},
            {"add": {"path": "b.parquet",
                     "partitionValues": {"col-cccc4444": "y"},
                     "size": sz_b, "dataChange": True}},
        ],
    )
    df = read_delta(spark, str(root))
    assert df.columns == ["id", "info", "part"]
    rows = {r.id: (r.info.score, r.part) for r in df.collect()}
    assert rows == {1: (0.5, "x"), 2: (1.0, "x"), 3: (1.5, "y")}


def test_column_mapping_from_checkpoint(spark, tmp_path):
    """A column-mapped table whose metaData lives ONLY in a checkpoint
    (the JSON history vacuumed): configuration — a pyarrow MAP column,
    arriving as a list of (k, v) tuples, not a dict — must survive the
    checkpoint replay, or the table silently reads physical names."""
    root = tmp_path / "cm_ckpt_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    sz_a = _cm_write_file(root, "a.parquet", [1, 2])
    sz_b = _cm_write_file(root, "b.parquet", [3])

    part_vals = pa.map_(pa.string(), pa.string())
    ckpt_schema = pa.schema(
        [
            pa.field("protocol", pa.struct(
                [pa.field("minReaderVersion", pa.int32()),
                 pa.field("minWriterVersion", pa.int32())])),
            pa.field("metaData", pa.struct(
                [pa.field("id", pa.string()),
                 pa.field("schemaString", pa.string()),
                 pa.field("partitionColumns", pa.list_(pa.string())),
                 pa.field("configuration", part_vals)])),
            pa.field("add", pa.struct(
                [pa.field("path", pa.string()),
                 pa.field("partitionValues", part_vals),
                 pa.field("size", pa.int64()),
                 pa.field("dataChange", pa.bool_())])),
        ]
    )
    rows = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "00000000-0000-0000-0000-000000000005",
                      "schemaString": CM_SCHEMA_JSON,
                      "partitionColumns": ["part"],
                      "configuration": [("delta.columnMapping.mode", "name"),
                                        ("delta.columnMapping.maxColumnId", "4")]}},
        {"add": {"path": "a.parquet", "partitionValues": [("col-cccc4444", "x")],
                 "size": sz_a, "dataChange": True}},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=ckpt_schema),
        log_dir / f"{1:020d}.checkpoint.parquet",
    )
    with open(log_dir / "_last_checkpoint", "w") as f:
        json.dump({"version": 1, "size": len(rows)}, f)
    _write_commit(
        str(log_dir),
        2,
        [{"add": {"path": "b.parquet",
                  "partitionValues": {"col-cccc4444": "y"},
                  "size": sz_b, "dataChange": True}}],
    )
    df = read_delta(spark, str(root))
    assert df.columns == ["id", "info", "part"]
    rows_out = {r.id: (r.info.score, r.part) for r in df.collect()}
    assert rows_out == {1: (0.5, "x"), 2: (1.0, "x"), 3: (1.5, "y")}


def test_column_mapping_protocol3_feature_reads(spark, tmp_path):
    """Protocol 3 whose ONLY readerFeature is columnMapping is readable;
    deletionVectors still refuses (test_unsupported_reader_protocol)."""
    root = tmp_path / "cm3_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    sz = _cm_write_file(root, "a.parquet", [7])
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["columnMapping"]}},
            _cm_metadata("name"),
            {"add": {"path": "a.parquet",
                     "partitionValues": {"col-cccc4444": "z"},
                     "size": sz, "dataChange": True}},
        ],
    )
    rows = read_delta(spark, str(root)).collect()
    assert [(r.id, r.part) for r in rows] == [(7, "z")]


def test_column_mapping_unknown_mode_refuses(spark, tmp_path):
    """An unrecognized future mapping mode must refuse loudly, never
    fall back to name matching that may resolve nothing."""
    root = tmp_path / "cmfuture_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    sz = _cm_write_file(root, "a.parquet", [1])
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _cm_metadata("hypothetical"),
            {"add": {"path": "a.parquet",
                     "partitionValues": {"col-cccc4444": "x"},
                     "size": sz, "dataChange": True}},
        ],
    )
    with pytest.raises(DeltaNotAvailable, match="hypothetical"):
        read_delta(spark, str(root))


def test_dv_carrying_add_raises(spark, tmp_path):
    """Since r9 DV-carrying adds are APPLIED, not refused — so a
    MALFORMED descriptor must fail loudly at read time (here: a junk
    pathOrInlineDv that can't Z85-decode), never fall back to a plain
    parquet scan that would silently resurrect deleted rows."""
    root = tmp_path / "dv_add_table"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    dest = root / "f.parquet"
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()),
                             "val": pa.array(["a"], pa.string()),
                             "part": pa.array(["x"], pa.string())}), dest)
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "00000000-0000-0000-0000-000000000005",
                          "schemaString": SCHEMA_JSON,
                          "partitionColumns": []}},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": os.path.getsize(dest), "dataChange": True,
                     "deletionVector": {"storageType": "u",
                                        "pathOrInlineDv": "abc",
                                        "offset": 1, "sizeInBytes": 36,
                                        "cardinality": 1}}},
        ],
    )
    with pytest.raises(ValueError, match="Z85"):
        read_delta(spark, str(root))


def test_protocol_v1_with_null_reader_features_ok(spark, delta_table):
    """Checkpoint structs surface readerFeatures as None — reader v1
    tables keep reading fine (regression guard for the new gate)."""
    rows = {(r.id, r.val, r.part) for r in read_delta(spark, delta_table).collect()}
    assert len(rows) == 4


def test_time_travel_before_protocol_upgrade_still_reads(spark, tmp_path):
    """A protocol upgrade only poisons versions at/after it: replay to an
    earlier version sees only the v1 protocol and must keep working,
    while the latest version refuses."""
    root = tmp_path / "upgraded"
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)
    dest = root / "f.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "val": pa.array(["a", "b"], pa.string()),
                             "part": pa.array(["x", "x"], pa.string())}), dest)
    _write_commit(
        str(log_dir),
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "00000000-0000-0000-0000-000000000006",
                          "schemaString": SCHEMA_JSON, "partitionColumns": []}},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": os.path.getsize(dest), "dataChange": True}},
        ],
    )
    _write_commit(
        str(log_dir),
        1,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"]}}],
    )
    assert read_delta(spark, str(root), version=0).count() == 2
    with pytest.raises(DeltaNotAvailable, match="minReaderVersion=3"):
        read_delta(spark, str(root))


def _stub_spark(for_name):
    """Just enough of a session for delta_available's class probe."""
    lang = SimpleNamespace(Class=SimpleNamespace(forName=for_name))
    return SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(lang=lang)))


def test_delta_available_only_catches_missing_class(spark):
    """A missing class is 'not available'; any other failure propagates."""

    def missing(_name):
        return spark._jvm.java.lang.Class.forName("org.example.NoSuchDeltaLog")

    assert delta_available(_stub_spark(missing)) is False

    def broken(_name):
        raise TypeError("jvm gateway broken")

    with pytest.raises(TypeError, match="gateway broken"):
        delta_available(_stub_spark(broken))
