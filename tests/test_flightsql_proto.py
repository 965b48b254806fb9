"""Protobuf FlightSQL envelope: wire-codec goldens + stock-client e2e.

The goldens are hand-assembled from the protobuf wire spec (tag =
field<<3|wiretype varint, length-delimited payloads) so the codec is
checked against the format itself, not against its own inverse.
"""

from __future__ import annotations

import pyarrow.flight as fl
import pytest

from datafusion_dft_spark.catalog import register_views
from datafusion_dft_spark.functions.info_schema import refresh_information_schema
from datafusion_dft_spark.server import flightsql_proto as fsp
from datafusion_dft_spark.server.flight import DftFlightServer
from datafusion_dft_spark.sql import execute_sql

URL = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"


def test_golden_statement_bytes():
    """Any{type_url, CommandStatementQuery{query: 'SELECT 1'}} assembled
    by hand from the wire format."""
    inner = b"\x0a\x08SELECT 1"  # field 1, wire 2, len 8
    golden = (
        b"\x0a" + bytes([len(URL)]) + URL          # Any.type_url
        + b"\x12" + bytes([len(inner)]) + inner    # Any.value
    )
    assert fsp.encode_command({"type": "statement", "query": "SELECT 1"}) == golden
    assert fsp.command_to_dict(golden) == {"type": "statement", "query": "SELECT 1"}


def test_golden_varint_multibyte():
    """Length 300 must encode as the two-byte varint ac 02."""
    q = "x" * 298  # inner = tag(1) + len(2-byte? no: 298 < 128*2) ...
    inner = fsp.encode_fields([(1, q)])
    # 298 needs a 2-byte varint: 0xaa 0x02
    assert inner[:3] == b"\x0a\xaa\x02"
    enc = fsp.pack_any("CommandStatementQuery", inner)
    assert fsp.command_to_dict(enc)["query"] == q


def test_json_bytes_not_mistaken_for_protobuf():
    assert fsp.command_to_dict(b'{"type": "statement", "query": "SELECT 1"}') is None


def test_unpack_any_garbage_is_none_other_errors_propagate(monkeypatch):
    """Bytes that are not a protobuf Any give None; an error the codec
    does not raise on such bytes is not swallowed."""
    for garbage in (b"\xff\xff", b"\x0f", b"\x08\x01", b"\x0a\x02\xff\xfe", b"junk"):
        assert fsp.unpack_any(garbage) is None

    def broken(_buf):
        raise RuntimeError("codec bug")

    monkeypatch.setattr(fsp, "decode_fields", broken)
    with pytest.raises(RuntimeError, match="codec bug"):
        fsp.unpack_any(fsp.pack_any("CommandStatementQuery", b""))


def test_command_round_trips():
    for cmd in [
        {"type": "catalogs"},
        {"type": "table_types"},
        {"type": "sql_info"},
        {"type": "xdbc_type_info", "data_type": 12},
        {"type": "db_schemas", "catalog": "spark_catalog", "db_schema_filter_pattern": "def"},
        {"type": "tables", "catalog": None, "db_schema_filter_pattern": None,
         "table_name_filter_pattern": "nat", "table_types": ["TABLE", "VIEW"]},
        {"type": "prepared_statement", "handle": "abc-123"},
        {"type": "ticket", "handle": "00000000-1111"},
    ]:
        got = fsp.command_to_dict(fsp.encode_command(cmd))
        for k, v in cmd.items():
            assert got.get(k) == v, (cmd, got)


@pytest.fixture(scope="module")
def proto_server(spark, sf_dir):
    register_views(spark, sf_dir)
    refresh_information_schema(spark)
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    client = fl.FlightClient(f"grpc://127.0.0.1:{server.port}")
    yield client
    client.close()
    server.shutdown()


def _proto_fetch(client, cmd: dict):
    descriptor = fl.FlightDescriptor.for_command(fsp.encode_command(cmd))
    info = client.get_flight_info(descriptor)
    return info, client.do_get(info.endpoints[0].ticket).read_all()


def test_e2e_protobuf_statement(proto_server):
    """A stock-client-shaped request: protobuf command in, protobuf
    TicketStatementQuery out, Arrow batches back."""
    info, table = _proto_fetch(
        proto_server, {"type": "statement", "query": "SELECT count(*) AS n FROM nation"}
    )
    # ticket must be the protobuf envelope, not JSON
    assert fsp.command_to_dict(info.endpoints[0].ticket.ticket)["type"] == "ticket"
    assert table.column("n").to_pylist() == [25]


def test_e2e_protobuf_catalog_rpcs(proto_server):
    _, tables = _proto_fetch(
        proto_server,
        {"type": "tables", "catalog": None, "db_schema_filter_pattern": None,
         "table_name_filter_pattern": "nation", "table_types": []},
    )
    assert "nation" in tables.column("table_name").to_pylist()
    _, tt = _proto_fetch(proto_server, {"type": "table_types"})
    assert tt.num_rows >= 1


def test_e2e_protobuf_prepared_statement(proto_server):
    """CreatePreparedStatement protobuf action -> Any-wrapped result ->
    protobuf CommandPreparedStatementQuery fetch -> Close."""
    body = fsp.pack_any(
        "ActionCreatePreparedStatementRequest",
        fsp.encode_fields([(1, "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3")]),
    )
    results = list(proto_server.do_action(fl.Action("CreatePreparedStatement", body)))
    res = fsp.decode_action_create_result(results[0].body.to_pybytes())
    handle = res["prepared_statement_handle"]
    assert res["dataset_schema"]  # IPC-serialized schema present
    _, table = _proto_fetch(proto_server, {"type": "prepared_statement", "handle": handle})
    assert table.num_rows == 3
    close = fsp.pack_any(
        "ActionClosePreparedStatementRequest", fsp.encode_fields([(1, handle)])
    )
    list(proto_server.do_action(fl.Action("ClosePreparedStatement", close)))
    with pytest.raises(fl.FlightError):
        _proto_fetch(proto_server, {"type": "prepared_statement", "handle": handle})


SQLINFO_URL = b"type.googleapis.com/arrow.flight.protocol.sql.CommandGetSqlInfo"


def test_golden_sqlinfo_packed_values():
    """CommandGetSqlInfo{info: [0, 1, 2]} as proto3 codegen emits it —
    PACKED repeated uint32 (field 1, wire 2, concatenated varints) —
    hand-assembled from the wire spec. The codec must parse it AND emit
    the identical bytes."""
    inner = b"\x0a\x03\x00\x01\x02"  # field 1, wire 2, len 3, varints 0 1 2
    golden = (
        b"\x0a" + bytes([len(SQLINFO_URL)]) + SQLINFO_URL
        + b"\x12" + bytes([len(inner)]) + inner
    )
    assert fsp.command_to_dict(golden) == {"type": "sql_info", "info": [0, 1, 2]}
    assert fsp.encode_command({"type": "sql_info", "info": [0, 1, 2]}) == golden


def test_golden_sqlinfo_unpacked_and_multibyte_values():
    """Parsers must also accept the UNPACKED form (one varint field per
    value — old encoders / proto2 emit this), and multibyte varint codes
    (e.g. 500 -> f4 03) in the packed form."""
    unpacked = fsp.pack_any("CommandGetSqlInfo", b"\x08\x00\x08\x01\x08\x02")
    assert fsp.command_to_dict(unpacked) == {"type": "sql_info", "info": [0, 1, 2]}
    packed_500 = fsp.pack_any("CommandGetSqlInfo", b"\x0a\x03\x01\xf4\x03")
    assert fsp.command_to_dict(packed_500) == {"type": "sql_info", "info": [1, 500]}
    # empty info keeps the bare envelope (and the full-info semantics)
    assert fsp.command_to_dict(fsp.pack_any("CommandGetSqlInfo", b"")) == {
        "type": "sql_info"
    }


def test_e2e_sqlinfo_subset(proto_server):
    """A protobuf GetSqlInfo with specific codes returns only the
    corresponding columns (FlightSql.proto SqlInfo 0-3); unknown-only
    requests fall back to the full relation."""
    _, table = _proto_fetch(proto_server, {"type": "sql_info", "info": [1, 3]})
    assert table.schema.names == ["server_version", "read_only"]
    _, full = _proto_fetch(proto_server, {"type": "sql_info"})
    assert full.schema.names == [
        "server_name", "server_version", "arrow_version", "read_only",
    ]
    _, unknown = _proto_fetch(proto_server, {"type": "sql_info", "info": [500]})
    assert unknown.schema.names == full.schema.names


def test_e2e_do_put_rejected(proto_server, spark):
    """A stock client's DoPut (CommandStatementUpdate) must get a typed
    FlightError naming the command — not pyarrow's opaque default — and
    the attempt must be recorded in the observability table."""
    body = fsp.pack_any(
        "CommandStatementUpdate",
        fsp.encode_fields([(1, "INSERT INTO nation VALUES (1)")]),
    )
    descriptor = fl.FlightDescriptor.for_command(body)
    import pyarrow as pa

    with pytest.raises(fl.FlightError, match="DoPut is not supported"):
        writer, _ = proto_server.do_put(
            descriptor, pa.schema([pa.field("x", pa.int64())])
        )
        writer.write_table(pa.table({"x": [1]}))
        writer.close()
    (df,) = execute_sql(spark, "SELECT path FROM requests")
    assert "/do_put" in [r.path for r in df.collect()]


def test_e2e_empty_result_stream(proto_server):
    """Zero-row results must stream a valid (schema-only) response."""
    _, table = _proto_fetch(
        proto_server,
        {"type": "statement", "query": "SELECT n_name FROM nation WHERE n_nationkey < 0"},
    )
    assert table.num_rows == 0
    assert table.schema.names == ["n_name"]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.text(min_size=0, max_size=500))
    @settings(max_examples=200, deadline=None)
    def test_statement_query_round_trip_any_text(q):
        enc = fsp.encode_command({"type": "statement", "query": q})
        assert fsp.command_to_dict(enc) == {"type": "statement", "query": q}

    @given(
        st.one_of(st.none(), st.text(max_size=50)),
        st.one_of(st.none(), st.text(max_size=50)),
        st.one_of(st.none(), st.text(max_size=50)),
        st.lists(st.sampled_from(["TABLE", "VIEW", "SYSTEM TABLE"]), max_size=3),
    )
    @settings(max_examples=100, deadline=None)
    def test_get_tables_round_trip(cat, schp, tabp, types):
        cmd = {
            "type": "tables",
            "catalog": cat,
            "db_schema_filter_pattern": schp,
            "table_name_filter_pattern": tabp,
            "table_types": types,
        }
        got = fsp.command_to_dict(fsp.encode_command(cmd))
        assert got == cmd

    @given(st.binary(max_size=300))
    @settings(max_examples=300, deadline=None)
    def test_arbitrary_bytes_never_crash_the_detector(buf):
        """command_to_dict on garbage must return None or raise ValueError
        for a recognized-but-unsupported message — never crash."""
        try:
            out = fsp.command_to_dict(buf)
        except ValueError:
            return
        assert out is None or isinstance(out, dict)
except ImportError:  # hypothesis is baked in, but stay import-safe
    pass


def test_negative_data_type_round_trips():
    """XdbcDataType is an int32; negatives ride the wire as 64-bit
    two's-complement varints (ADVICE r5: _encode_varint used to
    infinite-loop on them)."""
    from datafusion_dft_spark.server import flightsql_proto as fsp

    raw = fsp.encode_command({"type": "xdbc_type_info", "data_type": -7})
    assert fsp.command_to_dict(raw) == {"type": "xdbc_type_info", "data_type": -7}
    # encoded form is the canonical 10-byte varint
    assert fsp.encode_command({"type": "xdbc_type_info", "data_type": -1}) != b""


def test_e2e_stock_adbc_client(spark, sf_dir):
    """Interop with a client this repo did NOT write.

    The only thing that truly proves the hand-rolled
    arrow.flight.protocol.sql envelope is a stock FlightSQL client;
    none ships in this sandbox (no adbc_driver_flightsql, no protobuf
    runtime, no flight-sql jar — and installs are disallowed), so this
    test self-skips here and runs automatically in any environment
    with the ADBC driver installed. Reference exercises the same via
    tests/server_cases/flightsql.rs.
    """
    dbapi = pytest.importorskip("adbc_driver_flightsql.dbapi")

    register_views(spark, sf_dir)
    refresh_information_schema(spark)
    server = DftFlightServer(spark, "grpc://127.0.0.1:0")
    try:
        with dbapi.connect(f"grpc://127.0.0.1:{server.port}") as conn:
            with conn.cursor() as cur:
                # statement RPC end to end
                cur.execute("SELECT count(*) AS n FROM nation")
                assert cur.fetchall() == [(25,)]
                # catalog RPC end to end
                objects = conn.adbc_get_objects(depth="tables").read_all().to_pylist()
                names = {
                    t["table_name"]
                    for cat in objects
                    for sch in cat["catalog_db_schemas"] or []
                    for t in sch["db_schema_tables"] or []
                }
                assert "nation" in names
    finally:
        server.shutdown()


CLOSE_URL = (
    b"type.googleapis.com/arrow.flight.protocol.sql.ActionClosePreparedStatementRequest"
)


def test_golden_close_prepared_statement_bytes(proto_server):
    """Any{ActionClosePreparedStatementRequest{handle}} assembled by
    hand from the wire spec — decoded by the codec AND accepted
    end-to-end by the server's ClosePreparedStatement action (which
    must echo the handle it decoded in its not-found error)."""
    handle = "golden-handle-123"
    inner = b"\x0a" + bytes([len(handle)]) + handle.encode()  # field 1, wire 2
    golden = (
        b"\x0a" + bytes([len(CLOSE_URL)]) + CLOSE_URL   # Any.type_url
        + b"\x12" + bytes([len(inner)]) + inner          # Any.value
    )
    assert fsp.parse_action_close(golden) == handle
    assert (
        fsp.pack_any(
            "ActionClosePreparedStatementRequest", fsp.encode_fields([(1, handle)])
        )
        == golden
    )
    # e2e: the server decodes these exact bytes (unknown handle -> the
    # typed error must name the handle recovered from the golden)
    with pytest.raises(fl.FlightError, match="golden-handle-123"):
        list(proto_server.do_action(fl.Action("ClosePreparedStatement", golden)))


PREPQ_URL = (
    b"type.googleapis.com/arrow.flight.protocol.sql.CommandPreparedStatementQuery"
)


def test_golden_parameter_binding_envelope(proto_server):
    """CommandPreparedStatementQuery{prepared_statement_handle} is the
    descriptor a stock client sends on DoPut to BIND PARAMETERS to a
    prepared statement. Golden bytes hand-assembled from the wire spec;
    the codec must decode them, and the server's query-only DoPut
    rejection must identify the command by name (not an opaque
    NotImplementedError)."""
    handle = "prep-42"
    inner = b"\x0a\x07" + handle.encode()  # field 1, wire 2, len 7
    golden = (
        b"\x0a" + bytes([len(PREPQ_URL)]) + PREPQ_URL
        + b"\x12" + bytes([len(inner)]) + inner
    )
    assert fsp.command_to_dict(golden) == {
        "type": "prepared_statement",
        "handle": handle,
    }
    assert fsp.encode_command({"type": "prepared_statement", "handle": handle}) == golden
    # e2e: parameter-binding DoPut with the golden descriptor gets the
    # typed query-only rejection naming CommandPreparedStatementQuery
    import pyarrow as pa

    desc = fl.FlightDescriptor.for_command(golden)
    schema = pa.schema([("p1", pa.int64())])
    with pytest.raises(fl.FlightError, match="CommandPreparedStatementQuery"):
        writer, reader = proto_server.do_put(desc, schema)
        writer.write_table(pa.table({"p1": [1]}))
        writer.close()
        reader.read()


def test_golden_action_create_result_with_parameter_schema():
    """ActionCreatePreparedStatementResult{handle, dataset_schema,
    parameter_schema} — the reply envelope of the prepare/bind flow —
    decoded from hand-assembled bytes including the OPTIONAL field 3
    that our server never emits (clients of parameter-ful servers do)."""
    import pyarrow as pa

    ds = pa.schema([("n", pa.int64())]).serialize().to_pybytes()
    ps = pa.schema([("p1", pa.string())]).serialize().to_pybytes()

    def ld(n):  # length-delimited varint (these payloads are < 16384)
        return bytes([n & 0x7F | 0x80, n >> 7]) if n >= 128 else bytes([n])

    handle = b"h1"
    inner = (
        b"\x0a" + ld(len(handle)) + handle      # 1: prepared_statement_handle
        + b"\x12" + ld(len(ds)) + ds            # 2: dataset_schema
        + b"\x1a" + ld(len(ps)) + ps            # 3: parameter_schema
    )
    url = (
        b"type.googleapis.com/arrow.flight.protocol.sql."
        b"ActionCreatePreparedStatementResult"
    )
    golden = b"\x0a" + ld(len(url)) + url + b"\x12" + ld(len(inner)) + inner
    got = fsp.decode_action_create_result(golden)
    assert got["prepared_statement_handle"] == "h1"
    assert pa.ipc.read_schema(pa.py_buffer(got["dataset_schema"])).names == ["n"]
    assert pa.ipc.read_schema(pa.py_buffer(got["parameter_schema"])).names == ["p1"]
    # and our encoder round-trips the same triple back to these bytes
    assert fsp.encode_action_create_result("h1", ds, ps) == golden
