"""Minimal protobuf wire codec for the FlightSQL command envelope.

The reference speaks ``arrow.flight.protocol.sql`` protobuf commands
wrapped in ``google.protobuf.Any`` (src/server/flightsql/service.rs:
195-226); this container ships neither protobuf codegen nor the
``google.protobuf`` runtime, so the handful of envelope messages are
encoded/decoded directly at the wire level here. Protobuf wire format
is small: a message is a sequence of (tag varint, payload) fields;
everything FlightSQL's envelope needs is varint (wire type 0) and
length-delimited (wire type 2) fields.

Messages covered (FlightSql.proto, apache/arrow format/):

- ``Any``                               {1: type_url, 2: value}
- ``CommandStatementQuery``             {1: query}
- ``CommandPreparedStatementQuery``     {1: prepared_statement_handle}
- ``CommandGetCatalogs``                {}
- ``CommandGetDbSchemas``               {1: catalog, 2: db_schema_filter_pattern}
- ``CommandGetTables``                  {1: catalog, 2: db_schema_filter_pattern,
                                         3: table_name_filter_pattern,
                                         4: table_types*, 5: include_schema}
- ``CommandGetTableTypes``              {}
- ``CommandGetSqlInfo``                 {1: info*}
- ``CommandGetXdbcTypeInfo``            {1: data_type}
- ``TicketStatementQuery``              {1: statement_handle}
- ``ActionCreatePreparedStatementRequest``  {1: query}
- ``ActionCreatePreparedStatementResult``   {1: handle, 2: dataset_schema,
                                             3: parameter_schema}
- ``ActionClosePreparedStatementRequest``   {1: prepared_statement_handle}
"""

from __future__ import annotations

TYPE_URL_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."


# ---------------------------------------------------------------- wire level


def _encode_varint(n: int) -> bytes:
    # Protobuf encodes negative int32/int64 as the 64-bit two's
    # complement (ten bytes); Python's arbitrary-precision >> never
    # reaches 0 for negatives, so mask first.
    if n < 0:
        n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def encode_fields(fields: list[tuple[int, object]]) -> bytes:
    """Encode (field_number, value) pairs; bytes/str are length-delimited,
    ints are varints. Order is preserved (protobuf allows any order)."""
    out = bytearray()
    for num, val in fields:
        if val is None:
            continue
        if isinstance(val, str):
            val = val.encode()
        if isinstance(val, (bytes, bytearray)):
            out += _encode_varint((num << 3) | 2)
            out += _encode_varint(len(val))
            out += val
        elif isinstance(val, bool):
            out += _encode_varint(num << 3)
            out += _encode_varint(int(val))
        elif isinstance(val, int):
            out += _encode_varint(num << 3)
            out += _encode_varint(val)
        else:
            raise TypeError(f"unsupported field type {type(val)!r}")
    return bytes(out)


def decode_fields(buf: bytes) -> dict[int, list[object]]:
    """Decode into {field_number: [values]} — bytes for length-delimited
    fields, int for varints. Unknown wire types raise."""
    out: dict[int, list[object]] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _decode_varint(buf, pos)
        num, wt = tag >> 3, tag & 7
        if wt == 0:
            val, pos = _decode_varint(buf, pos)
        elif wt == 2:
            ln, pos = _decode_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:  # fixed32 — not used by the envelope, skip faithfully
            val = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        elif wt == 1:  # fixed64
            val = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        out.setdefault(num, []).append(val)
    return out


# ------------------------------------------------------------- Any envelope


def pack_any(short_name: str, payload: bytes) -> bytes:
    return encode_fields([(1, TYPE_URL_PREFIX + short_name), (2, payload)])


def unpack_any(buf: bytes) -> tuple[str, bytes] | None:
    """Return (short message name, payload bytes), or None if ``buf``
    does not look like a protobuf Any with a FlightSQL type_url."""
    try:
        fields = decode_fields(buf)
        type_url = fields[1][0].decode()
    except (ValueError, KeyError, AttributeError):
        # malformed wire bytes / no type_url field / a varint where the
        # type_url string belongs (UnicodeDecodeError is a ValueError)
        return None
    if "/" not in type_url:
        return None
    short = type_url.rsplit("/", 1)[1]
    if not short.startswith("arrow.flight.protocol.sql."):
        if not type_url.startswith(TYPE_URL_PREFIX):
            return None
    payload = fields.get(2, [b""])[0]
    return short.rsplit(".", 1)[-1], bytes(payload)


# ----------------------------------------------------- command <-> dict


def _opt_str(fields: dict, num: int) -> str | None:
    if num in fields:
        return fields[num][0].decode()
    return None


def command_to_dict(buf: bytes) -> dict | None:
    """Parse a protobuf-Any FlightSQL command into the server's internal
    command dict (the same shape the JSON envelope uses). None if the
    bytes are not a FlightSQL protobuf command."""
    unpacked = unpack_any(buf)
    if unpacked is None:
        return None
    name, payload = unpacked
    f = decode_fields(payload)
    if name == "CommandStatementQuery":
        return {"type": "statement", "query": f[1][0].decode()}
    if name == "CommandPreparedStatementQuery":
        return {"type": "prepared_statement", "handle": f[1][0].decode()}
    if name == "CommandGetCatalogs":
        return {"type": "catalogs"}
    if name == "CommandGetDbSchemas":
        return {
            "type": "db_schemas",
            "catalog": _opt_str(f, 1),
            "db_schema_filter_pattern": _opt_str(f, 2),
        }
    if name == "CommandGetTables":
        return {
            "type": "tables",
            "catalog": _opt_str(f, 1),
            "db_schema_filter_pattern": _opt_str(f, 2),
            "table_name_filter_pattern": _opt_str(f, 3),
            "table_types": [b.decode() for b in f.get(4, [])],
        }
    if name == "CommandGetTableTypes":
        return {"type": "table_types"}
    if name == "CommandGetSqlInfo":
        # repeated uint32 info = 1 — stock clients send it PACKED
        # (proto3 default: one length-delimited field of concatenated
        # varints), but parsers must accept the unpacked form (one
        # varint field per value) too.
        vals: list[int] = []
        for v in f.get(1, []):
            if isinstance(v, (bytes, bytearray)):
                pos = 0
                while pos < len(v):
                    x, pos = _decode_varint(v, pos)
                    vals.append(x)
            else:
                vals.append(int(v))
        out = {"type": "sql_info"}
        if vals:
            out["info"] = vals
        return out
    if name == "CommandGetXdbcTypeInfo":
        # int32 negatives arrive as 64-bit two's-complement varints
        # (e.g. -1 -> 2^64-1); fold back to signed.
        dt_ = f[1][0] if 1 in f else None
        if dt_ is not None and dt_ >= 1 << 63:
            dt_ -= 1 << 64
        return {"type": "xdbc_type_info", "data_type": dt_}
    if name == "TicketStatementQuery":
        return {"type": "ticket", "handle": f[1][0].decode()}
    raise ValueError(f"unsupported FlightSQL command: {name}")


def encode_command(cmd: dict) -> bytes:
    """Inverse of :func:`command_to_dict` — used by tests standing in for
    a stock FlightSQL client, and by the CLI client mode."""
    t = cmd["type"]
    if t == "statement":
        return pack_any("CommandStatementQuery", encode_fields([(1, cmd["query"])]))
    if t == "prepared_statement":
        return pack_any(
            "CommandPreparedStatementQuery", encode_fields([(1, cmd["handle"])])
        )
    if t == "catalogs":
        return pack_any("CommandGetCatalogs", b"")
    if t == "db_schemas":
        return pack_any(
            "CommandGetDbSchemas",
            encode_fields(
                [(1, cmd.get("catalog")), (2, cmd.get("db_schema_filter_pattern"))]
            ),
        )
    if t == "tables":
        fields: list[tuple[int, object]] = [
            (1, cmd.get("catalog")),
            (2, cmd.get("db_schema_filter_pattern")),
            (3, cmd.get("table_name_filter_pattern")),
        ]
        for tt in cmd.get("table_types") or []:
            fields.append((4, tt))
        return pack_any("CommandGetTables", encode_fields(fields))
    if t == "table_types":
        return pack_any("CommandGetTableTypes", b"")
    if t == "sql_info":
        info = cmd.get("info") or []
        if not info:
            return pack_any("CommandGetSqlInfo", b"")
        # packed encoding, as proto3 codegen emits it
        packed = b"".join(_encode_varint(int(x)) for x in info)
        return pack_any("CommandGetSqlInfo", encode_fields([(1, packed)]))
    if t == "xdbc_type_info":
        fields = [] if cmd.get("data_type") is None else [(1, int(cmd["data_type"]))]
        return pack_any("CommandGetXdbcTypeInfo", encode_fields(fields))
    if t == "ticket":
        return pack_any("TicketStatementQuery", encode_fields([(1, cmd["handle"])]))
    raise ValueError(f"unsupported command type: {t!r}")


# -------------------------------------------------------------- actions


def parse_action_create(body: bytes) -> str | None:
    """ActionCreatePreparedStatementRequest -> query string (None if the
    bytes are not protobuf-Any)."""
    unpacked = unpack_any(body)
    if unpacked is None:
        return None
    name, payload = unpacked
    if name != "ActionCreatePreparedStatementRequest":
        raise ValueError(f"unexpected action message: {name}")
    return decode_fields(payload)[1][0].decode()


def parse_action_close(body: bytes) -> str | None:
    unpacked = unpack_any(body)
    if unpacked is None:
        return None
    name, payload = unpacked
    if name != "ActionClosePreparedStatementRequest":
        raise ValueError(f"unexpected action message: {name}")
    return decode_fields(payload)[1][0].decode()


def encode_action_create_result(
    handle: str, dataset_schema: bytes, parameter_schema: bytes | None = None
) -> bytes:
    return pack_any(
        "ActionCreatePreparedStatementResult",
        encode_fields(
            [(1, handle), (2, dataset_schema), (3, parameter_schema or b"")]
        ),
    )


def decode_action_create_result(buf: bytes) -> dict:
    unpacked = unpack_any(buf)
    if unpacked is None:
        raise ValueError("not a protobuf Any")
    name, payload = unpacked
    if name != "ActionCreatePreparedStatementResult":
        raise ValueError(f"unexpected result message: {name}")
    f = decode_fields(payload)
    return {
        "prepared_statement_handle": f[1][0].decode(),
        "dataset_schema": bytes(f.get(2, [b""])[0]),
        "parameter_schema": bytes(f.get(3, [b""])[0]) or None,
    }
