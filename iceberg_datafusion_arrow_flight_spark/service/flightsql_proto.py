"""Arrow Flight SQL wire protocol — protobuf messages, no protobuf library.

The reference's front door is the actual Flight SQL protocol: arrow-rs's
``FlightSqlService`` dispatches ``google.protobuf.Any``-wrapped command
messages from ``arrow.flight.protocol.sql``
(iceberg-datafusion-arrow-flight/src/lib.rs:198-296, 601-730), so a stock
Flight SQL JDBC/ADBC client can connect.  Round 1's server spoke generic
Flight with its own action names; this module closes that gap.

No ``google.protobuf`` / ``grpcio`` exists in this environment, so the
protobuf *wire format* (a public, stable spec: varint tags,
length-delimited fields) is implemented directly — ~100 lines — and the
message shapes are transcribed from the public ``FlightSql.proto``
schema (Apache Arrow, ``arrow.flight.protocol.sql`` package; field
numbers are the wire contract).  Golden-byte tests in
``tests/test_flightsql.py`` pin the encoding against hand-computed
protobuf bytes, so compatibility does not rest on this module's own
round-trip.

Scale note: this layer only ever touches handles and schemas (bytes),
never data rows — data flows as Arrow record batches through Flight
streams.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

__all__ = ["Any", "MESSAGES", "make", "pack_any", "unpack_any",
           "encode_message", "decode_message"]

# ---------------------------------------------------------------------------
# protobuf wire primitives (spec: developers.google.com/protocol-buffers)
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_LEN = 2


def _encode_varint(n: int) -> bytes:
    if n < 0:  # int64 negatives: two's-complement 64-bit, 10 bytes
        n += 1 << 64
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
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("malformed varint")


def _tag(field_num: int, wire_type: int) -> bytes:
    return _encode_varint((field_num << 3) | wire_type)


# ---------------------------------------------------------------------------
# message schema table — transcribed from the public FlightSql.proto
# ---------------------------------------------------------------------------

# kind ∈ {string, bytes, bool, int64, uint32} (+ "repeated_" prefix)
MESSAGES: dict[str, dict[int, tuple[str, str]]] = {
    # ad-hoc query execution
    "CommandStatementQuery": {1: ("query", "string"),
                              2: ("transaction_id", "bytes")},
    "TicketStatementQuery": {1: ("statement_handle", "bytes")},
    "CommandStatementUpdate": {1: ("query", "string"),
                               2: ("transaction_id", "bytes")},
    # prepared statements
    "ActionCreatePreparedStatementRequest": {
        1: ("query", "string"), 2: ("transaction_id", "bytes")},
    "ActionCreatePreparedStatementResult": {
        1: ("prepared_statement_handle", "bytes"),
        2: ("dataset_schema", "bytes"),
        3: ("parameter_schema", "bytes")},
    "ActionClosePreparedStatementRequest": {
        1: ("prepared_statement_handle", "bytes")},
    "CommandPreparedStatementQuery": {
        1: ("prepared_statement_handle", "bytes")},
    "CommandPreparedStatementUpdate": {
        1: ("prepared_statement_handle", "bytes")},
    "DoPutUpdateResult": {1: ("record_count", "int64")},
    "DoPutPreparedStatementResult": {
        1: ("prepared_statement_handle", "bytes")},
    # catalog metadata
    "CommandGetCatalogs": {},
    "CommandGetDbSchemas": {1: ("catalog", "string"),
                            2: ("db_schema_filter_pattern", "string")},
    "CommandGetTables": {1: ("catalog", "string"),
                         2: ("db_schema_filter_pattern", "string"),
                         3: ("table_name_filter_pattern", "string"),
                         4: ("table_types", "repeated_string"),
                         5: ("include_schema", "bool")},
    "CommandGetTableTypes": {},
    "CommandGetSqlInfo": {1: ("info", "repeated_uint32")},
    # the reference's own fetch ticket (custom package — lib.rs:793-810)
    "FetchResults": {1: ("handle", "string")},
}

_SQL_PKG = "type.googleapis.com/arrow.flight.protocol.sql."
# FetchResults lives in the reference's own proto package (lib.rs:800-802)
_TYPE_URLS: dict[str, str] = {
    name: (_SQL_PKG + name if name != "FetchResults"
           else "type.googleapis.com/datafusion.example.com.sql.FetchResults")
    for name in MESSAGES
}
_BY_URL = {url: name for name, url in _TYPE_URLS.items()}


def encode_message(name: str, values: dict[str, object]) -> bytes:
    """Encode ``values`` as the named message.  Proto3 semantics: fields
    at their default value ('' / 0 / False / empty list) are omitted."""
    fields = MESSAGES[name]
    out = bytearray()
    for num in sorted(fields):
        fname, kind = fields[num]
        v = values.get(fname)
        if v in (None, "", b"", False, 0, []):
            continue
        repeated = kind.startswith("repeated_")
        base = kind.removeprefix("repeated_")
        items = v if repeated else [v]
        for item in items:
            if base == "string":
                payload = str(item).encode("utf-8")
                out += _tag(num, _WT_LEN) + _encode_varint(len(payload)) + payload
            elif base == "bytes":
                payload = bytes(item)
                out += _tag(num, _WT_LEN) + _encode_varint(len(payload)) + payload
            elif base in ("bool", "int64", "uint32"):
                out += _tag(num, _WT_VARINT) + _encode_varint(int(item))
            else:  # pragma: no cover
                raise TypeError(f"unknown kind {kind}")
    return bytes(out)


def decode_message(name: str, buf: bytes) -> dict[str, object]:
    """Decode; unknown fields are skipped (proto3 forward compat)."""
    fields = MESSAGES[name]
    out: dict[str, object] = {}
    for num, (fname, kind) in fields.items():
        if kind.startswith("repeated_"):
            out[fname] = []
        elif kind == "bool":
            out[fname] = False
        elif kind in ("int64", "uint32"):
            out[fname] = 0
        elif kind == "string":
            out[fname] = ""
        else:
            out[fname] = b""
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        num, wt = key >> 3, key & 7
        if wt == _WT_VARINT:
            raw, pos = _decode_varint(buf, pos)
        elif wt == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            raw = buf[pos:pos + ln]
            pos += ln
        elif wt == 1:  # 64-bit, not used by these messages
            raw, pos = buf[pos:pos + 8], pos + 8
        elif wt == 5:  # 32-bit
            raw, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        if num not in fields:
            continue  # unknown field: skip
        fname, kind = fields[num]
        repeated = kind.startswith("repeated_")
        base = kind.removeprefix("repeated_")
        if base == "string":
            val: object = raw.decode("utf-8")
        elif base == "bytes":
            val = bytes(raw)
        elif base == "bool":
            val = bool(raw)
        elif base == "int64":
            val = raw - (1 << 64) if raw >= (1 << 63) else raw
        elif base == "uint32":
            val = raw
        else:  # pragma: no cover
            raise TypeError(kind)
        if repeated:
            out[fname].append(val)
        else:
            out[fname] = val
    return out


# ---------------------------------------------------------------------------
# google.protobuf.Any — {1: type_url string, 2: value bytes}
# ---------------------------------------------------------------------------


@dataclass
class Any:
    type_url: str = ""
    value: bytes = b""

    @property
    def message_name(self) -> str | None:
        return _BY_URL.get(self.type_url)

    def unpack(self) -> tuple[str, dict[str, object]]:
        name = self.message_name
        if name is None:
            raise ValueError(f"unknown Any type_url: {self.type_url}")
        return name, decode_message(name, self.value)

    def encode(self) -> bytes:
        out = bytearray()
        if self.type_url:
            url = self.type_url.encode("utf-8")
            out += _tag(1, _WT_LEN) + _encode_varint(len(url)) + url
        if self.value:
            out += _tag(2, _WT_LEN) + _encode_varint(len(self.value)) + self.value
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "Any":
        pos = 0
        url, val = "", b""
        while pos < len(buf):
            key, pos = _decode_varint(buf, pos)
            num, wt = key >> 3, key & 7
            if wt != _WT_LEN:
                raw, pos = _decode_varint(buf, pos)
                continue
            ln, pos = _decode_varint(buf, pos)
            raw = buf[pos:pos + ln]
            pos += ln
            if num == 1:
                url = raw.decode("utf-8")
            elif num == 2:
                val = bytes(raw)
        return cls(url, val)


def make(name: str, **values) -> bytes:
    """Encode a bare (un-wrapped) message."""
    return encode_message(name, values)


def pack_any(name: str, **values) -> bytes:
    """Encode a message wrapped in google.protobuf.Any — the on-wire form
    of every Flight SQL command/action payload."""
    return Any(_TYPE_URLS[name], encode_message(name, values)).encode()


def unpack_any(buf: bytes) -> tuple[str | None, dict[str, object]]:
    """Decode an Any-wrapped payload → (message name, fields).  Returns
    (None, {}) when the bytes are not an Any of a known Flight SQL
    message (callers reject it like any other unknown command)."""
    try:
        a = Any.decode(buf)
    except Exception:
        return None, {}
    name = a.message_name
    if name is None:
        return None, {}
    try:
        return name, decode_message(name, a.value)
    except Exception:
        return None, {}
