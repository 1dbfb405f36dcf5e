"""Pure-Python protobuf wire-format codec for the public alibaba/canal
protocol (``CanalProtocol.proto`` / ``EntryProtocol.proto``).

The engine depends on neither protoc, the protobuf runtime, nor the
spark-protobuf JVM package, so neither generated ``*_pb2`` modules nor
``from_protobuf`` are available to it. The protobuf *wire format*
itself is public and small — varints plus length-delimited fields —
and the canal decode walked by the reference
(``mon_mysql_dml.py:150-169, 254-316``) touches only a handful of
scalar/string/bytes fields. This module implements exactly that subset,
giving :func:`canal.decode_packets` a dependency-free production parser
whose output matches what the pb2 accessors would give.

Field numbers are taken from the public alibaba/canal protocol
definitions; each table below names its message. The encoder half exists
so tests can build REAL wire bytes and round-trip them through the
decoder (and to generate fixtures) — both halves share the same field
tables, and a golden-bytes test pins the decoder to the documented
encoding rather than just to the encoder.

Wire-format rules used (Protocol Buffers encoding spec): a field is a
varint ``tag = (field_number << 3) | wire_type`` followed by the payload;
wire types: 0 = varint, 1 = fixed 64-bit, 2 = length-delimited (bytes,
strings, sub-messages, packed), 5 = fixed 32-bit. int64 fields encode
negatives as 10-byte two's-complement varints.
"""

from __future__ import annotations

from typing import Any

# ---------------------------------------------------------------------------
# Field tables (public alibaba/canal protocol)
# ---------------------------------------------------------------------------

#: CanalProtocol.proto — Packet { ..., bytes body = 5 }
PACKET_BODY = 5
#: CanalProtocol.proto — Messages { int64 batchId = 1; repeated bytes messages = 2 }
MESSAGES_MESSAGES = 2

#: EntryProtocol.proto — Entry { Header header = 1; EntryType entryType = 2;
#: bytes storeValue = 3 }
ENTRY_HEADER, ENTRY_ENTRYTYPE, ENTRY_STOREVALUE = 1, 2, 3

#: EntryProtocol.proto — Header field numbers for the fields the reference
#: reads (version=1, serverId=4, sourceType=7 and props=12 are skipped by
#: the generic field walk, not rejected)
HEADER_LOGFILE_NAME = 2
HEADER_LOGFILE_OFFSET = 3
HEADER_SERVEREN_CODE = 5
HEADER_EXECUTE_TIME = 6
HEADER_SCHEMA_NAME = 8
HEADER_TABLE_NAME = 9
HEADER_EVENT_LENGTH = 10
HEADER_EVENT_TYPE = 11
HEADER_GTID = 13

#: EntryProtocol.proto — RowChange { tableId=1; eventType=2; isDdl=10;
#: sql=11; repeated RowData rowDatas=12; ... }
ROWCHANGE_IS_DDL = 10
ROWCHANGE_ROWDATAS = 12

#: EntryProtocol.proto — enum EntryType
ENTRY_TYPE_NAMES = {
    1: "TRANSACTIONBEGIN",
    2: "ROWDATA",
    3: "TRANSACTIONEND",
    4: "HEARTBEAT",
}
ENTRY_TYPE_NUMBERS = {v: k for k, v in ENTRY_TYPE_NAMES.items()}


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    """Decode one base-128 varint at ``buf[i:]`` -> (value, next index)."""
    val = shift = 0
    while True:
        try:
            b = buf[i]
        except IndexError:
            raise ValueError("truncated varint") from None
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


def _to_i64(val: int) -> int:
    """Wire varints are unsigned; reinterpret as two's-complement int64."""
    return val - (1 << 64) if val >= (1 << 63) else val


def fields_dict(buf: bytes) -> dict[int, list[Any]]:
    """Generic field walk of one message: ``{field_number: [values...]}``.
    Varint fields decode to int; length-delimited to bytes; fixed 32/64 to
    their raw bytes (unused by canal's subset but skipped correctly)."""
    out: dict[int, list[Any]] = {}
    i, n = 0, len(buf)
    while i < n:
        tag, i = _uvarint(buf, i)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            val, i = _uvarint(buf, i)
        elif wt == 2:
            ln, i = _uvarint(buf, i)
            if i + ln > n:
                raise ValueError("truncated length-delimited field")
            val = bytes(buf[i:i + ln])
            i += ln
        elif wt == 1:
            val = bytes(buf[i:i + 8])
            i += 8
        elif wt == 5:
            val = bytes(buf[i:i + 4])
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt} (field {field})")
        out.setdefault(field, []).append(val)
    return out


def _str(fd: dict[int, list[Any]], field: int) -> str:
    vals = fd.get(field)
    return vals[-1].decode("utf-8") if vals else ""


def _i64(fd: dict[int, list[Any]], field: int) -> int:
    vals = fd.get(field)
    return _to_i64(vals[-1]) if vals else 0


def parse_packet_wire(raw: bytes) -> list[dict[str, Any]]:
    """Parse one canal ``Packet`` into CANAL_ENTRY_SCHEMA-shaped dicts,
    walking the reference's nesting (Packet.body -> Messages.messages ->
    Entry; Header fields + RowChange.storeValue). Absent proto3 fields
    yield ''/0/False exactly like the pb2 accessors."""
    packet = fields_dict(raw)
    bodies = packet.get(PACKET_BODY)
    if not bodies:
        return []
    out: list[dict[str, Any]] = []
    for raw_entry in fields_dict(bodies[-1]).get(MESSAGES_MESSAGES, []):
        ef = fields_dict(raw_entry)
        hf = fields_dict(ef.get(ENTRY_HEADER, [b""])[-1])
        rc = fields_dict(ef.get(ENTRY_STOREVALUE, [b""])[-1])
        entry_type = ef.get(ENTRY_ENTRYTYPE, [0])[-1]
        out.append(
            {
                "entryType": ENTRY_TYPE_NAMES.get(
                    entry_type, f"UNKNOWN_{entry_type}"
                ),
                "header": {
                    "schemaName": _str(hf, HEADER_SCHEMA_NAME),
                    "tableName": _str(hf, HEADER_TABLE_NAME),
                    "logfileName": _str(hf, HEADER_LOGFILE_NAME),
                    "logfileOffset": _i64(hf, HEADER_LOGFILE_OFFSET),
                    "serverenCode": _str(hf, HEADER_SERVEREN_CODE),
                    "executeTime": _i64(hf, HEADER_EXECUTE_TIME),
                    "eventLength": _i64(hf, HEADER_EVENT_LENGTH),
                    "gtid": _str(hf, HEADER_GTID),
                    "eventType": int(hf.get(HEADER_EVENT_TYPE, [0])[-1]),
                },
                "isDdl": bool(rc.get(ROWCHANGE_IS_DDL, [0])[-1]),
                "rowDatas": [
                    {"dummy": 0} for _ in rc.get(ROWCHANGE_ROWDATAS, [])
                ],
            }
        )
    return out


# ---------------------------------------------------------------------------
# Encoder (tests / fixture generation)
# ---------------------------------------------------------------------------

def _enc_uvarint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64  # int64 negatives: 10-byte two's-complement varint
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_varint_field(field: int, val: int) -> bytes:
    return _enc_uvarint(field << 3) + _enc_uvarint(val)


def _enc_len_field(field: int, payload: bytes) -> bytes:
    return (
        _enc_uvarint((field << 3) | 2)
        + _enc_uvarint(len(payload))
        + payload
    )


def _enc_str_field(field: int, s: str) -> bytes:
    return _enc_len_field(field, s.encode("utf-8"))


def encode_header(
    schema_name: str = "",
    table_name: str = "",
    logfile_name: str = "",
    logfile_offset: int = 0,
    serveren_code: str = "",
    execute_time: int = 0,
    event_length: int = 0,
    gtid: str = "",
    event_type: int = 0,
) -> bytes:
    out = bytearray()
    if logfile_name:
        out += _enc_str_field(HEADER_LOGFILE_NAME, logfile_name)
    if logfile_offset:
        out += _enc_varint_field(HEADER_LOGFILE_OFFSET, logfile_offset)
    if serveren_code:
        out += _enc_str_field(HEADER_SERVEREN_CODE, serveren_code)
    if execute_time:
        out += _enc_varint_field(HEADER_EXECUTE_TIME, execute_time)
    if schema_name:
        out += _enc_str_field(HEADER_SCHEMA_NAME, schema_name)
    if table_name:
        out += _enc_str_field(HEADER_TABLE_NAME, table_name)
    if event_length:
        out += _enc_varint_field(HEADER_EVENT_LENGTH, event_length)
    if event_type:
        out += _enc_varint_field(HEADER_EVENT_TYPE, event_type)
    if gtid:
        out += _enc_str_field(HEADER_GTID, gtid)
    return bytes(out)


def encode_row_change(is_ddl: bool = False, n_row_datas: int = 0) -> bytes:
    out = bytearray()
    if is_ddl:
        out += _enc_varint_field(ROWCHANGE_IS_DDL, 1)
    for _ in range(n_row_datas):
        # empty RowData sub-messages: the decode only counts them
        out += _enc_len_field(ROWCHANGE_ROWDATAS, b"")
    return bytes(out)


def encode_entry(
    entry_type: str, header: bytes, store_value: bytes = b""
) -> bytes:
    out = bytearray()
    out += _enc_len_field(ENTRY_HEADER, header)
    out += _enc_varint_field(
        ENTRY_ENTRYTYPE, ENTRY_TYPE_NUMBERS[entry_type]
    )
    if store_value:
        out += _enc_len_field(ENTRY_STOREVALUE, store_value)
    return bytes(out)


def encode_packet(entries: list[bytes]) -> bytes:
    messages = b"".join(
        _enc_len_field(MESSAGES_MESSAGES, e) for e in entries
    )
    return _enc_len_field(PACKET_BODY, messages)
