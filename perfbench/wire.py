"""Producer-side wire encoders for the benchmark's synthetic topics.

Written from the Avro 1.11 binary-encoding and protobuf wire-format specs,
independently of the engine's own schema modules, so a decoder defect cannot
hide behind an encoder that shares its code.  Only the shapes the generator
emits are covered.
"""

from __future__ import annotations

import struct
from decimal import Decimal


def confluent(schema_id: int, payload: bytes) -> bytes:
    """Confluent wire framing: magic 0x00, 4-byte big-endian schema id."""
    return b"\x00" + schema_id.to_bytes(4, "big") + payload


def frame_schema_id(data: bytes | None) -> int | None:
    """The schema id a Confluent-framed record carries, else None."""
    if data is not None and len(data) >= 5 and data[0] == 0:
        return int.from_bytes(data[1:5], "big")
    return None


# --- Avro ------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_long(n: int) -> bytes:
    """Avro int and long: zigzag varint."""
    return _varint((n << 1) ^ (n >> 63))


def avro_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return avro_long(len(b)) + b


def avro_decimal(d: Decimal, scale: int) -> bytes:
    """bytes-backed decimal: big-endian two's-complement unscaled value."""
    unscaled = int(d.scaleb(scale))
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return avro_long(n) + unscaled.to_bytes(n, "big", signed=True)


def avro_array(items: list[bytes]) -> bytes:
    if not items:
        return avro_long(0)
    return avro_long(len(items)) + b"".join(items) + avro_long(0)


def avro_map(entries: dict[str, bytes]) -> bytes:
    if not entries:
        return avro_long(0)
    body = b"".join(avro_string(k) + v for k, v in entries.items())
    return avro_long(len(entries)) + body + avro_long(0)


def avro_union(branch: int, payload: bytes = b"") -> bytes:
    return avro_long(branch) + payload


def avro_double(x: float) -> bytes:
    return struct.pack("<d", x)


# --- protobuf ----------------------------------------------------------------


def _tag(field: int, wire_type: int) -> bytes:
    return _varint(field << 3 | wire_type)


def pb_varint(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint(n & ((1 << 64) - 1))


def pb_string(field: int, s: str) -> bytes:
    b = s.encode("utf-8")
    return _tag(field, 2) + _varint(len(b)) + b


def pb_double(field: int, x: float) -> bytes:
    return _tag(field, 1) + struct.pack("<d", x)


def pb_message_indexes_first() -> bytes:
    """Confluent message-index prefix selecting the first message: [0]."""
    return b"\x00"
