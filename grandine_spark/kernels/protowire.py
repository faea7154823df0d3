"""Protobuf wire-format encode/decode helpers (no protobuf dep) — the one
wire module of the library.

Used by the MVT codec (kernels/mvt.py, kernels/mvt_batch.py), the TWKB
codec (kernels/twkb.py), the OSM PBF reader/writer (sources/pbf.py) and
the Spaten codec (sources/spaten.py). Only the wire features those schemas
need: varint, zigzag, length-delimited, packed varints, 64-bit fields.
"""

from __future__ import annotations

import struct


def _varint_slow(v: int) -> bytes:
    if v < 0:  # an int64 below zero goes as its 64-bit two's complement
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# MVT command ints and zigzag deltas are overwhelmingly small — a 16k-entry
# table turns the hottest call of the tile encoder's assembly loop into a
# list index; identical bytes by construction
_VARINT_TABLE = [_varint_slow(v) for v in range(1 << 14)]


def varint(v: int) -> bytes:
    if 0 <= v < (1 << 14):
        return _VARINT_TABLE[v]
    return _varint_slow(v)


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    v, s = 0, 0
    while True:
        b = buf[i]
        v |= (b & 0x7F) << s
        s += 7
        i += 1
        if not b & 0x80:
            return v, i


def int64(v: int) -> int:
    """An ``int64`` field's varint as the signed value it encodes."""
    return v - (1 << 64) if v >> 63 else v


def read_packed(buf: bytes) -> list[int]:
    """A packed-varint field payload → its ints."""
    out, i, n = [], 0, len(buf)
    while i < n:
        v, i = read_varint(buf, i)
        out.append(v)
    return out


def tag(field: int, wire: int) -> bytes:
    return varint((field << 3) | wire)


def ld(field: int, payload: bytes) -> bytes:
    return tag(field, 2) + varint(len(payload)) + payload


def packed_varints(field: int, values) -> bytes:
    return ld(field, b"".join(varint(int(v)) for v in values))


def f64(field: int, value: float) -> bytes:
    return tag(field, 1) + struct.pack("<d", value)


def zigzag32(i: int) -> int:
    return ((i << 1) ^ (i >> 31)) & 0xFFFFFFFF


def zigzag64(i: int) -> int:
    return ((i << 1) ^ (i >> 63)) & 0xFFFFFFFFFFFFFFFF


def unzigzag(v: int) -> int:
    """Inverse of zigzag32/zigzag64 (width-independent on the int domain)."""
    return (v >> 1) ^ -(v & 1)


def iter_fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a message buffer.
    value: int for varint(0), bytes for LD(2), 8-byte buf for 64-bit(1),
    4-byte buf for 32-bit(5)."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = read_varint(buf, i)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            v, i = read_varint(buf, i)
        elif wire == 2:
            ln, i = read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wire == 1:
            v = buf[i : i + 8]
            i += 8
        elif wire == 5:
            v = buf[i : i + 4]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v
