"""Minimal pure-Python protobuf (proto3) wire codec — schema-driven.

grpcio/protobuf are not available in this environment, but the storage-gRPC
surface (/root/reference/generated_types/protos/influxdata/platform/storage/
{service,storage_common,predicate}.proto) is a small, fixed message set, and
the protobuf wire format is simple: varints, 64/32-bit fixeds, and
length-delimited blobs.  This module implements exactly that subset —
enough to encode/decode every storage API message byte-compatibly with any
standard protobuf implementation — with message schemas declared as plain
dicts (see storage_proto.py).

Wire format reference: the public protobuf encoding spec
(developers.google.com/protocol-buffers/docs/encoding).  Supported field
kinds:

  varint family : int32 int64 uint32 uint64 bool enum
  64-bit        : double sfixed64 fixed64
  32-bit        : fixed32
  length-delim  : string bytes message

proto3 semantics honored: scalar defaults are omitted on encode and filled
on decode; repeated numeric fields encode packed and decode both packed and
unpacked; unknown fields are skipped by wire type; submessage presence is
``None`` vs ``{}``.  A repeated 64-bit field given as a NumPy array packs
straight from its buffer (the bulk ``points`` of a ReadResponse).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_VARINT_KINDS = frozenset({"int32", "int64", "uint32", "uint64", "bool", "enum"})
_SIGNED_KINDS = frozenset({"int32", "int64", "enum"})
_I64_KINDS = frozenset({"double", "sfixed64", "fixed64"})
#: little-endian NumPy dtype of each 64-bit kind (packed-array fast path)
_I64_DTYPES = {"double": "<f8", "sfixed64": "<i8", "fixed64": "<u8"}
_I32_KINDS = frozenset({"fixed32"})
_LEN_KINDS = frozenset({"string", "bytes", "message"})

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


@dataclass(frozen=True)
class Field:
    """One field of a message schema: ``{number: Field(...)}``."""

    name: str
    kind: str
    msg: dict | None = None  # sub-schema for kind == "message"
    repeated: bool = False


def _wire_type(kind: str) -> int:
    if kind in _VARINT_KINDS:
        return _WT_VARINT
    if kind in _I64_KINDS:
        return _WT_I64
    if kind in _I32_KINDS:
        return _WT_I32
    return _WT_LEN


# -- varint -----------------------------------------------------------------


def encode_varint(value: int) -> bytes:
    if value < 0:  # two's-complement 64-bit (proto int32/int64/enum)
        value &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        bits = value & 0x7F
        value >>= 7
        if value:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def decode_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _to_signed(value: int) -> int:
    return value - (1 << 64) if value >= (1 << 63) else value


# -- scalar encode/decode ---------------------------------------------------


def _encode_scalar(kind: str, value) -> bytes:
    if kind in _VARINT_KINDS:
        return encode_varint(int(value))
    if kind == "double":
        return struct.pack("<d", float(value))
    if kind == "sfixed64":
        return struct.pack("<q", int(value))
    if kind == "fixed64":
        return struct.pack("<Q", int(value))
    if kind == "fixed32":
        return struct.pack("<I", int(value))
    if kind == "string":
        b = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        return encode_varint(len(b)) + b
    if kind == "bytes":
        b = bytes(value)
        return encode_varint(len(b)) + b
    raise ValueError(f"unknown scalar kind {kind!r}")


def _decode_scalar(kind: str, data: bytes, pos: int, wt: int) -> tuple[object, int]:
    if wt == _WT_VARINT:
        raw, pos = decode_varint(data, pos)
        if kind == "bool":
            return bool(raw), pos
        if kind in _SIGNED_KINDS:
            return _to_signed(raw), pos
        return raw, pos
    if wt == _WT_I64:
        raw = data[pos : pos + 8]
        pos += 8
        if kind == "double":
            return struct.unpack("<d", raw)[0], pos
        if kind == "sfixed64":
            return struct.unpack("<q", raw)[0], pos
        return struct.unpack("<Q", raw)[0], pos
    if wt == _WT_I32:
        raw = data[pos : pos + 4]
        return struct.unpack("<I", raw)[0], pos + 4
    if wt == _WT_LEN:
        n, pos = decode_varint(data, pos)
        raw = bytes(data[pos : pos + n])
        pos += n
        if kind == "string":
            return raw.decode("utf-8"), pos
        return raw, pos
    raise ValueError(f"unsupported wire type {wt}")


def _default(kind: str, repeated: bool):
    if repeated:
        return []
    if kind == "message":
        return None
    if kind == "string":
        return ""
    if kind == "bytes":
        return b""
    if kind == "bool":
        return False
    if kind == "double":
        return 0.0
    return 0


def _is_default(kind: str, value) -> bool:
    return value == _default(kind, repeated=False)


# -- message encode/decode --------------------------------------------------


def encode_message(msg: dict, schema: dict[int, Field]) -> bytes:
    """Encode a dict against a schema.  Missing / default-valued scalar
    fields are omitted (proto3); submessages encode when the value is a
    dict (even empty — presence), skip when None."""
    out = bytearray()
    for number in sorted(schema):
        f = schema[number]
        value = msg.get(f.name)
        if value is None:
            continue
        wt = _wire_type(f.kind)
        key = encode_varint((number << 3) | wt)
        if f.repeated:
            if len(value) == 0:
                continue
            if f.kind in _VARINT_KINDS | _I64_KINDS | _I32_KINDS:
                # packed: one length-delimited blob of raw scalars
                if isinstance(value, np.ndarray) and f.kind in _I64_DTYPES:
                    body = value.astype(_I64_DTYPES[f.kind], copy=False).tobytes()
                else:
                    body = b"".join(_encode_scalar(f.kind, v) for v in value)
                out += encode_varint((number << 3) | _WT_LEN)
                out += encode_varint(len(body))
                out += body
            elif f.kind == "message":
                for v in value:
                    body = encode_message(v, f.msg)
                    out += key + encode_varint(len(body)) + body
            else:  # repeated string/bytes: one record per element
                for v in value:
                    out += key + _encode_scalar(f.kind, v)
        elif f.kind == "message":
            body = encode_message(value, f.msg)
            out += key + encode_varint(len(body)) + body
        else:
            if _is_default(f.kind, value):
                continue
            out += key + _encode_scalar(f.kind, value)
    return bytes(out)


def _skip(data: bytes, pos: int, wt: int) -> int:
    if wt == _WT_VARINT:
        _, pos = decode_varint(data, pos)
        return pos
    if wt == _WT_I64:
        return pos + 8
    if wt == _WT_I32:
        return pos + 4
    if wt == _WT_LEN:
        n, pos = decode_varint(data, pos)
        return pos + n
    raise ValueError(f"cannot skip wire type {wt}")


def decode_message(data: bytes, schema: dict[int, Field]) -> dict:
    """Decode bytes against a schema into a dict with proto3 defaults for
    absent fields.  Unknown field numbers are skipped by wire type."""
    msg = {f.name: _default(f.kind, f.repeated) for f in schema.values()}
    pos = 0
    while pos < len(data):
        key, pos = decode_varint(data, pos)
        number, wt = key >> 3, key & 0x7
        f = schema.get(number)
        if f is None:
            pos = _skip(data, pos, wt)
            continue
        if f.kind == "message":
            n, pos = decode_varint(data, pos)
            sub = decode_message(bytes(data[pos : pos + n]), f.msg)
            pos += n
            if f.repeated:
                msg[f.name].append(sub)
            else:
                msg[f.name] = sub
        elif f.repeated and f.kind in _VARINT_KINDS | _I64_KINDS | _I32_KINDS:
            if wt == _WT_LEN:  # packed
                n, pos = decode_varint(data, pos)
                end = pos + n
                while pos < end:
                    v, pos = _decode_scalar(f.kind, data, pos, _wire_type(f.kind))
                    msg[f.name].append(v)
            else:  # unpacked element
                v, pos = _decode_scalar(f.kind, data, pos, wt)
                msg[f.name].append(v)
        elif f.repeated:
            v, pos = _decode_scalar(f.kind, data, pos, wt)
            msg[f.name].append(v)
        else:
            v, pos = _decode_scalar(f.kind, data, pos, wt)
            msg[f.name] = v
    return msg
