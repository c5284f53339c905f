"""Avro binary codec for the flat ElectronicOrder record, kept apart from the
program's own codec so that a defect there cannot hide in both the input the
benchmark writes and the output it checks.

Schema order: order_id, electronic_id, user_id (strings), price (double),
time (long). Longs are zigzag varints, strings are a zigzag length followed by
UTF-8 bytes, doubles are 8 little-endian bytes; no container framing.
"""

from __future__ import annotations

import struct

_DOUBLE = struct.Struct("<d")


def _put_long(out: bytearray, n: int) -> None:
    z = (n << 1) if n >= 0 else ((-n << 1) - 1)
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _get_long(buf: bytes, pos: int) -> tuple[int, int]:
    z = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        shift += 7
        if b < 0x80:
            return (z >> 1) if not z & 1 else -((z + 1) >> 1), pos


def encode(order_id: str, electronic_id: str, user_id: str, price: float, time: int) -> bytes:
    out = bytearray()
    for s in (order_id, electronic_id, user_id):
        raw = s.encode()
        _put_long(out, len(raw))
        out += raw
    out += _DOUBLE.pack(price)
    _put_long(out, time)
    return bytes(out)


def decode(buf: bytes) -> tuple[str, str, str, float, int]:
    pos = 0
    strs = []
    for _ in range(3):
        n, pos = _get_long(buf, pos)
        strs.append(buf[pos : pos + n].decode())
        pos += n
    (price,) = _DOUBLE.unpack_from(buf, pos)
    time, pos = _get_long(buf, pos + 8)
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after an ElectronicOrder record")
    return strs[0], strs[1], strs[2], price, time
