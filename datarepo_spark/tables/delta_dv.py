"""Deletion vectors: the Delta protocol's soft-delete row index.

A DV marks rows of one data file as deleted without rewriting the file
(how delta-spark/delta-rs implement DELETE/UPDATE/MERGE cheaply at
scale). The descriptor rides the add action::

    "deletionVector": {"storageType": "u" | "i" | "p",
                       "pathOrInlineDv": ..., "offset": N,
                       "sizeInBytes": N, "cardinality": N}

- ``u``: file named ``deletion_vector_<uuid>.bin`` under the table root
  (optional random prefix); pathOrInlineDv = <prefix><z85(uuid bytes)>.
- ``p``: absolute path to the DV file.
- ``i``: the blob itself, z85-encoded inline.

On-disk layout (PROTOCOL.md 'Deletion Vector Format'): the file starts
with a format-version byte (1); at ``offset`` sits <int32 BE dataSize>
<data> <int32 BE CRC32-of-data>. ``data`` is delta's RoaringBitmapArray
"portable" serialization: <int32 LE magic 1681511377> <int64 LE number
of 32-bit bitmaps> then per bitmap <int32 LE key> <standard 32-bit
roaring serialization>. A deleted row's int64 index splits as
(key = high 32 bits, low 32 bits into that bitmap).

The standard roaring format (RoaringFormatSpec, public): cookie 12346
(no run containers, followed by int32 container count) or 12347 (run
containers; high 16 cookie bits = count-1, then a run-flag bitset);
per-container uint16 key + uint16 cardinality-1 descriptors; an offset
header (present for cookie 12346, or 12347 with ≥4 containers); then
the containers — sorted uint16 arrays (card ≤ 4096), 8 KiB bitsets, or
<uint16 n_runs> (start, length-1) run pairs. All little-endian.

Both directions live here: the parser for reading foreign tables, the
serializer so tests can round-trip the exact byte format.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterable, Optional
from uuid import UUID

MAGIC = 1681511377
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
_NO_OFFSET_THRESHOLD = 4

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 encodes 4-byte groups")
    out = []
    for i in range(0, len(data), 4):
        value = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            value, rem = divmod(value, 85)
            chunk.append(_Z85_ALPHABET[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 decodes 5-char groups")
    out = bytearray()
    for i in range(0, len(text), 5):
        value = 0
        for ch in text[i : i + 5]:
            value = value * 85 + _Z85_DECODE[ch]
        out += value.to_bytes(4, "big")
    return bytes(out)


# -- 32-bit roaring bitmap ---------------------------------------------------


def _parse_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Parse one standard 32-bit roaring bitmap at ``pos``; return
    (sorted values, new position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    if (cookie & 0xFFFF) == _SERIAL_COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos += 4
        nflag_bytes = (n + 7) // 8
        run_flags = buf[pos : pos + nflag_bytes]
        pos += nflag_bytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos + 4)
        pos += 8
        run_flags = b"\x00" * ((n + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"Bad roaring cookie {cookie}")

    keys_cards = []
    for i in range(n):
        key, card_m1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys_cards.append((key, card_m1 + 1))
    if has_offsets:
        pos += 4 * n  # container offsets — sequential parse ignores them

    values: list[int] = []
    for i, (key, card) in enumerate(keys_cards):
        base = key << 16
        is_run = bool(run_flags[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length_m1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(
                    base + v for v in range(start, start + length_m1 + 1)
                )
        elif card > 4096:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, word in enumerate(words):
                while word:
                    low = word & -word
                    values.append(base + (wi << 6) + low.bit_length() - 1)
                    word ^= low
        else:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base + v for v in vals)
    return values, pos


def _serialize_roaring32(values: list[int]) -> bytes:
    """Standard serialization (cookie 12346, array/bitmap containers —
    the canonical no-run form every reader accepts)."""
    containers: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    out = bytearray()
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    # offset header: positions of each container from the buffer start
    header_len = len(out) + 4 * len(keys)
    offsets = []
    cursor = header_len
    bodies = []
    for k in keys:
        vals = containers[k]
        offsets.append(cursor)
        if len(vals) > 4096:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            body = struct.pack("<1024Q", *words)
        else:
            body = struct.pack(f"<{len(vals)}H", *vals)
        bodies.append(body)
        cursor += len(body)
    for off in offsets:
        out += struct.pack("<I", off)
    for body in bodies:
        out += body
    return bytes(out)


# -- RoaringBitmapArray (delta's 64-bit portable form) -----------------------


def parse_bitmap_array(data: bytes) -> list[int]:
    """delta portable blob → sorted int64 row indexes."""
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != MAGIC:
        raise ValueError(f"Bad DV magic {magic} (expected {MAGIC})")
    (n_bitmaps,) = struct.unpack_from("<q", data, 4)
    pos = 12
    out: list[int] = []
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<i", data, pos)
        pos += 4
        values, pos = _parse_roaring32(data, pos)
        high = key << 32
        out.extend(high | v for v in values)
    return out


def serialize_bitmap_array(positions: Iterable[int]) -> bytes:
    by_key: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        by_key.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", MAGIC, len(by_key)))
    for key in sorted(by_key):
        out += struct.pack("<i", key)
        out += _serialize_roaring32(by_key[key])
    return bytes(out)


# -- descriptor resolution ---------------------------------------------------


def dv_relative_path(path_or_inline: str, prefix_len: Optional[int] = None) -> str:
    """storageType 'u': <random prefix><z85(16-byte uuid)> → the relative
    file path ``[prefix/]deletion_vector_<uuid>.bin``."""
    encoded = path_or_inline[-20:]
    prefix = path_or_inline[:-20]
    u = UUID(bytes=z85_decode(encoded))
    name = f"deletion_vector_{u}.bin"
    return f"{prefix}/{name}" if prefix else name


def read_deletion_vector(table_uri: str, descriptor: dict) -> list[int]:
    """Resolve + parse one DV descriptor → sorted deleted row indexes."""
    storage = descriptor.get("storageType")
    if storage == "i":
        data = z85_decode(descriptor["pathOrInlineDv"])
    else:
        if storage == "u":
            path = os.path.join(
                table_uri, dv_relative_path(descriptor["pathOrInlineDv"])
            )
        elif storage == "p":
            path = descriptor["pathOrInlineDv"]
        else:
            raise ValueError(f"Unknown DV storageType {storage!r}")
        offset = int(descriptor.get("offset") or 0)
        with open(path, "rb") as fh:
            fh.seek(offset)
            (size,) = struct.unpack(">i", fh.read(4))
            data = fh.read(size)
            (crc,) = struct.unpack(">i", fh.read(4))
        if zlib.crc32(data) & 0xFFFFFFFF != crc & 0xFFFFFFFF:
            raise ValueError(f"DV checksum mismatch in {path}@{offset}")
    positions = parse_bitmap_array(data)
    card = descriptor.get("cardinality")
    if card is not None and len(positions) != int(card):
        raise ValueError(
            f"DV cardinality mismatch: descriptor says {card}, bitmap "
            f"holds {len(positions)}"
        )
    return positions


def write_dv_file(
    table_uri: str, positions: Iterable[int]
) -> tuple[dict, str]:
    """Write a storageType='u' DV file; returns (descriptor, abs path).
    DELETE, UPDATE and ``overwrite_where`` write their soft deletes
    through it, one file per touched data file, from the Python workers
    of ``delta_writer._dv_soft_delete_actions``."""
    import uuid as _uuid

    positions = sorted(set(positions))
    u = _uuid.uuid4()
    data = serialize_bitmap_array(positions)
    path = os.path.join(table_uri, f"deletion_vector_{u}.bin")
    blob = (
        b"\x01"  # format version
        + struct.pack(">i", len(data))
        + data
        + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    )
    # offset points past the format-version byte
    with open(path, "wb") as fh:
        fh.write(blob)
    descriptor = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }
    return descriptor, path
