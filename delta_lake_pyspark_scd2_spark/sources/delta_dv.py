"""Delta Lake deletion-vector codec — pure Python, no delta-spark.

Implements the PUBLIC formats a Delta reader needs to honor
``add.deletionVector`` descriptors (github.com/delta-io/delta
PROTOCOL.md, "Deletion Vector Descriptor Schema" + "Deletion Vector
Format"):

- **Z85** (ZeroMQ base-85, RFC32 spec) — how descriptors encode the
  sidecar file's UUID (``storageType "u"``) and inline bitmaps
  (``storageType "i"``).
- **On-disk DV file layout**: 1-byte format version, then per stored
  vector at its descriptor ``offset``: 4-byte big-endian length N,
  N bytes of bitmap data, 4-byte big-endian CRC-32 of those N bytes.
- **RoaringBitmapArray "portable" serialization** (64-bit): 4-byte LE
  magic ``1681511377``, 8-byte LE count M, then M standard
  *portable-format* 32-bit Roaring bitmaps (RoaringFormatSpec) in
  index order — the array index supplies the high 32 bits of each
  deleted row position.

The parser handles all three 32-bit container kinds (array, bitmap,
run). The serializer emits the simplest legal encoding (no-run cookie,
array/bitmap containers); ``VersionedParquetTable`` writes its
deletion vectors with it.
"""

from __future__ import annotations

import struct
import uuid as _uuid
import zlib

#: Z85 alphabet (ZeroMQ spec), position = value.
_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

_MAGIC_PORTABLE = 1681511377
_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUN = 12346
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX_CARD = 4096


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_CHARS[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(s), 5):
        n = 0
        for c in s[i : i + 5]:
            n = n * 85 + _Z85_INDEX[c]
        out += n.to_bytes(4, "big")
    return bytes(out)


# -- 32-bit roaring (RoaringFormatSpec portable) -----------------------------


def _parse_roaring32(buf: memoryview, pos: int) -> tuple[list[int], int]:
    """Parse one portable 32-bit bitmap at ``pos``; returns (sorted
    values, next position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_bits = bytes(buf[pos : pos + nbytes])
        pos += nbytes
        has_run_info = True
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        run_bits = b""
        has_run_info = False
    else:
        raise ValueError(f"not a portable roaring bitmap (cookie={cookie})")
    keys, cards = [], []
    for _ in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys.append(k)
        cards.append(c + 1)
    if (not has_run_info) or n >= _NO_OFFSET_THRESHOLD:
        pos += 4 * n  # container offsets — containers follow in order
    values: list[int] = []
    for i in range(n):
        hi = keys[i] << 16
        is_run = has_run_info and bool(run_bits[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(hi | v for v in range(start, start + length + 1))
        elif cards[i] > _ARRAY_MAX_CARD:
            bits = buf[pos : pos + 8192]
            pos += 8192
            for wi in range(0, 8192, 8):
                (word,) = struct.unpack_from("<Q", bits, wi)
                base = hi | (wi * 8)
                while word:
                    b = word & -word
                    values.append(base + b.bit_length() - 1)
                    word ^= b
        else:
            vals = struct.unpack_from(f"<{cards[i]}H", buf, pos)
            pos += 2 * cards[i]
            values.extend(hi | v for v in vals)
    return values, pos


def parse_bitmap_array(data: bytes) -> list[int]:
    """Deleted row positions (sorted 64-bit ints) from a portable
    RoaringBitmapArray blob."""
    buf = memoryview(data)
    magic, count = struct.unpack_from("<iQ", buf, 0)
    if magic != _MAGIC_PORTABLE:
        raise ValueError(
            f"unsupported deletion-vector bitmap magic {magic} "
            f"(expected portable {_MAGIC_PORTABLE})"
        )
    pos = 12
    out: list[int] = []
    for idx in range(count):
        vals, pos = _parse_roaring32(buf, pos)
        base = idx << 32
        out.extend(base | v for v in vals)
    return out


def serialize_bitmap_array(positions: list[int]) -> bytes:
    """Portable RoaringBitmapArray for ``positions`` — simplest legal
    encoding: no-run cookie, array containers (≤4096 values) or bitmap
    containers above that."""
    by_hi: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        by_hi.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    count = (max(by_hi) + 1) if by_hi else 0
    out = bytearray(struct.pack("<iQ", _MAGIC_PORTABLE, count))
    for idx in range(count):
        vals32 = by_hi.get(idx, [])
        by_key: dict[int, list[int]] = {}
        for v in vals32:
            by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
        keys = sorted(by_key)
        out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(keys))
        for k in keys:
            out += struct.pack("<HH", k, len(by_key[k]) - 1)
        # container offsets (mandatory for the no-run cookie), relative
        # to the start of this bitmap's cookie
        off = 4 + 4 + 4 * len(keys) + 4 * len(keys)
        offsets = []
        for k in keys:
            offsets.append(off)
            card = len(by_key[k])
            off += 8192 if card > _ARRAY_MAX_CARD else 2 * card
        out += struct.pack(f"<{len(keys)}I", *offsets)
        for k in keys:
            lows = by_key[k]
            if len(lows) > _ARRAY_MAX_CARD:
                bits = bytearray(8192)
                for v in lows:
                    bits[v // 8] |= 1 << (v % 8)
                out += bits
            else:
                out += struct.pack(f"<{len(lows)}H", *lows)
    return bytes(out)


# -- descriptor resolution ---------------------------------------------------


def dv_file_relative_path(descriptor: dict) -> str:
    """``storageType "u"``: the sidecar's path relative to the table
    root. ``pathOrInlineDv`` = <optional random prefix> + 20-char Z85
    UUID; the file is ``<prefix>/deletion_vector_<uuid>.bin``."""
    enc = descriptor["pathOrInlineDv"]
    prefix, tail = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=z85_decode(tail))
    name = f"deletion_vector_{u}.bin"
    return f"{prefix}/{name}" if prefix else name


def read_dv_positions(descriptor: dict, table_root: str, fs) -> list[int]:
    """Deleted row positions for one ``add.deletionVector`` descriptor.
    ``fs`` is the fsio shim (so sidecars resolve on any filesystem the
    log lives on)."""
    st = descriptor["storageType"]
    if st == "i":
        data = z85_decode(descriptor["pathOrInlineDv"])
        return parse_bitmap_array(data[: descriptor["sizeInBytes"]])
    if st == "u":
        from delta_lake_pyspark_scd2_spark.sources.fsio import join

        path = join(table_root, dv_file_relative_path(descriptor))
    elif st == "p":
        path = descriptor["pathOrInlineDv"]
    else:
        raise ValueError(f"unknown deletion-vector storageType {st!r}")
    blob = fs.read_bytes(path)
    if not blob or blob[0] != 1:
        raise ValueError(
            f"unsupported deletion-vector file format version in {path}"
        )
    off = descriptor.get("offset", 1)
    (size,) = struct.unpack_from(">I", blob, off)
    if size != descriptor["sizeInBytes"]:
        raise ValueError(
            f"deletion-vector size mismatch in {path}: file says {size}, "
            f"descriptor says {descriptor['sizeInBytes']}"
        )
    data = blob[off + 4 : off + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, off + 4 + size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion-vector checksum mismatch in {path}")
    return parse_bitmap_array(data)


def write_dv_file(vectors: list[list[int]], table_root: str, fs) -> list[dict]:
    """Write one ``deletion_vector_<uuid>.bin`` file under ``table_root``
    holding one bitmap per entry of ``vectors`` (each at its own
    offset, the layout PROTOCOL.md defines) and return their
    ``storageType "u"`` descriptors, in order. ``fs`` is the fsio shim."""
    from delta_lake_pyspark_scd2_spark.sources.fsio import join

    u = _uuid.uuid4()
    blob = bytearray(b"\x01")
    out = []
    for positions in vectors:
        data = serialize_bitmap_array(positions)
        out.append(
            {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": len(blob),
                "sizeInBytes": len(data),
                "cardinality": len(set(positions)),
            }
        )
        blob += struct.pack(">I", len(data))
        blob += data
        blob += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    fs.put_if_absent(join(table_root, f"deletion_vector_{u}.bin"), bytes(blob))
    return out
