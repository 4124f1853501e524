"""Delta Lake deletion-vector codec — pure Python, spec-conformant.

A deletion vector (DV) marks individual rows of a parquet data file as
logically deleted without rewriting the file: the add action carries a
``deletionVector`` descriptor and readers subtract the flagged row
indexes from the scan. This module implements the public on-disk format
from Delta's PROTOCOL.md ("Deletion Vectors" + "Deletion Vector Format"
sections) so the log engine in :mod:`.delta_log` can both WRITE DVs
(:func:`write_dv_file`, used by ``delete_delta_log``) and READ them
(:func:`dv_row_indexes`, used by ``read_delta``):

- row indexes are stored as a **64-bit RoaringBitmapArray**: a magic
  number (1681511377, int32 LE) followed by the "portable" form —
  int64 LE bitmap count, then per bitmap an int32 LE high-key and a
  standard 32-bit Roaring bitmap in the official interoperable
  serialization (RoaringFormatSpec);
- a DV **file** starts with a single format-version byte (1); each DV
  inside it sits at a descriptor-recorded ``offset`` as
  ``<int32 BE size><data><int32 BE crc32-of-data>``;
- descriptors reference the bytes by ``storageType``: ``"u"`` (a
  ``deletion_vector_<uuid>.bin`` file under the table root, the uuid
  Z85-encoded in ``pathOrInlineDv`` after an optional random prefix),
  ``"i"`` (the data itself Z85-encoded inline), or ``"p"`` (absolute
  path).

The 32-bit Roaring codec below writes the no-run-container layout
(always legal) and reads all three container kinds (array / bitmap /
run), so DVs produced by other writers that run-compress still resolve.

Reference parity: the reference engine deletes by key-partitioned file
rewrite only (medallion_delta_lake/silver_table_creation.py relies on
Delta MERGE); DV support goes beyond it so modern reader-v3 tables
(delta-spark writes DVs by default for DELETE/MERGE since 3.1) stay
readable by this repo without delta-spark.
"""
from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

MAGIC = 1681511377  # RoaringBitmapArray portable-format magic (PROTOCOL.md)
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4

# Z85 (ZeroMQ base85) alphabet — the variant PROTOCOL.md names for
# encoding uuids and inline DV bytes
_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_encode(data: bytes) -> str:
    """Z85-encode ``data`` (length must be a multiple of 4)."""
    if len(data) % 4:
        raise ValueError("z85 input length must be a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        (n,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            n, r = divmod(n, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    """Inverse of :func:`z85_encode` (length must be a multiple of 5)."""
    if len(text) % 5:
        raise ValueError("z85 input length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for ch in text[i : i + 5]:
            n = n * 85 + _Z85_INDEX[ch]
        out += struct.pack(">I", n)
    return bytes(out)


# ---------------------------------------------------------------------------
# 32-bit Roaring bitmap — official portable serialization


def _serialize_roaring32(values: list[int]) -> bytes:
    """Serialize sorted distinct uint32 ``values`` in the standard
    portable format, no-run-container layout (array containers up to
    4096 entries, bitmap containers above — both always legal)."""
    containers: list[tuple[int, list[int]]] = []
    for v in values:
        key, low = v >> 16, v & 0xFFFF
        if containers and containers[-1][0] == key:
            containers[-1][1].append(low)
        else:
            containers.append((key, [low]))
    n = len(containers)
    head = struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, n)
    desc = b"".join(
        struct.pack("<HH", key, len(lows) - 1) for key, lows in containers
    )
    bodies = []
    for _key, lows in containers:
        if len(lows) <= 4096:
            bodies.append(struct.pack(f"<{len(lows)}H", *lows))
        else:
            words = [0] * 1024
            for lo in lows:
                words[lo >> 6] |= 1 << (lo & 63)
            bodies.append(struct.pack("<1024Q", *words))
    # offset header is mandatory for the no-run cookie
    pos = len(head) + len(desc) + 4 * n
    offsets = []
    for b in bodies:
        offsets.append(pos)
        pos += len(b)
    return head + desc + struct.pack(f"<{n}i", *offsets) + b"".join(bodies)


def _deserialize_roaring32(buf: bytes, base: int) -> tuple[list[int], int]:
    """Parse one portable 32-bit Roaring bitmap starting at ``base``;
    returns (sorted values, bytes consumed). Handles array, bitmap and
    run containers."""
    (cookie,) = struct.unpack_from("<i", buf, base)
    pos = base + 4
    run_flags = b""
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nflag = (n + 7) // 8
        run_flags = buf[pos : pos + nflag]
        pos += nflag
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos)
        pos += 4
        has_offsets = True
    else:
        raise ValueError(f"not a Roaring bitmap (cookie={cookie})")
    keys_cards = [
        struct.unpack_from("<HH", buf, pos + 4 * i) for i in range(n)
    ]
    pos += 4 * n
    if has_offsets:
        pos += 4 * n  # offsets are redundant for a sequential parse
    values: list[int] = []
    for i, (key, card_m1) in enumerate(keys_cards):
        card = card_m1 + 1
        is_run = bool(run_flags) and (run_flags[i >> 3] >> (i & 7)) & 1
        hi = key << 16
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length_m1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(hi | v for v in range(start, start + length_m1 + 1))
        elif card <= 4096:
            values.extend(
                hi | v for v in struct.unpack_from(f"<{card}H", buf, pos)
            )
            pos += 2 * card
        else:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    low = w & -w
                    values.append(hi | (wi << 6) | low.bit_length() - 1)
                    w ^= low
    return values, pos - base


# ---------------------------------------------------------------------------
# 64-bit RoaringBitmapArray (magic + portable bitmap-per-high-word)


def serialize_dv(row_indexes: list[int]) -> bytes:
    """Serialize sorted-or-not row indexes into DV data bytes
    (magic + portable RoaringBitmapArray)."""
    vals = sorted(set(int(i) for i in row_indexes))
    if vals and vals[0] < 0:
        raise ValueError("row indexes must be non-negative")
    groups: list[tuple[int, list[int]]] = []
    for v in vals:
        key, low = v >> 32, v & 0xFFFFFFFF
        if groups and groups[-1][0] == key:
            groups[-1][1].append(low)
        else:
            groups.append((key, [low]))
    out = [struct.pack("<iq", MAGIC, len(groups))]
    for key, lows in groups:
        out.append(struct.pack("<i", key))
        out.append(_serialize_roaring32(lows))
    return b"".join(out)


def deserialize_dv(data: bytes) -> list[int]:
    """Parse DV data bytes back into the sorted row-index list."""
    (magic, n_bitmaps) = struct.unpack_from("<iq", data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    pos = 12
    values: list[int] = []
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<i", data, pos)
        pos += 4
        lows, used = _deserialize_roaring32(data, pos)
        pos += used
        values.extend((key << 32) | v for v in lows)
    return values


# ---------------------------------------------------------------------------
# DV files and descriptors


def write_dv_file(
    table_path: str, dvs: dict[str, list[int]]
) -> dict[str, dict]:
    """Write ONE deletion-vector file holding a DV per entry of
    ``dvs`` (data-file relative path → deleted row indexes) and return
    relative path → descriptor dict ready to embed in add actions.

    File layout per PROTOCOL.md: a 1-byte format version (1), then each
    DV as ``<int32 BE size><data><int32 BE crc32>`` with the descriptor
    offset pointing at the size word. One file per commit matches
    delta-spark's own packing (many small DVs, one object-store PUT).
    """
    uid = _uuid.uuid4()
    rel = f"deletion_vector_{uid}.bin"
    descriptors: dict[str, dict] = {}
    buf = bytearray(b"\x01")
    for data_rel in sorted(dvs):
        indexes = dvs[data_rel]
        data = serialize_dv(indexes)
        offset = len(buf)
        buf += struct.pack(">i", len(data))
        buf += data
        buf += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        descriptors[data_rel] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(uid.bytes),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": len(set(indexes)),
        }
    tmp = os.path.join(table_path, f"_staging_dv_{uid.hex}")
    with open(tmp, "wb") as fh:
        fh.write(bytes(buf))
    os.replace(tmp, os.path.join(table_path, rel))
    return descriptors


def inline_descriptor(row_indexes: list[int]) -> dict:
    """Build a ``storageType="i"`` descriptor carrying the DV bytes
    Z85-inline (zero-padded to a word boundary; ``sizeInBytes`` is the
    unpadded length). Suits tiny DVs where a separate file per commit
    would dominate I/O."""
    data = serialize_dv(row_indexes)
    padded = data + b"\x00" * ((-len(data)) % 4)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(padded),
        "sizeInBytes": len(data),
        "cardinality": len(set(row_indexes)),
    }


def dv_relative_path(descriptor: dict) -> str | None:
    """Table-root-relative path of a ``storageType="u"`` descriptor's
    DV file (None for inline/absolute descriptors). The last 20 chars
    of ``pathOrInlineDv`` are the Z85 uuid; anything before them is a
    random directory prefix (PROTOCOL.md's "Derived Fields")."""
    if descriptor.get("storageType") != "u":
        return None
    enc = descriptor["pathOrInlineDv"]
    prefix, uid_enc = enc[:-20], enc[-20:]
    uid = _uuid.UUID(bytes=z85_decode(uid_enc))
    name = f"deletion_vector_{uid}.bin"
    return f"{prefix}/{name}" if prefix else name


def dv_row_indexes(table_path: str, descriptor: dict) -> list[int]:
    """Resolve a deletionVector descriptor to its sorted row indexes,
    verifying size and checksum for on-file storage."""
    st = descriptor.get("storageType")
    if st == "i":
        # inline data is zero-padded to a 4-byte multiple before Z85
        # (Z85 only encodes whole words); sizeInBytes trims the pad
        data = z85_decode(descriptor["pathOrInlineDv"])
        return deserialize_dv(data[: descriptor["sizeInBytes"]])
    if st == "u":
        fpath = os.path.join(table_path, dv_relative_path(descriptor))
    elif st == "p":
        fpath = descriptor["pathOrInlineDv"]
    else:
        raise ValueError(f"unknown deletionVector storageType {st!r}")
    offset = descriptor["offset"]
    size = descriptor["sizeInBytes"]
    with open(fpath, "rb") as fh:
        fh.seek(offset)
        (stored_size,) = struct.unpack(">i", fh.read(4))
        if stored_size != size:
            raise ValueError(
                f"DV size mismatch at {fpath}:{offset}: "
                f"file says {stored_size}, descriptor says {size}"
            )
        data = fh.read(size)
        (crc,) = struct.unpack(">I", fh.read(4))
    if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
        raise ValueError(f"DV checksum mismatch at {fpath}:{offset}")
    return deserialize_dv(data)
