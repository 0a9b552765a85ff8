"""Delta Lake deletion-vector codec — pure Python over the PUBLIC spec.

Modern Delta tables (minReaderVersion 3, readerFeature `deletionVectors`)
soft-delete rows by attaching a deletion vector to an `add` action instead
of rewriting the data file. A reader must drop the rows whose file-local
row indexes appear in the DV. This module implements the storage format
from delta.io PROTOCOL.md ("Deletion Vectors" + "Deletion Vector Format"),
with no Delta code or jars:

- **Descriptor** (in the add action): `storageType` `"u"` (UUID-named file
  relative to the table, optional random prefix), `"p"` (absolute path),
  or `"i"` (inline); `pathOrInlineDv`; `offset` (for files); `sizeInBytes`
  (length of the serialized bitmap); `cardinality` (rows deleted).
- **DV file framing**: byte 0 is format version `1`; each DV within the
  file sits at `offset`: a 4-byte big-endian data size, the data, then a
  4-byte big-endian CRC-32 of the data.
- **Data**: a 64-bit RoaringBitmapArray in the "portable" serialization
  (PROTOCOL.md "Deletion Vector Format"; delta-spark's
  PortableRoaringBitmapArraySerializationFormat and delta-rs'
  RoaringTreemap agree): magic `1681511377` (4 bytes LE), the number of
  NON-EMPTY 32-bit bitmaps (8 bytes LE), then for each non-empty bitmap
  in increasing key order a 4-byte LE key (the high 32 bits) followed by
  that 32-bit Roaring bitmap in the standard portable format
  (RoaringFormatSpec: cookies 12346/12347, array/bitmap/run containers).
  A set 64-bit value v means: key `v >> 32`, bit `v & 0xFFFFFFFF`.
  Empty keys are NOT stored — the key prefix, not array position,
  carries the high word.
- **Z85**: `"u"` UUIDs and `"i"` payloads are ZeroMQ Base85 text.

The reference treats payloads as opaque bytes and has no lakehouse layer
(lib/deimos/message.rb:5-32) — this exists so pipelines migrating onto
this engine can read real Delta tables with MERGE/DELETE history.

Scale note: DVs are bitmap-compressed and per-file; engines decode them
centrally when planning a scan (the kernel ships decoded selections to
tasks). Here the driver ships only each file's DV descriptor; executors
decode the bitmaps (`layout.dv_rows`, a `mapInPandas`) into
(file, row_index) rows that anti-join the scan (`layout.drop_dv_rows`),
the same expansion Iceberg's deletion vectors use. The join is a
broadcast when the descriptors' total cardinality is small, a shuffle
anti-join otherwise.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

import numpy as np

MAGIC = 1681511377  # RoaringBitmapArray "portable" format magic (LE)
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DEC = {c: i for i, c in enumerate(_Z85_CHARS)}


class DeletionVectorError(Exception):
    """Malformed or unsupported deletion-vector payload."""


# ------------------------------------------------------------------- Z85


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise DeletionVectorError(f"Z85 length {len(text)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        acc = 0
        for ch in text[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_DEC[ch]
            except KeyError:
                raise DeletionVectorError(f"invalid Z85 char {ch!r}") from None
        if acc > 0xFFFFFFFF:
            raise DeletionVectorError("Z85 block overflows 32 bits")
        out += struct.pack(">I", acc)
    return bytes(out)


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise DeletionVectorError(f"Z85 input {len(data)} not a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        (acc,) = struct.unpack(">I", data[i : i + 4])
        block = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            block.append(_Z85_CHARS[rem])
        out.extend(reversed(block))
    return "".join(out)


# ------------------------------------------- 32-bit Roaring (portable)


def _deserialize_roaring32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """One standard portable 32-bit Roaring bitmap at buf[pos:] →
    (sorted uint32 values, next position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        pos += 4
        run_bytes = (size + 7) // 8
        run_flags = buf[pos : pos + run_bytes]
        pos += run_bytes
        has_offsets = size >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        pos += 8
        run_flags = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise DeletionVectorError(f"bad roaring cookie {cookie}")

    # a corrupt header must not drive a huge allocation or a scan past
    # the buffer: every container needs ≥4 header bytes
    if size < 0 or pos + 4 * size > len(buf):
        raise DeletionVectorError(
            f"roaring header claims {size} containers beyond buffer"
        )
    keys = np.empty(size, dtype=np.uint32)
    cards = np.empty(size, dtype=np.int64)
    for i in range(size):
        k, c = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, c + 1
        pos += 4
    if has_offsets:
        pos += 4 * size  # offsets are a seek aid; containers are in order

    parts: list[np.ndarray] = []
    for i in range(size):
        base = np.uint32(keys[i]) << np.uint32(16)
        if run_flags[i // 8] & (1 << (i % 8)):
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, np.dtype("<u2"), n_runs * 2, pos).reshape(
                -1, 2
            )
            pos += 4 * n_runs
            vals = np.concatenate(
                [
                    np.arange(s, s + ln + 1, dtype=np.uint32)
                    for s, ln in runs.astype(np.uint32)
                ]
            ) if n_runs else np.empty(0, np.uint32)
        elif cards[i] > 4096:
            words = np.frombuffer(buf, np.dtype("<u8"), 1024, pos)
            pos += 8192
            bits = np.unpackbits(
                words.view(np.uint8), bitorder="little"
            )
            vals = np.nonzero(bits)[0].astype(np.uint32)
        else:
            vals = np.frombuffer(
                buf, np.dtype("<u2"), int(cards[i]), pos
            ).astype(np.uint32)
            pos += 2 * int(cards[i])
        parts.append((base | vals).astype(np.uint32))
    values = np.concatenate(parts) if parts else np.empty(0, np.uint32)
    return values, pos


def _serialize_roaring32(values: np.ndarray) -> bytes:
    """Portable no-run serialization (array/bitmap containers only) —
    enough to write fixtures and DV files other engines can read."""
    values = np.unique(values.astype(np.uint32))
    keys = (values >> np.uint32(16)).astype(np.uint32)
    out = bytearray()
    uniq = np.unique(keys)
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(uniq))
    groups = [(int(k), (values[keys == k] & np.uint32(0xFFFF))) for k in uniq]
    for k, vals in groups:
        out += struct.pack("<HH", k, len(vals) - 1)
    # offset header (required by the no-run cookie)
    off = len(out) + 4 * len(groups)
    for _, vals in groups:
        out += struct.pack("<I", off)
        off += 8192 if len(vals) > 4096 else 2 * len(vals)
    for _, vals in groups:
        if len(vals) > 4096:
            words = np.zeros(1024, dtype="<u8")
            np.bitwise_or.at(
                words, vals.astype(np.int64) >> 6,
                np.uint64(1) << (vals.astype(np.uint64) & np.uint64(63)),
            )
            out += words.tobytes()
        else:
            out += vals.astype("<u2").tobytes()
    return bytes(out)


# --------------------------------------------- 64-bit RoaringBitmapArray


def deserialize_bitmap_array(data: bytes) -> np.ndarray:
    """Portable-format RoaringBitmapArray → sorted int64 row indexes.

    Each of the `n` stored bitmaps is prefixed by its 4-byte LE key (the
    high 32 bits of the values it holds); empty keys are absent, so the
    key — not the loop index — supplies the high word.
    """
    if len(data) < 12:
        raise DeletionVectorError("DV data shorter than portable header")
    magic, n = struct.unpack_from("<Iq", data, 0)
    if magic != MAGIC:
        raise DeletionVectorError(f"bad DV magic {magic} (want {MAGIC})")
    if n < 0 or n > 1 << 32:
        raise DeletionVectorError(f"absurd DV bitmap count {n}")
    pos = 12
    parts: list[np.ndarray] = []
    last_key = -1
    for _ in range(n):
        if pos + 4 > len(data):
            raise DeletionVectorError("DV truncated before bitmap key")
        (key,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if key <= last_key:
            raise DeletionVectorError(
                f"DV bitmap keys not strictly increasing at {key}"
            )
        last_key = key
        vals, pos = _deserialize_roaring32(data, pos)
        parts.append((np.int64(key) << np.int64(32)) | vals.astype(np.int64))
    if pos != len(data):
        raise DeletionVectorError(
            f"DV data has {len(data) - pos} trailing bytes"
        )
    return np.concatenate(parts) if parts else np.empty(0, np.int64)


def serialize_bitmap_array(indexes: np.ndarray) -> bytes:
    indexes = np.unique(np.asarray(indexes, dtype=np.int64))
    if len(indexes) and indexes[0] < 0:
        raise DeletionVectorError("negative row index")
    highs = indexes >> np.int64(32)
    uniq_highs = np.unique(highs)  # only non-empty keys are stored
    out = bytearray(struct.pack("<Iq", MAGIC, len(uniq_highs)))
    for high in uniq_highs:
        vals = (indexes[highs == high] & np.int64(0xFFFFFFFF)).astype(
            np.uint32
        )
        out += struct.pack("<I", int(high))
        out += _serialize_roaring32(vals)
    return bytes(out)


# ---------------------------------------------------- descriptor → rows


def _dv_file_path(table_path: str, desc: dict) -> tuple[str, int]:
    st = desc["storageType"]
    if st == "p":
        return desc["pathOrInlineDv"], int(desc.get("offset", 0) or 0)
    # "u": optional random prefix + 20-char Z85 UUID (16 bytes)
    enc = desc["pathOrInlineDv"]
    prefix, uuid_part = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=z85_decode(uuid_part))
    name = f"deletion_vector_{u}.bin"
    parts = [table_path] + ([prefix] if prefix else []) + [name]
    return os.path.join(*parts), int(desc.get("offset", 0) or 0)


def read_dv_data(table_path: str, desc: dict) -> bytes:
    """Descriptor → raw serialized bitmap bytes (framing + CRC checked)."""
    st = desc.get("storageType")
    size = int(desc.get("sizeInBytes", -1))
    if st == "i":
        data = z85_decode(desc["pathOrInlineDv"])[:size if size >= 0 else None]
        if size >= 0 and len(data) != size:
            raise DeletionVectorError(
                f"inline DV is {len(data)}B, descriptor says {size}"
            )
        return data
    if st not in ("u", "p"):
        raise DeletionVectorError(f"unknown DV storageType {st!r}")
    path, offset = _dv_file_path(table_path, desc)
    try:
        with open(path, "rb") as fh:
            blob = fh.read()
    except OSError as e:
        raise DeletionVectorError(f"DV file unreadable: {e}") from None
    if not blob or blob[0] != 1:
        raise DeletionVectorError(
            f"DV file {os.path.basename(path)} has unsupported format version"
        )
    if offset + 4 > len(blob):
        raise DeletionVectorError("DV offset beyond file")
    (data_size,) = struct.unpack_from(">I", blob, offset)
    if size >= 0 and data_size != size:
        raise DeletionVectorError(
            f"DV size mismatch: stored {data_size}, descriptor {size}"
        )
    start = offset + 4
    if start + data_size + 4 > len(blob):
        raise DeletionVectorError("DV data truncated")
    data = blob[start : start + data_size]
    (crc,) = struct.unpack_from(">I", blob, start + data_size)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise DeletionVectorError("DV checksum mismatch")
    return data


def dv_row_indexes(table_path: str, desc: dict) -> np.ndarray:
    """Descriptor → sorted int64 file-local row indexes to DROP.

    Containment boundary: a corrupt payload (CRC only covers the file
    variants — inline descriptors have none) must surface as
    `DeletionVectorError`, never as a raw struct/index/value error that
    would kill the Spark task with an undiagnosable traceback — the
    same corrupt-input discipline as the media codecs.
    """
    try:
        idx = deserialize_bitmap_array(read_dv_data(table_path, desc))
    except DeletionVectorError:
        raise
    except (struct.error, IndexError, ValueError, KeyError, ArithmeticError,
            TypeError, MemoryError) as e:
        raise DeletionVectorError(f"malformed deletion vector: {e!r}") from None
    card = desc.get("cardinality")
    if card is not None and int(card) != len(idx):
        raise DeletionVectorError(
            f"DV cardinality {card} != decoded {len(idx)}"
        )
    return idx


def write_dv_file(
    table_path: str, indexes: np.ndarray, prefix: str = ""
) -> dict:
    """Serialize row indexes as an on-disk DV; returns the add-action
    descriptor. Used by tests and by writers that soft-delete."""
    data = serialize_bitmap_array(np.asarray(indexes, dtype=np.int64))
    u = _uuid.uuid4()
    name = f"deletion_vector_{u}.bin"
    dir_ = os.path.join(table_path, prefix) if prefix else table_path
    os.makedirs(dir_, exist_ok=True)
    offset = 1  # right after the format-version byte
    with open(os.path.join(dir_, name), "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">I", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(_uuid.UUID(str(u)).bytes),
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": int(len(np.unique(np.asarray(indexes, np.int64)))),
    }


def inline_dv_descriptor(indexes: np.ndarray) -> dict:
    """Inline ("i") descriptor for small DVs (fixtures + writer path)."""
    data = serialize_bitmap_array(np.asarray(indexes, dtype=np.int64))
    pad = (-len(data)) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data),
        "cardinality": int(len(np.unique(np.asarray(indexes, np.int64)))),
    }
