"""Portable Roaring bitmap codec for v3 deletion vectors.

Iceberg v3 stores positional deletes as deletion vectors: a Roaring
bitmap of deleted row positions serialized in the community "portable"
format (https://github.com/RoaringBitmap/RoaringFormatSpec), 64-bit
flavor — u64 count of (u32 high-bits key, 32-bit portable bitmap)
pairs. The 32-bit portable layout is: cookie, per-container descriptive
headers (u16 key, u16 cardinality-1), optional offsets, then container
payloads (array / bitmap / run).

The reference parses DV manifest fields (manifest.go:1792-1793) but the
decode itself is spec-level; this module implements both directions so
v3 tables with DVs are scannable and tests can fabricate DVs. The
serializer emits only array/bitmap containers (always valid portable
output); the deserializer additionally accepts run containers, which
other writers may emit.
"""

from __future__ import annotations

import struct

import numpy as np

SERIAL_COOKIE_NO_RUNCONTAINER = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4  # containers; below this the run format omits offsets
_ARRAY_MAX_CARD = 4096


# ---------------------------------------------------------------- serialize

def _serialize32(values: np.ndarray) -> bytes:
    """32-bit portable serialization of sorted distinct uint32 values."""
    highs = (values >> 16).astype(np.uint16)
    keys, starts = np.unique(highs, return_index=True)
    bounds = np.append(starts, len(values))
    n = len(keys)

    out = [struct.pack("<II", SERIAL_COOKIE_NO_RUNCONTAINER, n)]
    payloads: list[bytes] = []
    cards: list[int] = []
    for i in range(n):
        lows = (values[bounds[i] : bounds[i + 1]] & 0xFFFF).astype(np.uint16)
        cards.append(len(lows))
        if len(lows) <= _ARRAY_MAX_CARD:
            payloads.append(lows.tobytes())
        else:
            bits = np.zeros(1024, dtype=np.uint64)
            l64 = lows.astype(np.uint64)
            np.bitwise_or.at(bits, (l64 >> 6).astype(np.int64), np.uint64(1) << (l64 & np.uint64(63)))
            payloads.append(bits.tobytes())
    for key, card in zip(keys, cards):
        out.append(struct.pack("<HH", int(key), card - 1))
    # offsets are relative to the start of the 32-bit serialization
    offset = 8 + 4 * n + 4 * n  # cookie+size, headers, offset table
    for p in payloads:
        out.append(struct.pack("<I", offset))
        offset += len(p)
    out.extend(payloads)
    return b"".join(out)


def serialize_portable64(positions) -> bytes:
    """Serialize sorted-or-not positions (non-negative ints) to the
    64-bit portable Roaring format."""
    if not isinstance(positions, np.ndarray):
        positions = list(positions)
    arr = np.unique(np.asarray(positions, dtype=np.uint64))
    highs = (arr >> 32).astype(np.uint32)
    keys, starts = np.unique(highs, return_index=True)
    bounds = np.append(starts, len(arr))
    out = [struct.pack("<Q", len(keys))]
    for i, key in enumerate(keys):
        lows = (arr[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        out.append(struct.pack("<I", int(key)))
        out.append(_serialize32(lows))
    return b"".join(out)


# -------------------------------------------------------------- deserialize

def _deserialize32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Parse one 32-bit portable bitmap at `pos`; returns (uint32 values,
    next offset). Handles both cookies including run containers."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    run_flags = None
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        nbytes = (n + 7) // 8
        flag_bits = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=pos)
        run_flags = (np.unpackbits(flag_bits, bitorder="little")[:n]).astype(bool)
        pos += nbytes
        has_offsets = n >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUNCONTAINER:
        (n,) = struct.unpack_from("<I", buf, pos + 4)
        pos += 8
        has_offsets = True
    else:
        raise ValueError(f"invalid roaring cookie: {cookie}")

    headers = np.frombuffer(buf, dtype="<u2", count=2 * n, offset=pos).reshape(n, 2)
    pos += 4 * n
    if has_offsets:
        pos += 4 * n  # offset table — payloads follow contiguously anyway

    chunks: list[np.ndarray] = []
    for i in range(n):
        key = np.uint32(headers[i, 0]) << 16
        card = int(headers[i, 1]) + 1
        if run_flags is not None and run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, dtype="<u2", count=2 * n_runs, offset=pos).reshape(
                n_runs, 2
            )
            pos += 4 * n_runs
            vals = np.concatenate(
                [
                    np.arange(int(s), int(s) + int(l) + 1, dtype=np.uint32)
                    for s, l in runs
                ]
            ) if n_runs else np.empty(0, dtype=np.uint32)
        elif card <= _ARRAY_MAX_CARD:
            vals = np.frombuffer(buf, dtype="<u2", count=card, offset=pos).astype(
                np.uint32
            )
            pos += 2 * card
        else:
            bits = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            vals = np.flatnonzero(
                np.unpackbits(bits.view(np.uint8), bitorder="little")
            ).astype(np.uint32)
        chunks.append(vals + key)
    values = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.uint32)
    return values, pos


def deserialize_portable64(buf: bytes) -> np.ndarray:
    """Parse a 64-bit portable Roaring bitmap → sorted uint64 positions."""
    (count,) = struct.unpack_from("<Q", buf, 0)
    pos = 8
    parts: list[np.ndarray] = []
    for _ in range(count):
        (high,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        lows, pos = _deserialize32(buf, pos)
        parts.append(lows.astype(np.uint64) | (np.uint64(high) << np.uint64(32)))
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
