"""Delta-gap + varint codec for posting runs (numpy-vectorized).

The north rule requires explicit "delta-gap + varint compression of
docID runs" — the same scheme the reference's storage layer uses:
docids within a chunk are gap-encoded (``pack_uint(chunk, did -
current_did - 1)``, xapian-core:backends/glass/glass_postlist.cc:365)
with an LEB128-style varint (7 bits per byte, high-bit continuation,
xapian-core:common/pack.h:380-391).

This module is from-scratch numpy: encode/decode whole blocks at a time
(no per-value Python loop on the hot path — loops run over *byte
positions* (<=10) not values).
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # 64-bit value -> at most 10 LEB128 bytes


def varint_encode(values) -> bytes:
    """LEB128-encode a sequence of non-negative ints."""
    return varint_encode_offsets(values)[0]


def varint_encode_offsets(values) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a whole column and return (buffer, offsets) where
    ``offsets[i]:offsets[i+1]`` is value i's byte span — lets a caller
    slice out any contiguous run without re-encoding (the postings
    kernel encodes one column per Arrow batch and slices per group)."""
    arr = np.asarray(values, dtype=np.uint64)
    n = len(arr)
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    out = np.zeros((n, _MAX_BYTES), dtype=np.uint8)
    lens = np.zeros(n, dtype=np.int64)
    v = arr.copy()
    active = np.ones(n, dtype=bool)
    for i in range(_MAX_BYTES):
        if not active.any():
            break
        byte = (v & np.uint64(0x7F)).astype(np.uint8)
        v = v >> np.uint64(7)
        more = v > 0
        out[active, i] = (byte | (more.astype(np.uint8) << 7))[active]
        lens[active] = i + 1
        active = active & more
    col = np.arange(_MAX_BYTES)
    mask = col[None, :] < lens[:, None]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return out[mask].tobytes(), offsets


def varint_decode(buf, count: int | None = None) -> np.ndarray:
    """Decode LEB128 buffer (bytes-like or uint8 ndarray) -> uint64
    array."""
    vals = varint_decode_ends(buf)[0]
    if count is not None and len(vals) != count:
        raise ValueError(f"decoded {len(vals)} values, expected {count}")
    return vals


def varint_decode_ends(buf) -> tuple[np.ndarray, np.ndarray]:
    """Decode a LEB128 buffer and return (values, ends), where
    ``ends[i]`` is the index of value i's last byte — lets a caller
    check which bytes each value came from (the posting-run decoders
    check that every run's bytes hold whole values).  Bytes after the
    last complete value are not decoded."""
    b = buf if isinstance(buf, np.ndarray) \
        else np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 128)
    if ends.size == 0:
        return np.zeros(0, dtype=np.uint64), ends
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    maxlen = int((ends - starts).max()) + 1
    for j in range(maxlen):
        idx = starts + j
        sel = idx <= ends
        vals[sel] |= (b[idx[sel]].astype(np.uint64) & np.uint64(0x7F)) \
            << np.uint64(7 * j)
    return vals, ends


def encode_doc_gaps(doc_ids) -> bytes:
    """Delta-gap encode a sorted docid run: first value absolute, then
    ``did - prev - 1`` gaps (glass_postlist.cc:365 convention)."""
    arr = np.asarray(doc_ids, dtype=np.uint64)
    if len(arr) == 0:
        return b""
    gaps = np.empty_like(arr)
    gaps[0] = arr[0]
    if len(arr) > 1:
        gaps[1:] = arr[1:] - arr[:-1] - 1
    return varint_encode(gaps)


def decode_doc_gaps(buf: bytes, count: int | None = None) -> np.ndarray:
    gaps = varint_decode(buf, count)
    if len(gaps) == 0:
        return gaps
    out = gaps.copy()
    out[1:] += 1
    return np.cumsum(out, dtype=np.uint64)


def encode_positions(pos_lists) -> bytes:
    """Per-doc position lists -> one buffer: for each doc, varint count
    then delta-gap encoded positions (first absolute, then gap-1).
    Vectorized: one concatenate + one diff over the whole block (this
    runs on every posting of every positional term at build time)."""
    n = len(pos_lists)
    lens = np.fromiter((len(p) for p in pos_lists), dtype=np.int64,
                       count=n)
    total_p = int(lens.sum())
    if total_p == 0:
        return varint_encode(np.zeros(n, dtype=np.uint64))
    arrs = [np.asarray(p, dtype=np.uint64) for p in pos_lists if len(p)]
    allp = np.concatenate(arrs)
    # per-list ascending order (the tokenizer emits increasing positions;
    # sort only when an input violates that)
    seg_starts = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum([len(a) for a in arrs[:-1]], out=seg_starts[1:])
    gaps = allp.copy()
    gaps[1:] = allp[1:] - allp[:-1] - 1
    gaps[seg_starts] = allp[seg_starts]
    if gaps.astype(np.int64).min() < 0:  # unsorted input fallback
        allp = np.concatenate([np.sort(a) for a in arrs])
        gaps = allp.copy()
        gaps[1:] = allp[1:] - allp[:-1] - 1
        gaps[seg_starts] = allp[seg_starts]
    # interleave: count_i at stream offset i + cumsum(lens[:i])
    stream = np.empty(n + total_p, dtype=np.uint64)
    cum = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=cum[1:])
    count_pos = np.arange(n, dtype=np.int64) + cum
    stream[count_pos] = lens.astype(np.uint64)
    mask = np.ones(n + total_p, dtype=bool)
    mask[count_pos] = False
    stream[mask] = gaps
    return varint_encode(stream)


def encode_position_list(vals) -> bytes:
    """One doc's position list -> ``varint(count) + delta-gap varints``
    (the same per-doc layout encode_positions emits).  Pure-Python fast
    path for the tiny lists (1-3 positions) the tokenizer produces —
    positions are almost always < 2^14 so this is 1-2 bytes per value
    with no numpy allocation."""
    out = bytearray()

    def put(v: int) -> None:
        while v >= 128:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)

    put(len(vals))
    prev = -1
    for p in vals:
        if p <= prev:
            # unsorted/duplicate input: fall back to sorted unique
            # (mirrors encode_positions' fallback) instead of emitting a
            # negative gap that would crash the whole tokenize stage
            return encode_position_list(sorted(set(vals)))
        put(p - prev - 1)
        prev = p
    return bytes(out)


EMPTY_POSITIONS = b"\x00"  # encode_position_list([])


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    vals = varint_decode(buf)
    out = []
    i = 0
    for _ in range(n_docs):
        cnt = int(vals[i])
        i += 1
        seg = vals[i:i + cnt].copy()
        if cnt:
            seg[1:] += 1
            seg = np.cumsum(seg, dtype=np.uint64)
        out.append(seg)
        i += cnt
    if i != len(vals):
        raise ValueError("positions buffer length mismatch")
    return out
