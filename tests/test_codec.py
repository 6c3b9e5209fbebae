"""Round-trip property tests for the delta+varint codec (SURVEY.md §5.2
layer 3)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mdq_spark.codec import (
    decode_doc_gaps,
    decode_positions,
    encode_doc_gaps,
    encode_positions,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    buf = varint_encode(vals)
    out = varint_decode(buf)
    assert list(out) == vals


def test_varint_known_bytes():
    # LEB128: 300 = 0b100101100 -> 0xAC 0x02
    assert varint_encode([300]) == b"\xac\x02"
    assert varint_encode([0]) == b"\x00"
    assert varint_encode([127]) == b"\x7f"
    assert varint_encode([128]) == b"\x80\x01"


@given(st.sets(st.integers(min_value=1, max_value=10**12), max_size=200))
@settings(max_examples=200, deadline=None)
def test_doc_gaps_roundtrip(ids):
    run = sorted(ids)
    buf = encode_doc_gaps(run)
    out = decode_doc_gaps(buf, len(run))
    assert list(out) == run


def test_gap_compression_is_small():
    # dense consecutive run -> 1 byte/doc after the first
    run = list(range(10**6, 10**6 + 1000))
    buf = encode_doc_gaps(run)
    assert len(buf) < 1010


@given(st.lists(st.sets(st.integers(min_value=1, max_value=100000),
                        min_size=0, max_size=20), max_size=30))
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(pls):
    pls = [sorted(p) for p in pls]
    buf = encode_positions(pls)
    out = decode_positions(buf, len(pls))
    assert [list(o) for o in out] == pls


def test_empty():
    assert varint_encode([]) == b""
    assert list(varint_decode(b"")) == []
    assert list(decode_doc_gaps(b"")) == []


@given(st.lists(st.integers(min_value=1, max_value=100000),
                max_size=30, unique=True))
@settings(max_examples=200, deadline=None)
def test_position_list_roundtrip(vals):
    from mdq_spark.codec import encode_position_list, EMPTY_POSITIONS
    vals = sorted(vals)
    buf = encode_position_list(vals)
    out = decode_positions(buf, 1)
    assert [list(o) for o in out] == [vals]
    assert encode_position_list([]) == EMPTY_POSITIONS
    # concatenation of per-doc buffers == whole-block encode_positions
    buf2 = encode_position_list(vals) + encode_position_list([7, 9])
    assert buf2 == encode_positions([vals, [7, 9]])


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=60),
       st.integers(min_value=0, max_value=59),
       st.integers(min_value=0, max_value=59))
@settings(max_examples=150, deadline=None)
def test_varint_offsets_slicing(vals, a, b):
    """Whole-column encode + offset slicing must equal encoding the
    slice directly (the arrow postings kernel relies on this)."""
    from mdq_spark.codec import varint_decode_ends, varint_encode_offsets
    buf, off = varint_encode_offsets(vals)
    assert buf == varint_encode(vals)
    lo, hi = sorted((min(a, len(vals)), min(b, len(vals))))
    assert buf[off[lo]:off[hi]] == varint_encode(vals[lo:hi])
    assert list(varint_decode(buf, len(vals))) == vals
    # each value's last byte, and a cut-off last value left undecoded
    out, ends = varint_decode_ends(buf + b"\x80")
    assert list(out) == vals and list(ends + 1) == list(off[1:])


@given(st.lists(st.integers(min_value=1, max_value=1000), max_size=20))
@settings(max_examples=100, deadline=None)
def test_position_list_unsorted_fallback(vals):
    """Unsorted/duplicate positions must encode as sorted-unique, not
    crash on a negative gap (ADVICE r01 low)."""
    from mdq_spark.codec import encode_position_list
    buf = encode_position_list(vals)
    assert buf == encode_position_list(sorted(set(vals)))
    out = decode_positions(buf, 1)
    assert [int(x) for x in out[0]] == sorted(set(vals))
