"""Codec roundtrip properties (FIXTURES.md F6; pack.h:315-325 semantics)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from xapian_spark.functions import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.vbyte_decode(codec.vbyte_encode(arr), len(arr)), arr)


@given(
    st.lists(
        st.integers(min_value=1, max_value=2**62), min_size=0, max_size=500, unique=True
    )
)
@settings(max_examples=200, deadline=None)
def test_docid_delta_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.uint64)
    enc = codec.encode_docids(arr)
    assert np.array_equal(codec.decode_docids(enc, len(arr)), arr)


def _pack_uint(value: int) -> bytes:
    """pack_uint (common/pack.h:315-325), one value at a time."""
    out = bytearray()
    while value >= 0x80:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


@given(
    st.lists(
        st.one_of(st.integers(0, 0x7F), st.integers(0, 2**64 - 1)), max_size=300
    )
)
@settings(max_examples=300, deadline=None)
def test_vbyte_encode_matches_pack_uint(vals):
    arr = np.array(vals, dtype=np.uint64)
    packed = [_pack_uint(v) for v in vals]
    assert codec.vbyte_encode(arr) == b"".join(packed)
    # one value per segment: the offsets are pack_uint's byte counts
    _, offsets = codec.encode_segments(arr, np.ones(len(vals)), delta=False)
    assert np.diff(offsets).tolist() == [len(b) for b in packed]


def test_single_byte_fast_path():
    arr = np.arange(0, 128, dtype=np.uint64)
    enc = codec.vbyte_encode(arr)
    assert len(enc) == 128  # 1 byte per value
    assert np.array_equal(codec.vbyte_decode(enc, 128), arr)


def test_compression_ratio_dense():
    # dense docids → ~1 byte/posting after delta
    arr = np.arange(1, 100001, dtype=np.uint64)
    assert len(codec.encode_docids(arr)) <= 100000 + 4


@st.composite
def _segments(draw):
    """Segment lists as the indexer codes them: strictly increasing docid
    (or position) segments, count segments up to 2**63 - 1, and empty
    segments (a boolean term's posting has no positions)."""
    docid_segs = draw(
        st.lists(
            st.lists(st.integers(0, 2**63 - 1), unique=True, max_size=40).map(sorted),
            max_size=30,
        )
    )
    count_segs = draw(
        st.lists(st.lists(st.integers(0, 2**63 - 1), max_size=40), max_size=30)
    )
    return docid_segs, count_segs


def _flat(segs):
    counts = np.array([len(s) for s in segs], dtype=np.int64)
    return np.array([v for s in segs for v in s], dtype=np.uint64), counts


@given(_segments())
@settings(max_examples=200, deadline=None)
def test_segments_match_single_block_codec(segments):
    """Each segment's bytes, sliced out at the returned offsets, are the
    one-block codec's bytes; decoding the joined bytes gives the values."""
    for segs, delta, one_block in (
        (segments[0], True, codec.encode_docids),
        (segments[1], False, codec.encode_counts),
    ):
        flat, counts = _flat(segs)
        buf, offsets = codec.encode_segments(flat, counts, delta=delta)
        assert len(offsets) == len(segs) + 1 and offsets[-1] == len(buf)
        for i, s in enumerate(segs):
            assert buf[offsets[i]:offsets[i + 1]] == one_block(
                np.array(s, dtype=np.uint64)
            )
        assert np.array_equal(codec.decode_segments(buf, counts, delta=delta), flat)


def test_codec_segmented_roundtrip():
    import random

    rng = random.Random(0)
    for _ in range(200):
        lists = [
            sorted(rng.sample(range(1, 1000), rng.randint(0, 10)))
            for _ in range(rng.randint(0, 20))
        ]
        flat, counts = _flat(lists)
        buf, offsets = codec.encode_segments(flat, counts, delta=True)
        dec = np.split(codec.decode_segments(buf, counts, delta=True), np.cumsum(counts))
        assert [list(x) for x in dec[:-1]] == lists
