"""Delta + VByte codec for posting blocks, vectorized with numpy.

Re-expresses the reference's posting-chunk encoding in a columnar-friendly
form:

- VByte semantics follow ``pack_uint`` (xapian-core/common/pack.h:315-325):
  7 data bits per byte, high bit set means "more bytes follow",
  little-endian 7-bit groups.
- Delta coding of docids follows the glass postlist chunks, which store
  docid increments (xapian-core/backends/glass/glass_postlist.cc:677-695).

We deliberately do NOT reproduce the glass chunk *key* layout (B-tree keys);
Spark's analog is a `postings` table keyed by (term, block_no) with
first_docid / last_docid / max_wdf columns for block skipping (the
block-max WAND metadata, cf. xapian-core/weight/bm25weight.cc:180-202).

One segmented primitive pair does all the coding: :func:`encode_segments`
codes many segments (a partition's blocks, a batch's position lists) in one
numpy pass and returns each one's byte offset; :func:`decode_segments`
decodes the joined bytes of many segments in one pass (VByte is
self-delimiting).  ``encode_docids``/``encode_counts`` and their inverses
wrap it for a single block.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "vbyte_encode",
    "vbyte_decode",
    "encode_segments",
    "decode_segments",
    "encode_docids",
    "decode_docids",
    "encode_counts",
    "decode_counts",
]


def _vbyte(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """VByte bytes (uint8) of a uint64 array, and each value's byte count."""
    big = np.flatnonzero(v >= np.uint64(0x80))
    ngroups = np.ones(v.shape, dtype=np.int64)
    if big.size == 0:
        # Fast path: every value fits one byte.
        return v.astype(np.uint8), ngroups
    # Only the multi-byte values go through the group loops, so a long
    # array with a few of them costs about what an all-single-byte one
    # does.  Their 7-bit group counts (2..10 for 64-bit values):
    vb = v[big]
    tmp = vb >> np.uint64(7)
    nb = np.ones(big.size, dtype=np.int64)
    while tmp.any():
        nb += tmp > 0
        tmp >>= np.uint64(7)
    ngroups[big] = nb
    # Output offset of each value's first byte.
    offs = np.cumsum(ngroups) - ngroups
    out = np.empty(int(offs[-1] + ngroups[-1]), dtype=np.uint8)
    # Every value's first byte in one step: its low 7 bits, with the
    # continuation bit set on the multi-byte ones.
    first = v.astype(np.uint8)
    first[big] |= 0x80
    out[offs] = first
    ob = offs[big]
    for k in range(1, int(nb.max())):
        alive = nb > k
        group = ((vb[alive] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        group[nb[alive] > k + 1] |= 0x80
        out[ob[alive] + k] = group
    return out, ngroups


def vbyte_encode(values: np.ndarray) -> bytes:
    """VByte-encode an array of non-negative uint64 values.

    Matches pack_uint semantics: least-significant 7-bit group first,
    continuation bit (0x80) set on all but the final byte of each value.
    """
    return _vbyte(np.ascontiguousarray(values, dtype=np.uint64))[0].tobytes()


def vbyte_decode(data: bytes, count: int) -> np.ndarray:
    """Decode ``count`` VByte values from ``data`` into uint64 array."""
    raw = np.frombuffer(data, dtype=np.uint8)
    # Each value ends at a byte with the continuation bit clear; that byte
    # holds its most significant 7-bit group.
    last = raw < 0x80
    vals = raw[last].astype(np.uint64)
    if vals.size != count:
        raise ValueError(f"vbyte stream has {vals.size} values, expected {count}")
    cont = np.flatnonzero(~last)
    if cont.size:
        # Reassemble only the multi-byte values, so a long stream with a few
        # of them costs about what an all-single-byte one does.  The value a
        # continuation byte belongs to is the number of last bytes before it.
        owner = cont - np.arange(cont.size)
        first = np.flatnonzero(np.diff(owner, prepend=-1))
        start = cont[first]
        nbytes = np.diff(np.append(first, cont.size)) + 1
        v = np.zeros(first.size, dtype=np.uint64)
        for k in range(int(nbytes.max())):
            has = nbytes > k
            v[has] |= (raw[start[has] + k] & 0x7F).astype(np.uint64) << np.uint64(7 * k)
        vals[owner[first]] = v
    return vals


def _segment_starts(counts: np.ndarray) -> np.ndarray:
    """Index of the first value of every non-empty segment."""
    return (np.cumsum(counts) - counts)[counts > 0]


def encode_segments(
    values: np.ndarray, counts: np.ndarray, delta: bool
) -> tuple[bytes, np.ndarray]:
    """VByte-encode ``values`` as ``len(counts)`` consecutive segments.

    Segment *i* is the next ``counts[i]`` values.  With ``delta`` each
    segment must be strictly increasing; its first value is stored as-is
    and later ones as ``diff - 1``, the increment coding of glass postlist
    chunks (glass_postlist.cc:686-695).  Returns the bytes of all segments
    and their ``len(counts) + 1`` byte offsets: segment *i* is
    ``buf[offsets[i]:offsets[i + 1]]``, and is byte-identical to encoding
    that segment alone.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    if delta and v.size:
        # uint64 differences wrap at segment starts; those are overwritten
        d = np.empty_like(v)
        d[0] = v[0]
        d[1:] = v[1:] - v[:-1] - np.uint64(1)
        starts = _segment_starts(counts)
        d[starts] = v[starts]
        v = d
    out, ngroups = _vbyte(v)
    value_offsets = np.concatenate(([0], np.cumsum(ngroups)))
    return out.tobytes(), value_offsets[np.concatenate(([0], np.cumsum(counts)))]


def decode_segments(data: bytes, counts: np.ndarray, delta: bool) -> np.ndarray:
    """Inverse of :func:`encode_segments` over the joined bytes of its
    segments → one flat uint64 array of ``sum(counts)`` values."""
    counts = np.asarray(counts, dtype=np.int64)
    vals = vbyte_decode(data, int(counts.sum()))
    if not delta or vals.size == 0:
        return vals
    # Undo ``diff - 1`` with one running sum over all segments: each
    # segment's first step also takes back the previous segment's last
    # value, so every segment restarts from zero (uint64 arithmetic wraps,
    # so the result is exact).
    starts = _segment_starts(counts)
    steps = vals + np.uint64(1)
    steps[starts] = vals[starts]
    steps[starts[1:]] -= np.add.reduceat(steps, starts)[:-1]
    return np.cumsum(steps, dtype=np.uint64)


def encode_docids(docids: np.ndarray) -> bytes:
    """Delta + VByte encode one strictly-increasing docid block."""
    return encode_segments(docids, [len(docids)], delta=True)[0]


def decode_docids(data: bytes, count: int) -> np.ndarray:
    """Inverse of :func:`encode_docids` → uint64 docid array."""
    return decode_segments(data, [count], delta=True)


def encode_counts(counts: np.ndarray) -> bytes:
    """VByte encode wdf/count values (no delta — not monotone)."""
    return vbyte_encode(counts)


def decode_counts(data: bytes, count: int) -> np.ndarray:
    return vbyte_decode(data, count)
