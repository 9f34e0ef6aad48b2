"""The stored posting bytes, pinned.

A small index built with positions, impact tiers, a boolean field and
16-posting blocks (so term groups span several blocks and boolean-term
postings have no positions), and a two-segment ``compact()`` of the same
corpus, must give exactly these posting rows.  The constants are the
sha256 of the sorted rows; any change to the codec or to the pack, decode
or re-encode kernels that alters a stored byte changes them.
"""

from __future__ import annotations

import hashlib

POSTINGS_SHA256 = "165b07bea8c9e5955fa4d23e565a28912074c082d6ae9899c1b5b7a2e6ecdb5a"
COMPACTED_SHA256 = "0c4fcf788dde55283643f9ebe1b91e91ce9e64abd7c52d247a8621092715de28"


def _rows_sha256(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def test_stored_postings_bytes(spark, tmp_path):
    from xapian_spark.operators.indexer import build_index
    from xapian_spark.sources.corpus import corpus_df
    from xapian_spark.streaming.freshness import append_segment, compact

    corpus = corpus_df(spark, 300, 7).cache()
    ix = build_index(
        spark, corpus, meta_cols=["lang"], impact_tiers=4, block_size=16,
        boolean_fields={"lang": "XL"},
    )
    rows = ix.postings.collect()
    assert any(r["block_no"] & 0xFFFFFFFF for r in rows)  # multi-block groups
    assert any(r["term"].startswith("XL") for r in rows)  # positionless postings
    assert _rows_sha256(rows) == POSTINGS_SHA256

    root = str(tmp_path / "segments")
    append_segment(spark, root, corpus.filter("doc_id <= 150"), "a")
    append_segment(spark, root, corpus.filter("doc_id > 150"), "b")
    compacted = compact(spark, root, str(tmp_path / "compacted"))
    assert _rows_sha256(compacted.postings.collect()) == COMPACTED_SHA256
    corpus.unpersist()
