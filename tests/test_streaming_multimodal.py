"""Segments / incremental freshness / compaction / foreachBatch streaming appends."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_mset_equal
from xapian_spark.operators.matcher import Matcher
from xapian_spark.plans import query as Q
from xapian_spark.streaming.freshness import MultiIndex, append_segment, compact

QUERY = Q.Or([Q.Term("binary_search"), Q.Term("return"), Q.Term("error")])


def test_segmented_equals_monolithic(spark, corpus, oracle, tmp_path):
    """Two segments unioned with GLOBAL stats must score exactly like a
    single from-scratch index (shard-invariance, matcher.cc:313-336)."""
    root = str(tmp_path / "segs")
    append_segment(spark, root, corpus.filter("doc_id % 2 = 0"), "0", meta_cols=["lang"])
    append_segment(spark, root, corpus.filter("doc_id % 2 = 1"), "1", meta_cols=["lang"])
    ix = MultiIndex(spark, root).load()
    m = Matcher(spark, ix)
    assert_mset_equal(m.mset_df(QUERY, 10).collect(), oracle.mset(QUERY, 10))


def test_delete_then_compact(spark, corpus, oracle, tmp_path):
    """Tombstone semantics: a deleted doc disappears from results
    immediately; per-TERM statistics stay stale until compaction (the
    Lucene-style trade — the reference instead rewrites postings at commit,
    glass_database.cc:1150+).  Post-compaction, scores must equal a
    from-scratch index that never contained the doc."""
    from tests.conftest import N_DOCS, assert_mset_equal
    from xapian_spark.oracle import OracleMatcher, build_oracle_index
    from xapian_spark.sources.corpus import generate_corpus

    root = str(tmp_path / "segs2")
    append_segment(spark, root, corpus, "0", meta_cols=["lang"])
    mi = MultiIndex(spark, root)
    top = oracle.mset(QUERY, 3)
    victim = top[0][0]
    mi.delete_documents([victim])
    ix = mi.load()
    m = Matcher(spark, ix)
    got = [r["doc_id"] for r in m.mset_df(QUERY, 10).collect()]
    assert victim not in got
    assert ix.stats["doccount"] == oracle.ix.doccount - 1
    # compaction removes the doc physically AND restores exact statistics
    out = str(tmp_path / "compacted")
    cix = compact(spark, root, out)
    assert cix.stats["doccount"] == oracle.ix.doccount - 1
    from xapian_spark.operators.matcher import decode_blocks

    assert decode_blocks(cix.postings).filter(F.col("doc_id") == victim).count() == 0
    oracle_wo = OracleMatcher(
        build_oracle_index(
            [
                (i + 1, r[4])
                for i, r in enumerate(generate_corpus(N_DOCS))
                if i + 1 != victim
            ]
        )
    )
    m2 = Matcher(spark, cix)
    assert_mset_equal(m2.mset_df(QUERY, 10).collect(), oracle_wo.mset(QUERY, 10))


def test_streaming_foreachbatch(spark, corpus, tmp_path):
    """Structured Streaming path: file stream → foreachBatch segments."""
    import os

    from xapian_spark.streaming.freshness import stream_into_index

    src = str(tmp_path / "in")
    corpus.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    root = str(tmp_path / "segroot")
    q = stream_into_index(
        stream, root, str(tmp_path / "ckpt"), meta_cols=["lang"], trigger_once=True
    )
    q.awaitTermination(120)
    segs = [d for d in os.listdir(root) if d.startswith("seg-")]
    assert segs
    ix = MultiIndex(spark, root).load()
    assert ix.stats["doccount"] == corpus.count()


def test_multiindex_caps_tiered_segments(spark, monkeypatch, tmp_path):
    """A tiered segment's impact bits live at block_no bits 60-61, so only
    16 salt ordinals are safe — MultiIndex must refuse the 17th segment
    when any segment was built with impact_tiers > 1 (and still allow up
    to 127 plain segments)."""
    import xapian_spark.streaming.freshness as fresh

    class _FakePart:
        def __init__(self, tiers):
            self.config = {"impact_tiers": tiers}

    def _fake_load(spark_, path):
        return _FakePart(2 if path.endswith("-t") else 1)

    monkeypatch.setattr(fresh, "load_index", _fake_load)
    mi = MultiIndex(spark, str(tmp_path / "none"))

    # 16 segments, one tiered → ordinal range 0-15 exceeds the 4 salt bits
    monkeypatch.setattr(
        fresh, "_segments", lambda root: [f"seg-{i}-t" for i in range(16)]
    )
    with pytest.raises(ValueError, match="impact_tiers"):
        mi.load()

    # 16 plain segments pass the cap check (fails later on fake parts,
    # which is fine — the guard under test is the first statement)
    monkeypatch.setattr(
        fresh, "_segments", lambda root: [f"seg-{i}" for i in range(16)]
    )
    with pytest.raises(AttributeError):
        mi.load()
