"""The int-key pack shuffle must be invisible in output: a build that has to
re-salt after a key collision, and a build whose vocabulary is past the
broadcast bound of the term re-attach join (so the join is a shuffle join),
are row-, stats- and dictionary-identical to a default build of the same
corpus."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    from xapian_spark.sources.corpus import corpus_df

    return corpus_df(spark, 300, seed=7, n_partitions=4).persist()


def _build(spark, corpus):
    from xapian_spark.operators.indexer import build_index

    return build_index(
        spark,
        corpus,
        content_col="content",
        meta_cols=["repo", "lang"],
        mode="simple",
        with_positions=True,
        impact_tiers=4,
    )


def _snapshot(ix):
    return (
        sorted(tuple(r) for r in ix.postings.collect()),
        ix.stats,
        sorted(map(tuple, ix.dictionary.collect())),
    )


@pytest.fixture(scope="module")
def default_build(spark, corpus):
    return _snapshot(_build(spark, corpus))


def test_key_collision_resalts(spark, corpus, default_build, monkeypatch):
    from xapian_spark.operators import indexer

    real_key = indexer._term_key
    salts = []

    def colliding_key(salt):
        # salt 0 maps every term to one key: the witness must see it
        salts.append(salt)
        return F.lit(0).cast("long") if salt == 0 else real_key(salt)

    monkeypatch.setattr(indexer, "_term_key", colliding_key)
    snap = _snapshot(_build(spark, corpus))
    assert set(salts) == {0, 1}
    assert snap == default_build


def _postings_plan(ix):
    return ix.postings._jdf.queryExecution().executedPlan().toString()


def test_reattach_shuffle_joins_past_broadcast_bound(
    spark, corpus, default_build, monkeypatch
):
    from xapian_spark.operators import indexer

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        # within the bound the term map is broadcast whatever the threshold
        assert "SortMergeJoin" not in _postings_plan(_build(spark, corpus))
        monkeypatch.setattr(indexer, "_REATTACH_BROADCAST_MAX_VOCAB", 0)
        ix = _build(spark, corpus)
        plan = _postings_plan(ix)
        snap = _snapshot(ix)
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan
    assert snap == default_build
