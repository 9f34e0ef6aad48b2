"""Block-max WAND pruning: exactness vs the exhaustive path (the soaktest
top-k-prefix/equality property with pruning ON — soaktest_queries.cc:180-240),
plus a check that pruning actually skips block decodes.
"""

import pytest

from xapian_spark.plans import query as Q

CASES = [
    ("single_rare", Q.Term("binary_search"), 10),
    ("single_hot", Q.Term("return"), 10),
    ("or2", Q.Or([Q.Term("binary_search"), Q.Term("merge_sort")]), 10),
    ("or_mixed", Q.Or([Q.Term("return"), Q.Term("posting_list")]), 5),
    ("or4", Q.Or([Q.Term("return"), Q.Term("if"), Q.Term("error"), Q.Term("binary_search")]), 10),
    ("k1", Q.Or([Q.Term("return"), Q.Term("if")]), 1),
    ("k_large", Q.Or([Q.Term("binary_search"), Q.Term("merge_sort")]), 1000),
    ("missing", Q.Term("zzz_nope"), 10),
]


@pytest.mark.parametrize("name,q,k", CASES, ids=[c[0] for c in CASES])
def test_wand_equals_exhaustive(name, q, k, matcher):
    exact = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, k).collect()]
    pruned = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, k, prune=True).collect()]
    assert [d for d, _ in exact] == [d for d, _ in pruned]
    for (_, we), (_, wp) in zip(exact, pruned):
        assert abs(we - wp) < 1e-9


def test_wand_prunes_blocks(spark, matcher, index, oracle):
    """On a hot-term query the surviving-block set must be smaller than the
    full block set (otherwise the kernel is a no-op)."""
    from pyspark.sql import functions as F

    from xapian_spark.functions.weights import BM25Params
    from xapian_spark.operators.wand import _bound_col

    terms = ["return", "binary_search"]
    stats = matcher._term_stats(terms)
    weights = {t: matcher._weight_for(t, 1, 1.0, stats) for t in terms}
    total = index.postings.filter(F.col("term").isin(terms)).count()
    # run with tiny k → tight θ → pruning must engage on this corpus
    res = matcher.mset_df(Q.Or([Q.Term(t) for t in terms]), 3, prune=True)
    assert res.count() == 3
    # directly assert some block bound is below the achievable θ
    consts = spark.createDataFrame(
        [(t, weights[t].termweight, weights[t].len_factor) for t in terms],
        "term string, tw double, lf double",
    )
    meta = (
        index.postings.filter(F.col("term").isin(terms))
        .join(F.broadcast(consts), "term")
        .withColumn(
            "bound",
            _bound_col(BM25Params(), F.col("tw"), F.col("lf"), F.col("max_wdf"), F.col("min_doclen")),
        )
    )
    bounds = sorted(r["bound"] for r in meta.select("bound").collect())
    assert total > 1 and bounds[0] < bounds[-1]  # bounds discriminate blocks


def test_impact_tiered_layout_prunes_and_stays_exact(spark, corpus):
    """An index built with impact_tiers > 1 must (a) return the same top-k
    as the exhaustive path and (b) actually prune blocks on a hot single
    term — on the docid-ordered layout every block contains a high-impact
    posting and the measured prune rate is zero (see indexer docstring)."""
    from xapian_spark.operators.indexer import build_index
    from xapian_spark.operators.matcher import Matcher

    ix = build_index(
        spark, corpus, meta_cols=["lang"], impact_tiers=4, block_size=16
    )
    ix.postings = ix.postings.persist()
    m = Matcher(spark, ix)
    q = Q.Term("value")  # mid-Zipf: wdf spans the tier thresholds
    exact = [(r["doc_id"], round(r["weight"], 9)) for r in m.mset_df(q, 3).collect()]
    st = {}
    pruned = [
        (r["doc_id"], round(r["weight"], 9))
        for r in m._wand([("value", 1)], 3, stats_out=st).collect()
    ]
    assert exact == pruned
    assert st["blocks_pruned"] > 0, st
    ix.postings.unpersist()


def test_impact_tiers_reject_sparse_docid_space(spark, corpus):
    """Tier packing steals span_no bit 28 (block_no bit 60); doc_id ≥ 2^40
    would overflow into the tier field — the build must refuse loudly."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from xapian_spark.operators.indexer import build_index

    sparse = corpus.withColumn(
        "doc_id", F.col("doc_id") + F.lit(1 << 40).cast("long")
    )
    with _pytest.raises(ValueError, match="2\\^40"):
        build_index(spark, sparse, impact_tiers=4, block_size=16)
    # same ids are fine without tiers
    ix = build_index(spark, sparse, impact_tiers=1, block_size=16)
    assert ix.stats["doccount"] == corpus.count()


def test_prune_auto_cost_switch(matcher, monkeypatch):
    """prune='auto' (BENCH/BASELINE.md crossover): exhaustive below the
    posting-volume floor, pruned above it, rank-identical either way."""
    q = Q.Or([Q.Term("return"), Q.Term("if")])
    # bench-scale corpus is far below the 10^8 default floor -> exhaustive
    exact = [
        (r["doc_id"], round(r["weight"], 9))
        for r in matcher.mset_df(q, 10, prune="auto").collect()
    ]
    assert matcher.last_prune_decision == "exhaustive"
    # drop the floor below this corpus's posting volume -> pruned path
    from xapian_spark.operators.matcher import Matcher

    monkeypatch.setattr(Matcher, "WAND_AUTO_MIN_POSTINGS", 1)
    pruned = [
        (r["doc_id"], round(r["weight"], 9))
        for r in matcher.mset_df(q, 10, prune="auto").collect()
    ]
    assert matcher.last_prune_decision == "pruned"
    assert [d for d, _ in exact] == [d for d, _ in pruned]
    for (_, we), (_, wp) in zip(exact, pruned):
        assert abs(we - wp) < 1e-9
    # prune=False never flips regardless of stats
    matcher.mset_df(q, 5, prune=False).collect()
    assert matcher.last_prune_decision == "exhaustive"


def test_wand_writes_no_session_config(matcher, monkeypatch):
    """The pruned path never writes session-global config, so a query on
    another thread sharing the session always plans with the session's own
    settings."""
    from pyspark.sql.conf import RuntimeConfig

    def _no_write(self, key, value):
        raise AssertionError(f"session config write {key}={value}")

    q = Q.Or([Q.Term("return"), Q.Term("if"), Q.Term("binary_search")])
    exact = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, 5).collect()]
    monkeypatch.setattr(RuntimeConfig, "set", _no_write)
    pruned = [
        (r["doc_id"], r["weight"])
        for r in matcher.mset_df(q, 5, prune=True).collect()
    ]
    assert [d for d, _ in pruned] == [d for d, _ in exact]
