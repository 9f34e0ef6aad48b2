"""Block-max WAND pruning: exactness vs the exhaustive path (the soaktest
top-k-prefix/equality property with pruning ON — soaktest_queries.cc:180-240),
plus a check that pruning actually skips block decodes.

The pruned path folds each doc's parts in query leaf order with the
exhaustive path's operations, so its rows equal the exhaustive rows exactly:
the same doc ids, the same weights bit for bit (``float.hex``).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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


def _rows(df):
    return [(r["doc_id"], r["weight"].hex()) for r in df.collect()]


def _assert_pruned_is_exhaustive(m, q, k):
    exact = _rows(m.mset_df(q, k))
    pruned = _rows(m.mset_df(q, k, prune=True))
    assert m.last_prune_decision == "pruned"
    assert pruned == exact, (q, k)


@pytest.mark.parametrize("name,q,k", CASES, ids=[c[0] for c in CASES])
def test_wand_equals_exhaustive(name, q, k, matcher):
    _assert_pruned_is_exhaustive(matcher, q, k)


@pytest.fixture(scope="module")
def tiered(spark, corpus):
    """An impact-tiered index with small blocks: several tiers and many
    blocks per term, so bounds fall from tier to tier."""
    from xapian_spark.operators.indexer import build_index
    from xapian_spark.operators.matcher import Matcher

    ix = build_index(spark, corpus, meta_cols=["lang"], impact_tiers=4, block_size=16)
    ix.postings = ix.postings.persist()
    yield Matcher(spark, ix)
    ix.postings.unpersist()


def _vocab(m):
    """(hot, all): the 20 highest-termfreq terms, and every term."""
    rows = m.index.dictionary.orderBy("termfreq", ascending=False).select("term").collect()
    terms = [r["term"] for r in rows]
    return terms[:20], terms


def _check_random_ors(m, first_hot: bool = False):
    """Random ORs of 1-5 distinct terms (sometimes with one unknown term)
    at k ∈ {1, 3, 10, 1000}: pruned rows equal exhaustive rows exactly."""
    hot, vocab = _vocab(m)
    pool = st.one_of(st.sampled_from(hot), st.sampled_from(vocab))

    @settings(
        max_examples=20, deadline=None, derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        terms=st.lists(pool, min_size=1, max_size=5, unique=True),
        first=st.sampled_from(hot),
        unknown=st.one_of(st.none(), st.integers(0, 5)),
        k=st.sampled_from([1, 3, 10, 1000]),
    )
    def prop(terms, first, unknown, k):
        if first_hot:
            terms = [first] + [t for t in terms if t != first][:4]
        leaves = [Q.Term(t) for t in terms]
        if unknown is not None:
            leaves.insert(min(unknown, len(leaves)), Q.Term("zzz_unknown"))
        q = Q.Or(leaves) if len(leaves) > 1 else leaves[0]
        _assert_pruned_is_exhaustive(m, q, k)

    prop()


def test_wand_random_ors_equal_exhaustive(matcher):
    _check_random_ors(matcher)


def test_wand_random_ors_equal_exhaustive_tiered(tiered):
    _check_random_ors(tiered)


def test_wand_random_ors_equal_exhaustive_across_ranges(matcher, monkeypatch):
    """With a small per-task posting budget every query has R ≥ 3 docid
    ranges (its first term is one of the 20 hottest), and blocks straddle
    range edges: each range must still rank its docs' complete weights."""
    from pyspark.sql import functions as F

    from xapian_spark.operators import wand

    monkeypatch.setattr(wand, "DECODE_POSTINGS_PER_TASK", 40)
    hot, _ = _vocab(matcher)
    assert min(ts[0] for ts in matcher._term_stats(hot).values()) >= 80
    st_ = {}
    matcher._wand([(t, 1) for t in hot[:2]], 3, stats_out=st_).collect()
    blocks = matcher.index.postings.filter(F.col("term").isin(hot[:2])).count()
    assert st_["blocks_total"] > blocks, st_  # some block lies in several ranges
    _check_random_ors(matcher, first_hot=True)


def test_wand_prunes_blocks(spark, matcher, index, oracle):
    """On a hot-term query the surviving-block set must be smaller than the
    full block set (otherwise the kernel is a no-op)."""
    from pyspark.sql import functions as F

    terms = ["return", "binary_search"]
    stats = matcher._term_stats(terms)
    weights = {t: matcher._weight_for(t, 1, 1.0, stats) for t in terms}
    # run with tiny k → tight θ → pruning must engage on this corpus
    res = matcher.mset_df(Q.Or([Q.Term(t) for t in terms]), 3, prune=True)
    assert res.count() == 3
    # directly assert some block bound is below the achievable θ
    meta = (
        index.postings.filter(F.col("term").isin(terms))
        .select("term", "max_wdf", "min_doclen")
        .toPandas()
    )
    bounds = sorted(
        b
        for t in terms
        for b in weights[t].maxpart(
            meta.loc[meta.term == t, "max_wdf"].to_numpy(),
            meta.loc[meta.term == t, "min_doclen"].to_numpy(),
        )
    )
    assert len(meta) > 1 and bounds[0] < bounds[-1]  # bounds discriminate blocks


def test_impact_tiered_layout_prunes_and_stays_exact(tiered):
    """An index built with impact_tiers > 1 must (a) return the same top-k
    as the exhaustive path and (b) actually prune blocks on a hot single
    term — on the docid-ordered layout every block contains a high-impact
    posting and the measured prune rate is zero (see indexer docstring)."""
    m = tiered
    q = Q.Term("value")  # mid-Zipf: wdf spans the tier thresholds
    exact = [(r["doc_id"], round(r["weight"], 9)) for r in m.mset_df(q, 3).collect()]
    st = {}
    pruned = [
        (r["doc_id"], round(r["weight"], 9))
        for r in m._wand([("value", 1)], 3, stats_out=st).collect()
    ]
    assert exact == pruned
    assert st["blocks_pruned"] > 0, st


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
