"""Engine vs pure-Python oracle: exact MSet equality (docids exact, weights
to 1e-9) across the full operator surface — the api_anydb.cc analog."""

import pytest

from tests.conftest import assert_mset_equal
from xapian_spark.plans import query as Q

QUERIES = {
    "single": Q.Term("binary_search"),
    "single_hot": Q.Term("return"),  # indexes >half the corpus → tw<2 branch
    "or2": Q.Or([Q.Term("binary_search"), Q.Term("merge_sort")]),
    "or4": Q.Or(
        [Q.Term("return"), Q.Term("posting_list"), Q.Term("error"), Q.Term("index")]
    ),
    "and": Q.And([Q.Term("return"), Q.Term("binary_search")]),
    "and3": Q.And([Q.Term("return"), Q.Term("if"), Q.Term("value")]),
    "andnot": Q.AndNot(Q.Term("return"), Q.Term("if")),
    "filter": Q.Filter(Q.Term("binary_search"), Q.Term("return")),
    "andmaybe": Q.AndMaybe(Q.Term("binary_search"), Q.Term("return")),
    "xor": Q.Xor([Q.Term("return"), Q.Term("if")]),
    "max": Q.MaxOp([Q.Term("binary_search"), Q.Term("merge_sort")]),
    "synonym": Q.Synonym([Q.Term("binary_search"), Q.Term("merge_sort")]),
    "missing_term": Q.Term("zzz_not_there"),
    "or_with_missing": Q.Or([Q.Term("binary_search"), Q.Term("zzz_not_there")]),
    "phrase2": Q.Phrase([Q.Term("binary_search"), Q.Term("merge_sort")]),
    "phrase_win": Q.Phrase([Q.Term("return"), Q.Term("value")], window=4),
    "near": Q.Near([Q.Term("binary_search"), Q.Term("return")], window=5),
    "wildcard_syn": Q.Wildcard("bin*", combiner="synonym"),
    "wildcard_or": Q.Wildcard("pars?_query", combiner="or"),
    "scale": Q.ScaleWeight(Q.Term("binary_search"), 2.5),
    "elite": Q.EliteSet(
        [Q.Term("binary_search"), Q.Term("return"), Q.Term("merge_sort")], n=2
    ),
    "nested": Q.AndNot(
        Q.Or([Q.Term("binary_search"), Q.Term("merge_sort")]), Q.Term("error")
    ),
    "deep": Q.Filter(
        Q.Or([Q.Term("posting_list"), Q.Term("term_freq")]),
        Q.Or([Q.Term("return"), Q.Term("if")]),
    ),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_mset_matches_oracle(name, matcher, oracle):
    q = QUERIES[name]
    got = matcher.mset_df(q, 10).collect()
    want = oracle.mset(q, 10)
    assert_mset_equal(got, want)


REPEATED_POSITIONAL = {
    "phrase_aba": Q.Phrase([Q.Term("return"), Q.Term("error"), Q.Term("return")]),
    "phrase_aba_win": Q.Phrase(
        [Q.Term("return"), Q.Term("error"), Q.Term("return")], window=6
    ),
    "near_aab": Q.Near([Q.Term("return"), Q.Term("return"), Q.Term("error")]),
    "near_aab_win": Q.Near(
        [Q.Term("return"), Q.Term("return"), Q.Term("error")], window=6
    ),
}


@pytest.mark.parametrize("name", sorted(REPEATED_POSITIONAL))
def test_repeated_term_positional_matches_oracle(name, matcher, oracle):
    """A repeated term fills one window slot per occurrence and adds its
    weight once per occurrence: [a, b, a] weighs w_a + w_b + w_a, like the
    oracle's AND."""
    q = REPEATED_POSITIONAL[name]
    want = oracle.mset(q, 10)
    assert want, "corpus must match the query for the check to bite"
    assert_mset_equal(matcher.mset_df(q, 10).collect(), want)


SET_TERMS = ["return", "posting_list", "error", "index"]


@pytest.mark.parametrize("op", [Q.Or, Q.And, Q.Xor, Q.MaxOp], ids=lambda o: o.__name__)
def test_term_children_share_one_decode(op, matcher):
    """The distinct Term children of an OR/AND/XOR/MAX node are lowered onto
    ONE decode_blocks call, not one decode per leaf."""
    q = op([Q.Term(t) for t in SET_TERMS])
    plan = matcher.matches(q)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas _decode(") == 1, plan


def test_term_set_decode_sized_by_postings(matcher, index, monkeypatch):
    """An OR of 4 terms over a few hundred postings decodes on one
    partition; at one posting per task the decode keeps every partition of
    the postings scan."""
    from pyspark.sql import functions as F

    from xapian_spark.operators import matcher as matcher_mod

    children = [Q.Term(t) for t in SET_TERMS]
    stats = matcher._term_stats(SET_TERMS)
    scan = index.postings.filter(F.col("term").isin(SET_TERMS)).rdd.getNumPartitions()
    assert scan > 1
    assert matcher._union_children(children, 1.0, stats).rdd.getNumPartitions() == 1
    monkeypatch.setattr(matcher_mod, "DECODE_POSTINGS_PER_TASK", 1)
    assert matcher._union_children(children, 1.0, stats).rdd.getNumPartitions() == scan


def test_match_counts(matcher, oracle):
    for name in ["single", "or2", "and", "andnot", "xor"]:
        q = QUERIES[name]
        assert matcher.count_matches(q) == oracle.count(q), name


def test_topk_prefix_property(matcher, oracle):
    """soaktest invariant (soaktest_queries.cc:203-240): top-1 and top-10
    are prefixes of the full ranking."""
    q = QUERIES["or4"]
    full = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, 1000).collect()]
    top1 = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, 1).collect()]
    top10 = [(r["doc_id"], r["weight"]) for r in matcher.mset_df(q, 10).collect()]
    assert full[:1] == top1
    assert full[:10] == top10


def test_mset_api_pagination(matcher, oracle):
    q = QUERIES["or2"]
    want = oracle.mset(q, 10)
    res = matcher.mset(q, maxitems=5, first=2, with_count=True)
    rows = res.df.collect()
    assert [(r["rank"], r["doc_id"]) for r in rows] == [
        (i + 3, want[i + 2][0]) for i in range(5)
    ]
    assert res.matches == oracle.count(q)


def test_empty_and_matchall(matcher, oracle, index):
    assert matcher.mset_df(Q.MatchNothing(), 10).count() == 0
    # MatchAll: all docs, weight 0, tie-break docid asc
    rows = matcher.mset_df(Q.MatchAll(), 5).collect()
    assert [r["doc_id"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["weight"] == 0.0 for r in rows)


def test_value_range(matcher, index):
    # OP_VALUE_RANGE on a docs column (boolean, weight 0)
    got = matcher.mset_df(Q.ValueRange("lang", "python", "python"), 1000).collect()
    want = index.docs.filter("lang = 'python'").count()
    assert len(got) == want
    assert all(r["weight"] == 0.0 for r in got)
