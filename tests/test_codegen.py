"""A query on other terms reuses the generated code of its shape.

Per-term constants reach the plan as data (a map keyed by the row's term),
not as double literals inlined into the generated Java, so a second query
of the same shape on other terms compiles no class: the session's codegen
cache already holds every class it needs.  The count is Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME``, one sample per Janino compile.
"""

from __future__ import annotations

import pytest

from xapian_spark.plans import query as Q

T, O = Q.Term, Q.Or

#: shape → (warm-up query, query of the same shape on other terms); the
#: terms are disjoint, so both queries look up as many dictionary rows
SHAPES = {
    "term": (T("binary_search"), T("merge_sort")),
    "or": (O([T("hash_table"), T("build_index")]), O([T("linked_list"), T("term_freq")])),
    "and": (Q.And([T("return"), T("if")]), Q.And([T("def"), T("int")])),
    "andnot": (
        Q.AndNot(T("for"), T("write_chunk")),
        Q.AndNot(T("read_block"), T("get_weight")),
    ),
    "phrase": (Q.Phrase([T("if"), T("return")]), Q.Phrase([T("def"), T("self")])),
    "synonym": (
        Q.Synonym([T("skip_to"), T("tree_node")]),
        Q.Synonym([T("append"), T("value")]),
    ),
    "count": (
        O([T("posting_list"), T("doc_length")]),
        O([T("next_item"), T("parse_query")]),
    ),
}
WAND = (
    O([T("return"), T("if"), T("binary_search")]),
    O([T("def"), T("self"), T("merge_sort")]),
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _second_query_compiles(spark, run, first, second) -> int:
    run(first)
    before = _compiles(spark)
    run(second)
    return _compiles(spark) - before


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_same_shape_on_other_terms_compiles_nothing(shape, spark, index):
    from xapian_spark.operators.matcher import Matcher

    m = Matcher(spark, index)  # its own dictionary-stats memo

    def run(q):
        res = m.mset(q, maxitems=10, with_count=shape == "count")
        res.df.collect()

    assert _second_query_compiles(spark, run, *SHAPES[shape]) == 0


def test_wand_on_other_terms_compiles_nothing(spark, index):
    from xapian_spark.operators.matcher import Matcher

    m = Matcher(spark, index)

    def run(q):
        m.mset_df(q, 10, prune=True).collect()
        assert m.last_prune_decision == "pruned"

    assert _second_query_compiles(spark, run, *WAND) == 0


def test_lm_synonym_on_other_terms_compiles_nothing(spark, index):
    """A language-model scheme's init reads the synonym's merged collfreq:
    the second query compiled 2 classes while that sum was a long literal
    in the plan."""
    from xapian_spark.functions.weights import LMJMScheme
    from xapian_spark.operators.matcher import Matcher

    m = Matcher(spark, index, scheme=LMJMScheme())

    def run(q):
        m.mset(q, maxitems=10).df.collect()

    assert _second_query_compiles(spark, run, *SHAPES["synonym"]) == 0
