"""LTR features, clustering, snippets (SURVEY.md §2.10 auxiliary systems)."""

import math

import pytest
from pyspark.sql import functions as F


def test_ltr_features_match_oracle_formulas(spark, index, oracle):
    from xapian_spark.operators.ltr import ltr_features

    terms = ["binary_search", "return"]
    feats = {r["doc_id"]: r for r in ltr_features(spark, index, terms).collect()}
    assert feats
    # verify f1/f2/f3 for a few docs against the oracle index
    n = oracle.ix.doccount
    checked = 0
    for d, row in list(feats.items())[:20]:
        f1 = f2 = f3 = 0.0
        for t in terms:
            plist = oracle.ix.postings.get(t, {})
            idf = math.log10(n / len(plist)) if plist else 0.0
            if d in plist:
                wdf = len(plist[d])
                dl = oracle.ix.doclens[d]
                f1 += math.log10(1 + wdf)
                f2 += math.log10(1 + wdf / (1 + dl))
            if plist:
                f3 += math.log10(1 + idf)
        # f3 sums over terms PRESENT in the doc in our impl
        assert abs(row["f1"] - f1) < 1e-9
        assert abs(row["f2"] - f2) < 1e-9
        checked += 1
    assert checked


def test_ltr_f6_is_bm25(spark, index, oracle):
    from xapian_spark.operators.ltr import ltr_features
    from xapian_spark.plans import query as Q

    terms = ["binary_search", "merge_sort"]
    feats = {r["doc_id"]: r["f6"] for r in ltr_features(spark, index, terms).collect()}
    want = dict(oracle.mset(Q.Or([Q.Term(t) for t in terms]), 10000))
    assert set(feats) == set(want)
    for d, w in want.items():
        assert abs(feats[d] - w) < 1e-9


def _mirror_lcd(oix, mrows, k, digits=4):
    """Pure-Python replay of LCDClusterer::cluster
    (cluster/lcd_clusterer.cc:62-153) over the oracle index — the same
    deterministic-replay pattern that pins kmeans."""
    import math

    order = [d for d, _ in sorted(mrows, key=lambda t: (-t[1], t[0]))]
    size = len(order)
    if size == 0:
        return {}
    k_ = min(k, size)
    docset = set(order)
    tfm = {
        t: sum(1 for d in pl if d in docset)
        for t, pl in oix.postings.items()
    }
    wts = {d: {} for d in order}
    for t, pl in oix.postings.items():
        if tfm[t] <= 1 or tfm[t] == size:
            continue
        for d, poss in pl.items():
            if d not in docset or len(poss) == 0:
                continue
            wts[d][t] = (1.0 + math.log(float(len(poss)))) * math.log(
                size / float(tfm[t])
            )
    mags = {d: sum(w * w for w in sorted(wts[d].values())) for d in order}

    def dist(c, p):
        if mags[c] == 0.0 or mags[p] == 0.0:
            return 0.0
        dot = sum(
            wts[c][t] * wts[p][t]
            for t in sorted(set(wts[c]) & set(wts[p]))
        )
        return round(1.0 - dot / math.sqrt(mags[c] * mags[p]), digits)

    rank = {d: i for i, d in enumerate(order)}
    n = k_ - size % k_
    x = size // k_ + 1
    remaining = list(order)
    center = remaining[0]
    out = {}
    for cnum in range(1, k_ + 1):
        num_points = x - 1 if cnum <= n else x
        cand = sorted(
            (d for d in remaining if d != center),
            key=lambda d: (dist(center, d), rank[d]),
        )
        members = cand[: num_points - 1] + [center]
        for d in members:
            out[d] = cnum - 1
        if cnum == k_:
            break
        remaining = [d for d in remaining if d not in set(members)]
        center = cand[-1]
    return out


def test_lcd_clusters_match_reference_replay(spark, index, matcher, oracle):
    """lcd_clusters vs the pure-Python lcd_clusterer.cc mirror: identical
    assignments, the reference's n·(x−1) + (k−n)·x size split, every mset
    doc in exactly one cluster."""
    from xapian_spark.operators.cluster import lcd_clusters
    from xapian_spark.plans import query as Q

    q = Q.Or([Q.Term("return"), Q.Term("binary_search")])
    res = matcher.mset(q, maxitems=30)
    mrows = [(r["doc_id"], r["weight"]) for r in res.df.collect()]
    size = len(mrows)
    assert size >= 10

    for k in (4, 7, size + 5):
        got = {
            r["doc_id"]: r["cluster"]
            for r in lcd_clusters(
                spark, index, res.df, k, round_digits=4
            ).collect()
        }
        want = _mirror_lcd(oracle.ix, mrows, k)
        assert got == want, f"k={k}"
        k_ = min(k, size)
        n, x = k_ - size % k_, size // k_ + 1
        sizes = sorted(
            sum(1 for c in got.values() if c == j) for j in range(k_)
        )
        assert sizes == sorted([x - 1] * n + [x] * (k_ - n))
        assert set(got) == {d for d, _ in mrows}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lcd_clusters(spark, index, res.df, 0)


def test_snippet_highlights():
    from xapian_spark.functions.snippet import make_snippet

    text = "the binary_search function scans a sorted array for the key"
    s = make_snippet(text, {"binary_search": 2.0, "key": 1.0}, length=200)
    assert "<b>binary_search</b>" in s and "<b>key</b>" in s
    # tokenizer-aware highlighting
    assert "<b>C++</b>" in make_snippet("C++ rocks", ["c++"])
    # truncation adds ellipses
    long = ("filler " * 50) + "needle " + ("filler " * 50)
    s2 = make_snippet(long, ["needle"], length=40)
    assert "<b>needle</b>" in s2 and s2.startswith("...") and s2.endswith("...")
    assert make_snippet("", ["x"]) == ""


def test_snippets_for_mset(spark, index, matcher, corpus):
    from xapian_spark.functions.snippet import snippets_for_mset
    from xapian_spark.plans import query as Q

    top = matcher.mset_df(Q.Term("binary_search"), 5)
    out = snippets_for_mset(
        spark, top, corpus.select("doc_id", "content"), ["binary_search"]
    ).collect()
    assert len(out) == 5
    assert all("<b>binary_search</b>" in r["snippet"] for r in out)


def test_listnet_sgd_learns_ranking(spark):
    """ListNET (listnet_ranker.cc): after training on lists where label
    correlates with feature 0, the model ranks high-label docs first."""
    from xapian_spark.operators.ltr import listnet_rank, listnet_train_sgd

    train = [
        [(2.0, [3.0, 0.1]), (1.0, [2.0, 0.3]), (0.0, [0.5, 0.2])],
        [(2.0, [2.8, 0.2]), (0.0, [0.3, 0.1]), (1.0, [1.9, 0.4])],
        [(1.0, [2.1, 0.3]), (0.0, [0.4, 0.5])],
    ]
    w = listnet_train_sgd(train, learning_rate=0.01, iterations=50)
    assert w[0] > 0  # feature 0 is the signal
    df = spark.createDataFrame(
        [(1, 10, [3.0, 0.1]), (1, 11, [0.5, 0.2]), (1, 12, [2.0, 0.3])],
        "qid int, doc_id long, features array<double>",
    )
    ranked = {r["doc_id"]: r["rank"] for r in listnet_rank(df, w).collect()}
    assert ranked[10] == 1 and ranked[11] == 3


def test_listnet_distributed_matches_direction(spark):
    """Batch-gradient variant converges to the same ranking direction."""
    from xapian_spark.operators.ltr import listnet_train

    rows = []
    for q in range(4):
        rows += [
            (q, 2.0, [3.0 + q * 0.1, 0.1]),
            (q, 1.0, [2.0, 0.3]),
            (q, 0.0, [0.4, 0.2]),
        ]
    df = spark.createDataFrame(rows, "qid int, label double, features array<double>")
    w = listnet_train(df, n_features=2, learning_rate=0.01, iterations=25)
    assert w[0] > 0 and abs(w[0]) > abs(w[1])


def test_multivalue_keymaker_sort(spark, matcher):
    from xapian_spark.plans import query as Q

    res = matcher.mset(
        Q.Term("return"), maxitems=10,
        sort_by_keys=[("lang", False), ("path", True)],
    )
    rows = res.df.collect()
    assert len(rows) > 0
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_listmle_learns_and_leaves_last_param(spark):
    from xapian_spark.operators.ltr import listmle_train_sgd

    train = [
        [(2.0, [3.0, 0.1, 1.0]), (1.0, [2.0, 0.3, 1.0]), (0.0, [0.5, 0.2, 1.0])],
        [(2.0, [2.8, 0.2, 1.0]), (0.0, [0.3, 0.1, 1.0])],
    ]
    w = listmle_train_sgd(train, learning_rate=0.01, iterations=50)
    assert w[0] > 0
    # reference quirk mirrored: gradient loops exclude the last feature
    assert w[2] == 0.0


def test_snippet_edge_rules():
    """SnipPipe drain edge semantics (termgenerator_internal.cc:611-730):
    sentence-boundary ellipsis, trailing sentence punctuation, XML escape."""
    from xapian_spark.functions.snippet import make_snippet

    from xapian_spark.functions.snippet import _is_sentence_start

    # whole text fits → zero-weight words extend the window (pump's >=),
    # no omit markers at either edge
    assert make_snippet("needle in a stack", ["needle"], length=200) == (
        "<b>needle</b> in a stack"
    )
    # mid-text window → leading omit; mid-sentence cut → trailing omit
    long_head = "word " * 60
    s2 = make_snippet(long_head.rstrip() + " needle here", ["needle"], length=20)
    assert s2.startswith("...")
    s4 = make_snippet("the needle sits here" + " filler" * 60, ["needle"], length=25)
    assert s4.endswith("...")
    # sentence-ending punctuation stays in the window but OUTSIDE the
    # highlight (drain():721-744 — hi_end right after term_end)
    s3 = make_snippet("the needle sits." + " filler" * 60, ["sits"], length=40)
    assert "<b>sits</b>." in s3
    # leading punctuation likewise outside; +/# suffixes stay inside
    assert "(<b>needle</b>)," in make_snippet("see (needle), ok", ["needle"])
    assert "<b>C++</b>" in make_snippet("C++ rocks", ["c++"])
    # drain's sentence_boundary scan: start-of-text and after ". " are
    # sentence starts; mid-sentence is not
    assert _is_sentence_start("a. b", 0)
    assert _is_sentence_start("end. next", 5)
    assert not _is_sentence_start("plain words", 6)
    # document ending right at the window end → no trailing omit
    assert not make_snippet("find the needle", ["needle"], length=200).endswith("...")
    # XML escaping like append_escaping_xml
    s5 = make_snippet("a < b & c > d needle", ["needle"], length=200)
    assert "&lt;" in s5 and "&amp;" in s5 and "&gt;" in s5


def test_snippet_decay_prefers_distinct_terms():
    """pump()'s DECAY=2.0: repeats of one term contribute geometrically
    less, so a window holding BOTH query terms beats one stuffed with
    four copies of a single term (4 × needle sums 1+½+¼+⅛ < 1+1)."""
    from xapian_spark.functions.snippet import make_snippet

    text = (
        ("pad " * 30)
        + "needle needle needle needle "
        + ("pad " * 30)
        + "needle thread "
        + ("pad " * 30)
    )
    s = make_snippet(text, {"needle": 1.0, "thread": 1.0}, length=30)
    assert "thread" in s


def test_snippet_phrase_pegging():
    """pump()'s phrase pegging (termgenerator_internal.cc:447-463): a
    completed exact phrase contributes max_tw * n_terms relevance pegged
    onto its FIRST word, and the whole phrase is wrapped in one hi pair
    (drain()'s phrase_len, :731-744)."""
    from xapian_spark.functions.snippet import make_snippet

    # the phrase occurrence outranks scattered constituent words
    text = (
        ("pad " * 30)
        + "hello pad world pad hello "
        + ("pad " * 30)
        + "say hello world today "
        + ("pad " * 30)
    )
    s = make_snippet(text, {}, length=30, phrases=[["hello", "world"]])
    assert "<b>hello world</b>" in s
    # scattered constituents are NOT highlighted (no loose terms in query)
    assert s.count("<b>") == 1

    # a 3-term phrase wraps all three words in one pair
    s3 = make_snippet(
        "alpha beta gamma delta", {}, length=200,
        phrases=[["beta", "gamma", "delta"]],
    )
    assert "<b>beta gamma delta</b>" in s3

    # phrase + loose query: the loose term still highlights on its own,
    # the phrase occurrence highlights as a unit
    s4 = make_snippet(
        "hello there and hello world again", {"hello": 1.0}, length=200,
        phrases=[["hello", "world"]],
    )
    assert "<b>hello</b> there" in s4
    assert "<b>hello world</b>" in s4

    # incomplete phrase (wrong order) does not match
    s5 = make_snippet(
        "world hello pad", {}, length=200, phrases=[["hello", "world"]]
    )
    assert "<b>" not in s5


def test_snippet_terms_extraction():
    """check_query analog (termgenerator_internal.cc:751-803): tight
    OP_PHRASE of terms -> phrase; everything else -> loose terms."""
    from xapian_spark.functions.snippet import snippet_terms
    from xapian_spark.plans import query as Q

    q = Q.Or(
        [
            Q.Phrase([Q.Term("hello"), Q.Term("world")]),
            Q.Term("greeting"),
            Q.AndNot(Q.Term("kept"), Q.Term("negated")),
        ]
    )
    loose, phrases = snippet_terms(q, {"greeting": 2.5})
    assert phrases == [["hello", "world"]]
    assert loose["greeting"] == 2.5 and loose["kept"] == 1.0
    # a LOOSE phrase (window > n_subqs) decomposes into loose terms
    loose2, phrases2 = snippet_terms(
        Q.Phrase([Q.Term("a"), Q.Term("b")], window=5)
    )
    assert phrases2 == [] and set(loose2) == {"a", "b"}


def test_snippet_background_model(index):
    """SNIPPET_BACKGROUND_MODEL (termgenerator_internal.cc snippet():
    995-1030): rare corpus terms get positive relevance, near-ubiquitous
    ones negative, and the window follows informative text even when no
    query term matches."""
    import math

    from xapian_spark.functions.snippet import background_tf, make_snippet

    # formula: with N = size+1, tf=1 -> positive; tf close to N -> negative
    bg = {"rareword": 1, "the": 300}
    n = 1000
    length = 30
    max_tw = 1.0
    r_rare = max_tw * math.log((n + 1 - 1) / 1) / ((length + 1) * math.log(n + 1))
    assert r_rare > 0
    r_hot = max_tw * math.log((n + 1 - 990) / 990) / ((length + 1) * math.log(n + 1))
    assert r_hot < 0  # near-ubiquitous terms repel the window

    # no query match: the window lands on the rare word, not the doc lead
    text = ("the the the " * 10) + "rareword here " + ("the the the " * 10)
    s = make_snippet(
        text, ["absent_term"], length=length,
        background=bg, collection_size=n,
    )
    assert "rareword" in s
    assert "<b>" not in s  # background words are never highlighted
    # without background: falls back to the document lead
    s2 = make_snippet(text, ["absent_term"], length=length)
    assert "rareword" not in s2

    # helper builds (tf dict, doccount) from the index for given texts
    tf, size = background_tf(index, ["binary_search the"])
    assert size == index.stats["doccount"]
    assert tf.get("binary_search", 0) >= 1


def test_snippet_non_exhaustive_early_stop():
    """pump():505-511: with exhaustive=False the sweep stops once a
    scoring window exists and the scan has moved past it, so a better
    match later in the document is not found; exhaustive=True finds it."""
    from xapian_spark.functions.snippet import make_snippet

    text = (
        "needle alone here " + ("pad " * 40)
        + "needle needle thread " + ("pad " * 10)
    )
    terms = {"needle": 1.0, "thread": 1.0}
    s_ex = make_snippet(text, terms, length=25)
    assert "thread" in s_ex  # exhaustive finds the richer window
    s_ne = make_snippet(text, terms, length=25, exhaustive=False)
    assert "thread" not in s_ne and "<b>needle</b>" in s_ne


def test_snippet_stem_retry():
    """check_term's second try (snippet():948-962): a Zstem query term
    highlights the document's unstemmed word when a stemmer is given."""
    from xapian_spark.functions.snippet import make_snippet
    from xapian_spark.functions.stemmers import get_stemmer

    en = get_stemmer("en")
    assert en("running") == "run"
    s = make_snippet(
        "we are running fast", {"Zrun": 2.0}, stemmer=en
    )
    assert "<b>running</b>" in s
    # without the stemmer the Zstem term cannot match
    s2 = make_snippet("we are running fast", {"Zrun": 2.0})
    assert "<b>" not in s2


def test_snippet_phrase_ring_token_accurate():
    """The phrase ring holds one entry per TERM like the reference's
    one-term-per-word pipe (snippet():907-946): a phrase cannot skip an
    intervening token of a multi-token run, but CAN complete across (or
    inside) a run whose tokens are consecutive in emission order."""
    from xapian_spark.functions.snippet import make_snippet

    # "foo-bar" tokenizes to foo, bar — "foo baz" is NOT consecutive
    # (bar intervenes), so the phrase must not match
    s = make_snippet(
        "pad foo-bar baz pad", {}, length=200, phrases=[["foo", "baz"]]
    )
    assert "<b>" not in s

    # but ["bar", "baz"] IS consecutive across the run boundary
    s2 = make_snippet(
        "pad foo-bar baz pad", {}, length=200, phrases=[["bar", "baz"]]
    )
    assert "<b>foo-bar baz</b>" in s2

    # and a phrase completing entirely INSIDE one run highlights that run
    s3 = make_snippet(
        "pad foo-bar pad", {}, length=200, phrases=[["foo", "bar"]]
    )
    assert "<b>foo-bar</b>" in s3

    # three terms spanning two runs: ring lookback crosses runs in order
    s4 = make_snippet(
        "pad alpha-beta gamma pad", {}, length=200,
        phrases=[["alpha", "beta", "gamma"]],
    )
    assert "<b>alpha-beta gamma</b>" in s4


def test_ndcg_err_scalar_pinned():
    """NDCG/ERR scorers pinned to hand-computed values on a small ranking
    (xapian-letor/scorer/{ndcg,err}_score.cc parity)."""
    import math

    from xapian_spark.operators.ltr import err_score, ndcg_score

    # ranking labels in model order: [3, 2, 3, 0, 1, 2]  (classic example)
    labels = [3.0, 2.0, 3.0, 0.0, 1.0, 2.0]
    dcg = sum((2**v - 1) / math.log2(i + 2) for i, v in enumerate(labels))
    ideal = sorted(labels, reverse=True)
    idcg = sum((2**v - 1) / math.log2(i + 2) for i, v in enumerate(ideal))
    assert abs(ndcg_score(labels) - dcg / idcg) < 1e-12
    assert ndcg_score([0.0, 0.0]) == 0.0  # dcg==0 guard (no divide)
    assert ndcg_score(ideal) == 1.0

    # ERR by direct sequential computation (Chapelle alg. 2, 2^max norm)
    mx = 2.0**3
    p, want = 1.0, 0.0
    for rank, v in enumerate(labels, 1):
        r = (2.0**v - 1) / mx
        want += p * r / rank
        p *= 1 - r
    assert abs(err_score(labels) - want) < 1e-12
    assert err_score([]) == 0.0


def test_ndcg_err_df_match_scalar(spark):
    """Distributed per-query scorers == scalar loop per query, including a
    query containing a maximally-relevant doc (rel_p == 1 saturation)."""
    from xapian_spark.operators.ltr import err_df, err_score, ndcg_df, ndcg_score

    rows = []
    per_query = {
        0: [(3.0, 9.0), (1.0, 7.0), (2.0, 5.0), (0.0, 1.0)],
        1: [(2.0, 8.0), (2.0, 6.0), (1.0, 4.0)],
        2: [(0.0, 3.0), (0.0, 2.0)],  # all-zero labels → ndcg 0
    }
    for qid, lvs in per_query.items():
        rows += [(qid, l, s) for l, s in lvs]
    df = spark.createDataFrame(rows, "query_id long, label double, score double")
    got_n = {r["query_id"]: r["ndcg"] for r in ndcg_df(df).collect()}
    got_e = {r["query_id"]: r["err"] for r in err_df(df).collect()}
    for qid, lvs in per_query.items():
        ordered = [l for l, _ in sorted(lvs, key=lambda x: (-x[1], x[0]))]
        assert abs(got_n[qid] - ndcg_score(ordered)) < 1e-9, qid
        assert abs(got_e[qid] - err_score(ordered)) < 1e-9, qid


def test_value_posting_sources(spark, index, matcher):
    """The four named value-slot PostingSources
    (include/xapian/postingsource.h:428-709) vs pointwise python."""
    from xapian_spark.operators.postingsource import (
        decreasing_value_weight_source,
        fixed_weight_source,
        value_map_source,
        value_weight_source,
    )
    from xapian_spark.plans import query as Q

    docs = index.docs  # value slot here: the doc_len column
    want = {r["doc_id"]: float(r["doc_len"]) for r in docs.collect()}

    got = {r["doc_id"]: r["weight"] for r in value_weight_source(docs, "doc_len").collect()}
    assert got == want

    got = {
        r["doc_id"]: r["weight"]
        for r in decreasing_value_weight_source(
            docs, "doc_len", range_start=10, range_end=50
        ).collect()
    }
    assert got == {d: v for d, v in want.items() if 10 <= d <= 50}

    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    some_lang = sorted(set(langs.values()))[0]
    mapping = {some_lang: 2.0}
    got = {
        r["doc_id"]: r["weight"]
        for r in value_map_source(docs, "lang", mapping, default_weight=0.25).collect()
    }
    assert got == {d: mapping.get(v, 0.25) for d, v in langs.items()}

    got = {r["doc_id"]: r["weight"] for r in fixed_weight_source(docs, 1.5).collect()}
    assert set(got.values()) == {1.5} and set(got) == set(want)

    # plugs into the matcher: AND_MAYBE boost changes ranking determinately
    src = value_weight_source(docs, "doc_len")
    q = Q.AndMaybe(Q.Term("return"), Q.ScaleWeight(Q.PostingSource(src), 0.001))
    rows = matcher.mset_df(q, 5).collect()
    base = {r["doc_id"]: r["weight"] for r in matcher.mset_df(Q.Term("return"), 10000).collect()}
    assert rows
    for r in rows:
        assert abs(r["weight"] - (base[r["doc_id"]] + want[r["doc_id"]] * 0.001)) < 1e-9


def test_value_weight_source_binary_slot(spark):
    """BINARY slots holding sortable_serialise bytes are unserialised
    (postingsource.cc ValueWeightPostingSource::get_weight parity)."""
    from xapian_spark.functions.sortable import sortable_serialise
    from xapian_spark.operators.postingsource import value_weight_source

    vals = [0.0, 1.5, 42.25, 1e9]
    df = spark.createDataFrame(
        [(i, bytearray(sortable_serialise(v))) for i, v in enumerate(vals)]
        + [(99, None)],
        "doc_id long, slot binary",
    )
    got = {r["doc_id"]: r["weight"] for r in value_weight_source(df, "slot").collect()}
    assert got == {i: v for i, v in enumerate(vals)}  # null slot skipped


def test_ranker_evaluation_loop_ndcg(spark):
    """The reference's letor evaluation loop (train → rank → score):
    ListNET-ranked output evaluated with the NDCG scorer; the trained
    ranker must beat a deliberately-inverted one."""
    from xapian_spark.operators.ltr import (
        listnet_rank,
        listnet_train_sgd,
        ndcg_df,
    )

    # label correlates with feature 0, anti-correlates with feature 1
    lists = []
    rows = []
    did = 0
    for q in range(6):
        qlist = []
        for i in range(8):
            label = float(i % 4)
            f = [label + 0.1 * ((did * 7) % 3), 3.0 - label]
            qlist.append((label, f))
            rows.append((q, did, label, f))
            did += 1
        lists.append(qlist)
    w = listnet_train_sgd(lists, iterations=30, learning_rate=0.05)
    df = spark.createDataFrame(
        rows, "qid long, doc_id long, label double, features array<double>"
    )
    ranked = listnet_rank(df, w)
    good = (
        ndcg_df(ranked, query_col="qid", label_col="label", score_col="score")
        .agg({"ndcg": "avg"})
        .first()[0]
    )
    bad = (
        ndcg_df(
            listnet_rank(df, [-x for x in w]),
            query_col="qid", label_col="label", score_col="score",
        )
        .agg({"ndcg": "avg"})
        .first()[0]
    )
    assert 0.0 < bad < good <= 1.0
