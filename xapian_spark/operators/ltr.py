"""Learning-to-rank feature extraction (xapian-letor parity, SURVEY.md §2.10).

The reference ships 6 feature classes over (tf, idf, doclen, collection
tf/len) (xapian-letor/include/xapian-letor/feature.h:129-222) computed per
(query, document) and fed to ListNET/ListMLE rankers.  Here the features
are one DataFrame expression pass over decoded candidate postings — the
output table plugs into any Spark MLlib ranker/regressor.

Formulas (whole-document variants; the reference additionally splits by
title/body prefix, which the code-corpus schema does not use):
  f1 TfFeature            Σ_q log10(1 + wdf)            (tffeature.cc:64)
  f2 TfDoclenFeature      Σ_q log10(1 + wdf/(1+len))    (tfdoclenfeature.cc:65)
  f3 IdfFeature           Σ_q log10(1 + idf)            (idffeature.cc:64)
  f4 CollTfCollLenFeature Σ_q log10(1 + cf/(1+L))       (colltfcolllenfeature.cc)
  f5 TfIdfDoclenFeature   Σ_q log10(1 + wdf/(1+len)·idf)
  f6 BM25 score (the engine's exact BM25 weight as a feature)
with idf = log10(N / termfreq).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.weights import BM25Scheme
from ..session import local_df
from .indexer import IndexTables
from .matcher import Matcher


def ltr_features(
    spark,
    index: IndexTables,
    query_terms: list[str],
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, f1..f6) for every candidate doc (default: docs matching any
    query term — the OR candidate set, like letor's MSet input)."""
    m = Matcher(spark, index)
    stats = m._term_stats(query_terms)
    known = [t for t in dict.fromkeys(query_terms) if t in stats]
    if not known:
        return local_df(
            spark, [], "doc_id long, f1 double, f2 double, f3 double, f4 double, f5 double, f6 double"
        )
    n = float(index.stats["doccount"])
    total_len = float(index.stats["total_length"])
    consts = local_df(
        spark,
        [
            (
                t,
                math.log10(n / stats[t][0]),  # idf
                math.log10(1.0 + stats[t][1] / (1.0 + total_len)),  # f4 addend
                m._weight_for(t, 1, 1.0, stats).termweight
                if isinstance(m.scheme, BM25Scheme)
                else 0.0,
            )
            for t in known
        ],
        "term string, idf double, f4add double, tw double",
    )
    dec = m._decoded_for_terms(known).join(F.broadcast(consts), "term")
    wdf = F.col("wdf").cast("double")
    dlen = F.col("doc_len").cast("double")
    tf_norm = wdf / (F.lit(1.0) + dlen)
    bm25 = m.scheme.init(
        termfreq=1, collfreq=1, stats=index.stats, wqf=1, factor=1.0
    )  # only for len_factor/params shape
    per = dec.select(
        "doc_id",
        F.log10(F.lit(1.0) + wdf).alias("x1"),
        F.log10(F.lit(1.0) + tf_norm).alias("x2"),
        F.log10(F.lit(1.0) + F.col("idf")).alias("x3"),
        F.col("f4add").alias("x4"),
        F.log10(F.lit(1.0) + tf_norm * F.col("idf")).alias("x5"),
    )
    feats = per.groupBy("doc_id").agg(
        F.sum("x1").alias("f1"),
        F.sum("x2").alias("f2"),
        F.sum("x3").alias("f3"),
        F.sum("x4").alias("f4"),
        F.sum("x5").alias("f5"),
    )
    # f6: the exact BM25 score
    from ..plans import query as Q

    scores = m.matches(Q.Or([Q.Term(t) for t in known])).withColumnRenamed(
        "weight", "f6"
    )
    out = feats.join(scores, "doc_id", "left").fillna({"f6": 0.0})
    if candidates is not None:
        out = out.join(candidates.select("doc_id"), "doc_id", "left_semi")
    return out


# ---------------------------------------------------------------------------
# ListNET ranker (xapian-letor/ranker/listnet_ranker.cc; Cao et al. 2007,
# "Learning to rank: from pairwise approach to listwise approach") — a
# linear model trained with top-1 softmax cross-entropy.
# ---------------------------------------------------------------------------


def _softmax_prob(vals: list[float]) -> list[float]:
    es = [math.exp(v) for v in vals]
    s = sum(es)
    return [e / s for e in es]


def listnet_train_sgd(
    training_data: list[list[tuple[float, list[float]]]],
    learning_rate: float = 0.001,
    iterations: int = 15,
) -> list[float]:
    """Faithful ListNETRanker::train (listnet_ranker.cc:127-160): per-query
    sequential SGD, parameters updated after EACH query list, gradients
    normalized by list size.  ``training_data``: per query, a list of
    (label, fvals).  Driver-side — the reference's training sets are small;
    use listnet_train() for the distributed batch variant."""
    if not training_data or not training_data[0]:
        raise ValueError("Cannot train: no training data")
    fcount = len(training_data[0][0][1])
    w = [0.0] * fcount
    for _ in range(iterations):
        for qlist in training_data:
            prob_y = _softmax_prob([label for label, _ in qlist])
            prob_z = _softmax_prob(
                [sum(wi * x for wi, x in zip(w, f)) for _, f in qlist]
            )
            grad = [0.0] * fcount
            for i, (_, fvals) in enumerate(qlist):
                for k in range(fcount):
                    grad[k] += (-prob_y[i] + prob_z[i]) * fvals[k]
            n = len(qlist)
            for k in range(fcount):
                w[k] -= learning_rate * (grad[k] / n)
    return w


def listnet_train(
    df: DataFrame,
    n_features: int,
    learning_rate: float = 0.001,
    iterations: int = 15,
    qid_col: str = "qid",
    label_col: str = "label",
    features_col: str = "features",
) -> list[float]:
    """Distributed ListNET: batch gradient per iteration (all queries'
    gradients computed against the SAME parameters, then averaged) — one
    Spark aggregation per iteration, so training scales to any number of
    query lists.  Deliberate divergence from the reference's per-query SGD
    update order (documented; same objective, same fixed point family).

    ``df``: (qid, label double, features array<double>).  Returns the
    parameter vector."""
    w = [0.0] * n_features

    def dot_col(params: list[float]):
        p = F.array(*[F.lit(float(x)) for x in params])
        return F.aggregate(
            F.zip_with(F.col(features_col), p, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    n_queries = df.select(qid_col).distinct().count()
    for _ in range(iterations):
        scored = df.withColumn("_z", dot_col(w))
        per_q = scored.groupBy(qid_col).agg(
            F.sum(F.exp(F.col(label_col))).alias("_sy"),
            F.sum(F.exp(F.col("_z"))).alias("_sz"),
            F.count("*").alias("_n"),
        )
        j = scored.join(F.broadcast(per_q), qid_col)
        coeff = (
            F.exp(F.col("_z")) / F.col("_sz")
            - F.exp(F.col(label_col)) / F.col("_sy")
        ) / F.col("_n").cast("double")
        grad_rows = (
            j.select(coeff.alias("_c"), F.posexplode(features_col).alias("k", "x"))
            .groupBy("k")
            .agg(F.sum(F.col("_c") * F.col("x")).alias("g"))
            .collect()
        )
        grad = [0.0] * n_features
        for r in grad_rows:
            grad[r["k"]] = float(r["g"])
        w = [wi - learning_rate * g for wi, g in zip(w, grad)]
    return w


def listnet_rank(
    df: DataFrame,
    params: list[float],
    qid_col: str = "qid",
    features_col: str = "features",
) -> DataFrame:
    """Score = w·features; rank per query (DESC, doc_id ASC tie-break)."""
    from pyspark.sql import Window

    p = F.array(*[F.lit(float(x)) for x in params])
    score = F.aggregate(
        F.zip_with(F.col(features_col), p, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = df.withColumn("score", score)
    win = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(win))


def listmle_train_sgd(
    training_data: list[list[tuple[float, list[float]]]],
    learning_rate: float = 0.001,
    iterations: int = 15,
) -> list[float]:
    """ListMLERanker::train (listmle_ranker.cc): top-1 likelihood of the
    ground-truth permutation; per-query sequential SGD.  Each list is
    sorted by label DESC before the gradient (the reference receives
    pre-sorted 'sorted_feature_vectors').

    Parity note: the reference's gradient loops run ``j < fcount - 1`` —
    the LAST feature's parameter is never updated (listmle_ranker.cc
    calculate_gradient).  Mirrored verbatim.
    """
    if not training_data or not training_data[0]:
        raise ValueError("Cannot train: no training data")
    fcount = len(training_data[0][0][1])
    w = [0.0] * fcount
    for _ in range(iterations):
        for qlist in training_data:
            slist = sorted(qlist, key=lambda lv: -lv[0])
            exps = [
                math.exp(sum(wi * x for wi, x in zip(w, f))) for _, f in slist
            ]
            expsum = sum(exps)
            grad = [0.0] * fcount
            for i, (_, fvals) in enumerate(slist):
                for j in range(fcount - 1):
                    grad[j] += fvals[j] * exps[i] / expsum
            top = slist[0][1]
            for j in range(fcount - 1):
                grad[j] -= top[j]
            for j in range(fcount):
                w[j] -= learning_rate * grad[j]
    return w


# ---------------------------------------------------------------------------
# Ranker-evaluation scorers (xapian-letor/scorer/*.cc, SURVEY.md §2.10):
# NDCG and ERR over a ranked list's labels.  Scalar forms mirror the
# reference exactly; DataFrame forms evaluate every query in one
# distributed pass (window functions — no per-query driver loop).
# ---------------------------------------------------------------------------


def ndcg_score(labels: list[float]) -> float:
    """NDCGScore::score (xapian-letor/scorer/ndcg_score.cc:56-75):
    DCG(ranking)/DCG(ideal) with gain 2^label − 1 and log2(rank+1)
    discount; 0.0 when DCG is 0 (avoids 0/0)."""

    def dcg(ls):
        return sum(
            (math.exp2(v) - 1.0) / math.log2(i + 2.0) for i, v in enumerate(ls)
        )

    d = dcg(labels)
    if d == 0.0:
        return 0.0
    return d / dcg(sorted(labels, reverse=True))


def err_score(labels: list[float]) -> float:
    """ERRScore::score (xapian-letor/scorer/err_score.cc:43-88): Expected
    Reciprocal Rank, Chapelle et al. algorithm 2, with the reference's
    normalization of the relevance probability by 2^max(label)."""
    if not labels:
        return 0.0
    max_value = math.exp2(max(labels))
    p, err = 1.0, 0.0
    for rank, label in enumerate(labels, 1):
        rel_p = (math.exp2(label) - 1.0) / max_value
        err += p * rel_p / rank
        p *= 1.0 - rel_p
    return err


def ndcg_df(
    ranked: DataFrame,
    query_col: str = "query_id",
    label_col: str = "label",
    score_col: str = "score",
    k: int | None = None,
) -> DataFrame:
    """Per-query NDCG(@k) over a (query, label, model-score) table in ONE
    distributed pass: rank by score within each query (ties by label DESC
    then input order are avoided — deterministic (score DESC, label ASC)
    ordering), ideal rank by label, two window-ranked aggregations.
    Returns (query_col, ndcg)."""
    from pyspark.sql import Window

    lab = F.col(label_col).cast("double")
    w_model = Window.partitionBy(query_col).orderBy(
        F.desc(score_col), F.asc(label_col)
    )
    w_ideal = Window.partitionBy(query_col).orderBy(F.desc(label_col))
    gain = F.pow(F.lit(2.0), lab) - F.lit(1.0)
    r = ranked.select(
        query_col,
        (gain / F.log2(F.row_number().over(w_model) + F.lit(1.0))).alias("_d"),
        (gain / F.log2(F.row_number().over(w_ideal) + F.lit(1.0))).alias("_i"),
        F.row_number().over(w_model).alias("_rm"),
        F.row_number().over(w_ideal).alias("_ri"),
    )
    if k is not None:
        r = r.select(
            query_col,
            F.when(F.col("_rm") <= k, F.col("_d")).otherwise(0.0).alias("_d"),
            F.when(F.col("_ri") <= k, F.col("_i")).otherwise(0.0).alias("_i"),
        )
    out = r.groupBy(query_col).agg(
        F.sum("_d").alias("_dcg"), F.sum("_i").alias("_idcg")
    )
    return out.select(
        query_col,
        F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg"))
        .otherwise(0.0)
        .alias("ndcg"),
    )


def err_df(
    ranked: DataFrame,
    query_col: str = "query_id",
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Per-query ERR in one pass: the sequential satisfaction product
    ∏(1−R_i) becomes exp(Σ log(1−R_i)) over an ordered window — an exact
    distributed rewrite of the reference's loop (no per-query collect).
    R_i = (2^label − 1)/2^max(label).  Returns (query_col, err)."""
    from pyspark.sql import Window

    lab = F.col(label_col).cast("double")
    w = Window.partitionBy(query_col).orderBy(F.desc(score_col), F.asc(label_col))
    max_v = F.pow(
        F.lit(2.0), F.max(lab).over(Window.partitionBy(query_col))
    )
    rel_p = (F.pow(F.lit(2.0), lab) - F.lit(1.0)) / max_v
    rank = F.row_number().over(w)
    # p before this rank = ∏_{j<i}(1 − R_j); log-sum over the preceding
    # window keeps it exact for R_j < 1 and 0 after a fully-satisfying doc
    prev = Window.partitionBy(query_col).orderBy(
        F.desc(score_col), F.asc(label_col)
    ).rowsBetween(Window.unboundedPreceding, -1)
    # rel_p == 1 (a maximally-relevant doc) makes log(1−R) = log(0), which
    # Spark returns as NULL and sum() would silently skip — handle it with
    # an explicit saturation flag instead (p is exactly 0 afterwards)
    log1m = F.when(rel_p < 1.0, F.log(F.lit(1.0) - rel_p)).otherwise(F.lit(0.0))
    saturated = (
        F.coalesce(F.max((rel_p >= 1.0).cast("int")).over(prev), F.lit(0)) == 1
    )
    p_before = F.when(saturated, F.lit(0.0)).otherwise(
        F.exp(F.coalesce(F.sum(log1m).over(prev), F.lit(0.0)))
    )
    term = p_before * rel_p / rank.cast("double")
    return (
        ranked.select(query_col, term.alias("_t"))
        .groupBy(query_col)
        .agg(F.sum("_t").alias("err"))
    )
