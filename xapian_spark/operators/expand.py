"""ESet — relevance-feedback term expansion (Enquire::get_eset).

Reference: expand/esetinternal.cc + expand/bo1eweight.cc.  Bo1 (the default
scheme, include/xapian/enquire.h:460-520) scores a candidate term t against
a relevance set R as

    mean = collection_freq(t) / N
    wt(t) = rcollfreq * log2((1 + mean) / mean) + log2(1 + mean)

with rcollfreq = Σ_{d ∈ R} wdf(t, d)  (bo1eweight.cc:33-43).

Spark shape: the RSet is small (typically ≤ tens of docs), so candidate
postings are fetched via block-range pruning (blocks whose
[first_docid, last_docid] cover an RSet doc — metadata-only filter), decoded
once, and aggregated per term.  N and collection_freq come from the
dictionary + stats — all global, so results are partition-invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from .indexer import IndexTables
from .matcher import decode_blocks


def eset_bo1(
    spark,
    index: IndexTables,
    rset: list[int],
    maxitems: int = 10,
    exclude_terms: list[str] | None = None,
    rank_round: int | None = None,
) -> DataFrame:
    """Top-``maxitems`` expansion terms: (term, wt) ordered wt DESC, term ASC.

    ``rank_round``: rank on round(wt, n) instead of raw wt, so the selected
    top-k set matches an oracle that orders by the rounded value (two terms
    whose raw weights differ only past the n-th decimal tie identically on
    both sides)."""
    if not rset:
        return local_df(spark, [], "term string, wt double")
    ids = sorted(set(int(i) for i in rset))
    ids_arr = F.array(*[F.lit(i) for i in ids])
    touching = index.postings.filter(
        F.exists(ids_arr, lambda c: (c >= F.col("first_docid")) & (c <= F.col("last_docid")))
    )
    dec = decode_blocks(touching).filter(F.col("doc_id").isin(ids))
    per_term = dec.groupBy("term").agg(
        F.sum("wdf").cast("long").alias("rcollfreq"),
        F.count("*").cast("long").alias("rtermfreq"),
    )
    # wdf-0 boolean filter terms (field prefixes) carry no Bo1 evidence and
    # would divide by collfreq 0 — drop them (the reference would surface
    # them and users filter with an ExpandDecider; we build the decider in)
    per_term = per_term.filter(F.col("rcollfreq") > 0)
    if exclude_terms:
        per_term = per_term.filter(~F.col("term").isin(list(exclude_terms)))
    n = float(index.stats["doccount"])
    joined = per_term.join(index.dictionary.select("term", "collfreq"), "term")
    mean = F.col("collfreq").cast("double") / F.lit(n)
    log2 = math.log(2.0)
    wt = (
        F.col("rcollfreq").cast("double")
        * (F.log((F.lit(1.0) + mean) / mean) / F.lit(log2))
        + F.log(F.lit(1.0) + mean) / F.lit(log2)
    )
    out = joined.select("term", wt.alias("wt"))
    if rank_round is not None:
        out = out.withColumn("wt", F.round(F.col("wt"), rank_round))
    return out.orderBy(F.desc("wt"), F.asc("term")).limit(maxitems)


def eset_prob(
    spark,
    index: IndexTables,
    rset: list[int],
    maxitems: int = 10,
    expand_k: float = 0.0,
    exclude_terms: list[str] | None = None,
    exclude_term_prefixes: tuple[str, ...] = (),
    rank_round: int | None = None,
) -> DataFrame:
    """ProbEWeight — the probabilistic expansion scheme
    (expand/probeweight.cc:31-42 + expandweight.h:45-110 accumulate):

        r   = rtermfreq   (# RSet docs indexed by t)
        mult = Σ_{d ∈ R} (k+1)·wdf' / (k·doclen/avlen + wdf')   (wdf'=max(wdf,1))
        rw  = R − r        (reldocs_without_term)
        wt  = mult · ln( ((r+0.5)·(N − tf − rw + 0.5)) / ((tf − r + 0.5)·(rw + 0.5)) )

    With the default ``expand_k`` 0 the multiplier collapses to r, exactly
    like the reference.  ``exclude_term_prefixes`` is the built-in
    ExpandDecider analog for boolean field prefixes (which the wdf→1 rule
    would otherwise surface — expandweight.h:78-80)."""
    if not rset:
        return local_df(spark, [], "term string, wt double")
    ids = sorted(set(int(i) for i in rset))
    rsize = float(len(ids))
    ids_arr = F.array(*[F.lit(i) for i in ids])
    touching = index.postings.filter(
        F.exists(ids_arr, lambda c: (c >= F.col("first_docid")) & (c <= F.col("last_docid")))
    )
    dec = decode_blocks(touching).filter(F.col("doc_id").isin(ids))
    avlen = float(index.stats["avg_length"])
    wdf1 = F.greatest(F.col("wdf").cast("double"), F.lit(1.0))
    per_doc_mult = (F.lit(expand_k + 1) * wdf1) / (
        F.lit(expand_k) * F.col("doc_len").cast("double") / F.lit(avlen) + wdf1
    )
    per_term = dec.groupBy("term").agg(
        F.count("*").cast("double").alias("r"),
        F.sum(per_doc_mult).alias("mult"),
    )
    if exclude_terms:
        per_term = per_term.filter(~F.col("term").isin(list(exclude_terms)))
    for p in exclude_term_prefixes:
        per_term = per_term.filter(~F.col("term").startswith(p))
    n = float(index.stats["doccount"])
    joined = per_term.join(index.dictionary.select("term", "termfreq"), "term")
    tf = F.col("termfreq").cast("double")
    rw = F.lit(rsize) - F.col("r")
    num = (F.col("r") + F.lit(0.5)) * (F.lit(n) - tf - rw + F.lit(0.5))
    den = (tf - F.col("r") + F.lit(0.5)) * (rw + F.lit(0.5))
    wt = F.col("mult") * F.log(num / den)
    out = joined.select("term", wt.alias("wt"))
    if rank_round is not None:
        out = out.withColumn("wt", F.round(F.col("wt"), rank_round))
    return out.orderBy(F.desc("wt"), F.asc("term")).limit(maxitems)


def eset_prob_oracle(
    oracle_ix,
    rset: list[int],
    maxitems: int = 10,
    expand_k: float = 0.0,
    exclude_terms: list[str] | None = None,
) -> list[tuple[str, float]]:
    """Pure-Python ProbEWeight for the test oracle (same formulas)."""
    rset_s = set(rset)
    excl = set(exclude_terms or ())
    n = float(oracle_ix.doccount)
    rsize = float(len(rset_s))
    avlen = oracle_ix.avg_length
    out = []
    for term, plist in oracle_ix.postings.items():
        if term in excl:
            continue
        r = 0
        mult = 0.0
        for d, poss in plist.items():
            if d not in rset_s:
                continue
            r += 1
            wdf = max(len(poss), 1)
            doclen = oracle_ix.doclens[d]
            mult += (expand_k + 1) * wdf / (expand_k * doclen / avlen + wdf)
        if r == 0:
            continue
        rw = rsize - r
        tf = float(len(plist))
        wt = mult * math.log(
            ((r + 0.5) * (n - tf - rw + 0.5)) / ((tf - r + 0.5) * (rw + 0.5))
        )
        out.append((term, wt))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:maxitems]


def eset_bo1_oracle(oracle_ix, rset: list[int], maxitems: int = 10,
                    exclude_terms: list[str] | None = None) -> list[tuple[str, float]]:
    """Pure-Python Bo1 for the test oracle (same formula, dict-based)."""
    rset_s = set(rset)
    excl = set(exclude_terms or ())
    n = float(oracle_ix.doccount)
    out = []
    for term, plist in oracle_ix.postings.items():
        if term in excl:
            continue
        rcf = sum(len(p) for d, p in plist.items() if d in rset_s)
        if rcf == 0:
            continue
        cf = sum(len(p) for p in plist.values())
        mean = cf / n
        wt = rcf * math.log2((1.0 + mean) / mean) + math.log2(1.0 + mean)
        out.append((term, wt))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:maxitems]
