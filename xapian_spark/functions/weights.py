"""Weighting schemes.

``BM25Weight`` reproduces xapian-core/weight/bm25weight.cc exactly:

- defaults k1=1, k2=0, k3=1, b=0.5, min_normlen=0.5
  (include/xapian/weight.h:1128-1142);
- idf with the non-standard ``tw < 2 → tw/2 + 1`` adjustment
  (bm25weight.cc:107) — fires for terms indexing more than ~half the
  collection;
- ``len_factor = 1/average_length`` unless the weight is length-independent
  (bm25weight.cc:119-128);
- per-document part ``termweight * wdf / (k1*(normlen*b + (1-b)) + wdf)``
  with ``normlen = max(doc_len * len_factor, min_normlen)``
  (bm25weight.cc:166-178);
- WAND upper bound ``get_maxpart`` evaluated at wdf_max with
  doclen = max(wdf_max, doclen_lower_bound) (bm25weight.cc:180-202, after
  Macdonald/Tonellotto/Ounis 2011).

All arithmetic is float64 in the same operation order as the reference so
scores are bit-comparable (tests assert 1e-9).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, fields, replace

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(v) -> Column:
    """``lit()`` for floats, pass-through for Columns.

    Every scheme's per-term state is a handful of scalars computed by
    ``init()`` from (termfreq, collfreq, global stats).  In a query plan
    they are Columns: the term-keyed kernels read them per row
    (``over_fields``), and the dictionary-driven paths compute them with
    ``init_col()``.  So ``sumpart_col`` lifts every field with ``_c``,
    never ``F.lit``: a double literal is inlined into generated code, and
    each query on new terms would compile new classes."""
    return v if isinstance(v, Column) else F.lit(v)


def data_fields(w) -> dict[str, float]:
    """A TermWeight's numeric fields as floats: the per-term state a plan
    takes as data.  The rest (``BM25Params``, ``wdf_norm``, ``plus``) are
    the scheme's and shape the formula."""
    return {
        f.name: float(v)
        for f in fields(w)
        if isinstance(v := getattr(w, f.name), (int, float)) and not isinstance(v, bool)
    }


def over_fields(w, row: Column):
    """``w`` with each of its ``data_fields`` read from the same-named
    field of the struct Column ``row``; its ``sumpart_col`` keeps the
    operations and their order."""
    return replace(w, **{name: row[name] for name in data_fields(w)})


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.0
    k2: float = 0.0
    k3: float = 1.0
    b: float = 0.5
    min_normlen: float = 0.5


@dataclass
class BM25Term:
    """Per-term initialized state (≈ Weight::init result)."""

    termweight: float
    len_factor: float
    params: BM25Params

    def sumpart(self, wdf, doc_len, uniqterms=None):
        """bm25weight.cc:166-178.  ``wdf`` and ``doc_len`` are numbers or
        numpy arrays (one posting per element), with ``sumpart_col``'s
        operations in its order, so each element equals the Column's value
        bit for bit."""
        p = self.params
        normlen = np.maximum(doc_len * self.len_factor, p.min_normlen)
        wdf = wdf * 1.0
        denom = p.k1 * (normlen * p.b + (1 - p.b)) + wdf
        return self.termweight * (wdf / denom)

    def maxpart(self, wdf_max, doclen_lower_bound):
        """bm25weight.cc:180-202 — the block-max/WAND bound.  Numbers or
        numpy arrays: per block, ``wdf_max`` is its max_wdf and
        ``doclen_lower_bound`` its min_doclen."""
        p = self.params
        denom = p.k1
        if p.k1 != 0.0 and p.b != 0.0:
            normlen_lb = np.maximum(
                np.maximum(wdf_max, doclen_lower_bound) * self.len_factor, p.min_normlen
            )
            denom *= normlen_lb * p.b + (1 - p.b)
        denom += wdf_max
        return self.termweight * (wdf_max / denom)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        """Same formula as a JVM-side Column expression (no Python in the
        scoring hot path)."""
        p = self.params
        normlen = F.greatest(
            doc_len.cast("double") * _c(self.len_factor), F.lit(p.min_normlen)
        )
        denom = (
            F.lit(p.k1) * (normlen * F.lit(p.b) + F.lit(1 - p.b))
            + wdf.cast("double")
        )
        return _c(self.termweight) * (wdf.cast("double") / denom)


def bm25_init(
    termfreq: int,
    collection_size: int,
    average_length: float,
    wqf: int = 1,
    factor: float = 1.0,
    params: BM25Params = BM25Params(),
    rset_size: int = 0,
    reltermfreq: int = 0,
) -> BM25Term:
    """BM25Weight::init (bm25weight.cc:46-128), float64 op order preserved."""
    p = params
    if rset_size != 0:
        reldocs_not_indexed = rset_size - reltermfreq
        q = collection_size - reldocs_not_indexed
        nonreldocs_indexed = termfreq - reltermfreq
        numerator = (reltermfreq + 0.5) * (q - termfreq + 0.5)
        denom = (reldocs_not_indexed + 0.5) * (nonreldocs_indexed + 0.5)
        tw = numerator / denom
    else:
        tw = (collection_size - termfreq + 0.5) / (termfreq + 0.5)
    if tw < 2:
        tw = tw * 0.5 + 1  # bm25weight.cc:107
    termweight = math.log(tw) * factor
    if p.k3 != 0:
        wqf_double = float(wqf)
        termweight *= (p.k3 + 1) * wqf_double / (p.k3 + wqf_double)
    termweight *= p.k1 + 1

    if p.k2 == 0 and (p.b == 0 or p.k1 == 0):
        len_factor = 0.0
    else:
        len_factor = average_length
        if len_factor != 0:
            len_factor = 1 / len_factor
    return BM25Term(termweight=termweight, len_factor=len_factor, params=p)


# ---------------------------------------------------------------------------
# Pluggable weighting schemes (reference surface: include/xapian/weight.h
# :38-2231 — 19 schemes; ALL implemented, see ALL_SCHEMES at module end).
# A scheme's init() returns a TermWeight with float64 sumpart / Column
# sumpart_col / WAND maxpart, mirroring Weight::init + get_sumpart +
# get_maxpart.
# ---------------------------------------------------------------------------


class TermWeight:
    """Initialized per-term state; subclasses implement the three hooks.

    ``uniqterms`` (number of distinct wdf>0 terms in the doc) is only
    consulted by schemes whose class sets ``needs_uniqterms`` (Dice,
    LMAbsDiscount) — the matcher joins the docs-table column in for those.
    """

    def sumpart(self, wdf: float, doc_len: float, uniqterms: float | None = None) -> float:
        raise NotImplementedError

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms: Column | None = None) -> Column:
        raise NotImplementedError

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        raise NotImplementedError


class BM25Scheme:
    """Default scheme (api/enquire.cc:276-277 uses BM25Weight)."""

    name = "bm25"
    # Whether init() actually reads ``termfreq``.  The DFR/LM families and
    # the trivial schemes set this False: the synonym matcher then skips the
    # exact merged-termfreq count entirely — the scheme would throw the
    # value away (matcher._eval_synonym / _max_possible read this).
    uses_termfreq = True

    def __init__(self, params: BM25Params = BM25Params()):
        self.params = params

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return bm25_init(
            termfreq=termfreq,
            collection_size=stats["doccount"],
            average_length=stats["avg_length"],
            wqf=wqf,
            factor=factor,
            params=self.params,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        """``init`` with termfreq/collfreq as Columns (same op order as
        bm25_init) — per-term state for the term-set paths."""
        p = self.params
        n = float(stats["doccount"])
        tf = termfreq.cast("double")
        tw = (F.lit(n) - tf + F.lit(0.5)) / (tf + F.lit(0.5))
        tw = F.when(tw < 2, tw * F.lit(0.5) + F.lit(1.0)).otherwise(tw)
        termweight = F.log(tw) * F.lit(factor)
        if p.k3 != 0:
            wqf_double = float(wqf)
            termweight = termweight * F.lit(
                (p.k3 + 1) * wqf_double / (p.k3 + wqf_double)
            )
        termweight = termweight * F.lit(p.k1 + 1)
        if p.k2 == 0 and (p.b == 0 or p.k1 == 0):
            len_factor = 0.0
        else:
            len_factor = stats["avg_length"]
            if len_factor != 0:
                len_factor = 1 / len_factor
        return BM25Term(termweight=termweight, len_factor=len_factor, params=p)


class TradScheme(BM25Scheme):
    """TradWeight(k) ≡ BM25Weight(k, 0, 0, 1, 0) (weight.h:1292-1309).

    Note k3=0: the reference skips the wqf multiplier entirely for Trad
    (the 4th ctor arg is b=1, the 3rd is k3=0)."""

    name = "trad"

    def __init__(self, k: float = 1.0):
        super().__init__(BM25Params(k1=k, k2=0.0, k3=0.0, b=1.0, min_normlen=0.0))


@dataclass
class _TfIdfTerm(TermWeight):
    idfn: float
    wqf_factor: float
    wdf_norm: str
    avg_len: float

    def _wdfn(self, wdf: float, doc_len: float) -> float:
        # tfidfweight.cc:228-285 (uniqterms-based norms not supported — the
        # block layout stores doclen, not uniqterms; documented gap)
        w = self.wdf_norm
        if w == "none":
            return float(wdf)
        if wdf == 0:
            return 0.0
        if w == "boolean":
            return 1.0
        if w == "square":
            return float(wdf) * float(wdf)
        if w == "log":
            return 1 + math.log(float(wdf))
        if w == "aug_log":
            return 0.2 + 0.8 * math.log(1.0 + wdf)
        if w == "sqrt":
            return math.sqrt(wdf - 0.5) + 1
        raise ValueError(f"unsupported wdf_norm {w}")

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        return self._wdfn(wdf, doc_len) * self.idfn * self.wqf_factor

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        w = self.wdf_norm
        x = wdf.cast("double")
        if w == "none":
            wdfn = x
        elif w == "boolean":
            wdfn = F.when(wdf > 0, 1.0).otherwise(0.0)
        elif w == "square":
            wdfn = x * x
        elif w == "log":
            wdfn = F.when(wdf > 0, F.lit(1.0) + F.log(x)).otherwise(0.0)
        elif w == "aug_log":
            wdfn = F.when(wdf > 0, F.lit(0.2) + F.lit(0.8) * F.log(F.lit(1.0) + x)).otherwise(0.0)
        elif w == "sqrt":
            wdfn = F.when(wdf > 0, F.sqrt(x - F.lit(0.5)) + F.lit(1.0)).otherwise(0.0)
        else:
            raise ValueError(f"unsupported wdf_norm {w}")
        return wdfn * _c(self.idfn) * _c(self.wqf_factor)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        return self._wdfn(wdf_max, doclen_lower_bound) * self.idfn * self.wqf_factor


class TfIdfScheme:
    """TfIdfWeight; defaults wdf_norm=NONE, idf_norm=TFIDF, wt_norm=NONE
    (weight.h:1026-1028); sumpart = wdfn * idfn * wqf * factor
    (tfidfweight.cc:206-213)."""

    name = "tfidf"

    def __init__(self, wdf_norm: str = "none", idf_norm: str = "tfidf"):
        self.wdf_norm = wdf_norm
        self.idf_norm = idf_norm

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        n = float(stats["doccount"])
        tf = float(termfreq)
        i = self.idf_norm
        if i == "none":
            idfn = 1.0
        elif i == "prob":
            idfn = 0.0 if n == tf else math.log((n - tf) / tf)
        elif i == "freq":
            idfn = 1.0 / tf
        elif i == "square":
            x = math.log(n / tf)
            idfn = x * x
        elif i == "pivoted":
            idfn = math.log((n + 1) / tf)
        elif i == "tfidf":
            idfn = math.log(n / tf)
        else:
            raise ValueError(f"unsupported idf_norm {i}")
        return _TfIdfTerm(
            idfn=idfn,
            wqf_factor=wqf * factor,
            wdf_norm=self.wdf_norm,
            avg_len=stats["avg_length"],
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        n = float(stats["doccount"])
        tf = termfreq.cast("double")
        i = self.idf_norm
        if i == "none":
            idfn = F.lit(1.0)
        elif i == "prob":
            idfn = F.when(tf == F.lit(n), 0.0).otherwise(
                F.log((F.lit(n) - tf) / tf)
            )
        elif i == "freq":
            idfn = F.lit(1.0) / tf
        elif i == "square":
            x = F.log(F.lit(n) / tf)
            idfn = x * x
        elif i == "pivoted":
            idfn = F.log(F.lit(n + 1) / tf)
        elif i == "tfidf":
            idfn = F.log(F.lit(n) / tf)
        else:
            raise ValueError(f"unsupported idf_norm {i}")
        return _TfIdfTerm(
            idfn=idfn,
            wqf_factor=wqf * factor,
            wdf_norm=self.wdf_norm,
            avg_len=stats["avg_length"],
        )


@dataclass
class _ConstTerm(TermWeight):
    value: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        return self.value

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        return _c(self.value)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        return self.value


class CoordScheme:
    """CoordWeight: 1 × factor per matching subquery (weight.h:2166,
    coordweight.cc:65-70)."""

    name = "coord"
    uses_termfreq = False

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _ConstTerm(float(factor))

    init_col = init  # no per-term stats consulted


class BoolScheme:
    """BoolWeight: all weights 0 (weight.h:678)."""

    name = "bool"
    uses_termfreq = False

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _ConstTerm(0.0)

    init_col = init  # no per-term stats consulted


# ---------------------------------------------------------------------------
# BM25+ (weight.h:1164, weight/bm25plusweight.cc) — BM25 with IDF
# log((N+1)/tf) and the per-term lower-bound bonus delta.
# ---------------------------------------------------------------------------


@dataclass
class _BM25PlusTerm(TermWeight):
    termweight: float
    len_factor: float
    k1: float
    b: float
    min_normlen: float
    delta: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        # bm25plusweight.cc get_sumpart
        normlen = max(doc_len * self.len_factor, self.min_normlen)
        wdf_d = float(wdf)
        denom = self.k1 * (normlen * self.b + (1 - self.b)) + wdf_d
        return self.termweight * ((self.k1 + 1) * wdf_d / denom + self.delta)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        normlen = F.greatest(
            doc_len.cast("double") * _c(self.len_factor), _c(self.min_normlen)
        )
        x = wdf.cast("double")
        denom = _c(self.k1) * (normlen * _c(self.b) + _c(1 - self.b)) + x
        return _c(self.termweight) * (
            _c(self.k1 + 1) * x / denom + _c(self.delta)
        )

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        denom = self.k1
        if self.k1 != 0.0 and self.b != 0.0:
            normlen_lb = max(
                max(wdf_max, doclen_lower_bound) * self.len_factor, self.min_normlen
            )
            denom *= normlen_lb * self.b + (1 - self.b)
        denom += wdf_max
        return self.termweight * ((self.k1 + 1) * wdf_max / denom + self.delta)


class BM25PlusScheme:
    """BM25PlusWeight (weight.h:1164): defaults k1=1, k2=0, k3=1, b=0.5,
    min_normlen=0.5, delta=1.0."""

    name = "bm25plus"

    def __init__(self, k1=1.0, k2=0.0, k3=1.0, b=0.5, min_normlen=0.5, delta=1.0):
        self.k1, self.k2, self.k3 = k1, k2, k3
        self.b, self.min_normlen, self.delta = b, min_normlen, delta

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        tf = termfreq
        if tf == 0:
            termweight = 0.0
        else:
            termweight = math.log(float(stats["doccount"] + 1) / tf)
            termweight *= factor
            if self.k3 != 0:
                wqf_double = float(wqf)
                termweight *= (self.k3 + 1) * wqf_double / (self.k3 + wqf_double)
        if self.k2 == 0 and (self.b == 0 or self.k1 == 0):
            len_factor = 0.0
        else:
            len_factor = stats["avg_length"]
            if len_factor != 0:
                len_factor = 1 / len_factor
        return _BM25PlusTerm(
            termweight=termweight,
            len_factor=len_factor,
            k1=self.k1,
            b=self.b,
            min_normlen=self.min_normlen,
            delta=self.delta,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        tf = termfreq.cast("double")
        termweight = F.log(F.lit(float(stats["doccount"] + 1)) / tf)
        termweight = termweight * F.lit(factor)
        if self.k3 != 0:
            wqf_double = float(wqf)
            termweight = termweight * F.lit(
                (self.k3 + 1) * wqf_double / (self.k3 + wqf_double)
            )
        termweight = F.when(termfreq > 0, termweight).otherwise(0.0)
        if self.k2 == 0 and (self.b == 0 or self.k1 == 0):
            len_factor = 0.0
        else:
            len_factor = stats["avg_length"]
            if len_factor != 0:
                len_factor = 1 / len_factor
        return _BM25PlusTerm(
            termweight=termweight,
            len_factor=len_factor,
            k1=self.k1,
            b=self.b,
            min_normlen=self.min_normlen,
            delta=self.delta,
        )


# ---------------------------------------------------------------------------
# DFR family (weight.h:1330-1877): InL2, IfB2, IneB2, BB2, DLH, PL2, PL2+,
# DPH.  All share the wdfn = wdf * log2(1 + c*avg_len/len) normalization.
# Formulas mirrored from weight/{inl2,ifb2,ineb2,bb2,dlh,pl2,pl2plus,dph}weight.cc
# in the same float64 operation order.
# ---------------------------------------------------------------------------


def _wdfn_col(wdf: Column, doc_len: Column, c_product_avlen: float) -> Column:
    return wdf.cast("double") * F.log2(
        F.lit(1.0) + _c(c_product_avlen) / doc_len.cast("double")
    )


@dataclass
class _InL2Term(TermWeight):
    wqf_product_idf: float
    c_product_avlen: float
    factor: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0:
            return 0.0
        wdfn = wdf * math.log2(1 + self.c_product_avlen / doc_len)
        return self.wqf_product_idf * (wdfn / (wdfn + 1.0))

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        wdfn = _wdfn_col(wdf, doc_len, self.c_product_avlen)
        return F.when(wdf > 0, _c(self.wqf_product_idf) * (wdfn / (wdfn + F.lit(1.0)))).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        if wdf_max == 0:
            return 0.0
        # matching docs have doclen >= wdf >= 1, so 1 is always a valid
        # lower bound even when the corpus contains empty docs
        dlb = max(doclen_lower_bound, 1)
        wdfn_upper = wdf_max * math.log2(1 + self.c_product_avlen / dlb)
        # NB: the reference multiplies by factor a second time here
        # (inl2weight.cc:90) — mirrored for parity.
        return self.wqf_product_idf * (wdfn_upper / (wdfn_upper + 1.0)) * self.factor


class InL2Scheme:
    """InL2Weight (weight.h:1330): I(n)L2 DFR scheme, c=1.0 default."""

    name = "inl2"
    needs_uniqterms = False

    def __init__(self, c: float = 1.0):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        self.c = c

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        idf_max = math.log2((N + 1) / (termfreq + 0.5))
        return _InL2Term(
            wqf_product_idf=wqf * idf_max * factor,
            c_product_avlen=self.c * stats["avg_length"],
            factor=factor,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        idf_max = F.log2(F.lit(N + 1) / (termfreq.cast("double") + F.lit(0.5)))
        return _InL2Term(
            wqf_product_idf=F.lit(float(wqf)) * idf_max * F.lit(factor),
            c_product_avlen=self.c * stats["avg_length"],
            factor=factor,
        )


@dataclass
class _IfB2Term(TermWeight):
    wqf_product_idf: float
    c_product_avlen: float
    B_constant: float
    factor: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0:
            return 0.0
        wdfn = wdf * math.log2(1 + self.c_product_avlen / doc_len)
        return self.wqf_product_idf * (wdfn * self.B_constant / (wdfn + 1.0))

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        wdfn = _wdfn_col(wdf, doc_len, self.c_product_avlen)
        return F.when(
            wdf > 0,
            _c(self.wqf_product_idf)
            * (wdfn * _c(self.B_constant) / (wdfn + F.lit(1.0))),
        ).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        if wdf_max == 0:
            return 0.0
        dlb = max(doclen_lower_bound, 1)
        wdfn_upper = wdf_max * math.log2(1 + self.c_product_avlen / dlb)
        # factor applied twice, mirroring ifb2weight.cc:96
        return (
            self.wqf_product_idf
            * (wdfn_upper * self.B_constant / (wdfn_upper + 1.0))
            * self.factor
        )


class IfB2Scheme:
    """IfB2Weight (weight.h:1427): I(f)B2 DFR scheme, c=1.0 default."""

    name = "ifb2"
    needs_uniqterms = False

    def __init__(self, c: float = 1.0):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        self.c = c

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        Fcf = float(collfreq)
        idf_max = math.log2((N + 1.0) / (Fcf + 0.5))
        return _IfB2Term(
            wqf_product_idf=wqf * idf_max * factor,
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=(Fcf + 1.0) / termfreq,
            factor=factor,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        cf = collfreq.cast("double")
        idf_max = F.log2(F.lit(N + 1.0) / (cf + F.lit(0.5)))
        return _IfB2Term(
            wqf_product_idf=F.lit(float(wqf)) * idf_max * F.lit(factor),
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=(cf + F.lit(1.0)) / termfreq.cast("double"),
            factor=factor,
        )


@dataclass
class _IneB2Term(TermWeight):
    wqf_product_idf: float
    c_product_avlen: float
    B_constant: float
    idf_max: float
    wqf: float
    factor: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0:
            return 0.0
        wdfn = wdf * math.log2(1 + self.c_product_avlen / doc_len)
        return (wdfn * self.B_constant / (wdfn + 1.0)) * self.wqf_product_idf

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        wdfn = _wdfn_col(wdf, doc_len, self.c_product_avlen)
        return F.when(
            wdf > 0,
            (wdfn * _c(self.B_constant) / (wdfn + F.lit(1.0)))
            * _c(self.wqf_product_idf),
        ).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        if wdf_max == 0:
            return 0.0
        dlb = max(doclen_lower_bound, 1)
        wdfn_upper = wdf_max * math.log2(1 + self.c_product_avlen / dlb)
        # ineb2weight.cc:82: (F+1)/(tf + tf/wdfn_upper) — recover F and tf
        # from B_constant = (F+1)/tf:
        # max_wdfn_product_B = B_constant * wdfn_upper / (wdfn_upper + 1)
        max_wdfn_product_B = self.B_constant * wdfn_upper / (wdfn_upper + 1.0)
        return max_wdfn_product_B * self.idf_max * self.wqf * self.factor


class IneB2Scheme:
    """IneB2Weight (weight.h:1497): I(n_e)B2 DFR scheme, c=1.0 default."""

    name = "ineb2"
    needs_uniqterms = False

    def __init__(self, c: float = 1.0):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        self.c = c

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        Fcf = float(collfreq)
        mean = Fcf / N
        expected_max = N * (1.0 - math.exp(-mean))
        idf_max = math.log2((N + 1.0) / (expected_max + 0.5))
        return _IneB2Term(
            wqf_product_idf=wqf * idf_max * factor,
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=(Fcf + 1.0) / termfreq,
            idf_max=idf_max,
            wqf=float(wqf),
            factor=factor,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        N = float(stats["doccount"])
        cf = collfreq.cast("double")
        mean = cf / F.lit(N)
        expected_max = F.lit(N) * (F.lit(1.0) - F.exp(-mean))
        idf_max = F.log2(F.lit(N + 1.0) / (expected_max + F.lit(0.5)))
        return _IneB2Term(
            wqf_product_idf=F.lit(float(wqf)) * idf_max * F.lit(factor),
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=(cf + F.lit(1.0)) / termfreq.cast("double"),
            idf_max=idf_max,
            wqf=float(wqf),
            factor=factor,
        )


def _stirling_value(difference: float, y: float, stirling_constant: float) -> float:
    """bb2weight.cc:36-40."""
    return (y + 0.5) * (stirling_constant - math.log2(y)) + difference * stirling_constant


@dataclass
class _BB2Term(TermWeight):
    c_product_avlen: float
    B_constant: float  # wqf * factor * (F+1)/tf
    wt: float  # -1/ln2 - log2(N-1)
    stirling_constant_1: float  # log2(N + F - 1)
    stirling_constant_2: float  # log2(F)
    F_coll: float
    N_clamped: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0:
            return 0.0
        wdfn = wdf * math.log2(1 + self.c_product_avlen / doc_len)
        Fc = self.F_coll
        if wdfn >= Fc - 1:
            wdfn = Fc - 1
        N_less_2 = 0.0 if self.N_clamped <= 2 else self.N_clamped - 2
        y2 = Fc - wdfn
        y1 = N_less_2 + y2
        stirling = _stirling_value(wdfn + 1.0, y1, self.stirling_constant_1) - _stirling_value(
            wdfn, y2, self.stirling_constant_2
        )
        B = self.B_constant / (wdfn + 1.0)
        final_weight = B * (self.wt + stirling)
        return final_weight if final_weight > 0.0 else 0.0

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        Fc = self.F_coll
        wdfn0 = _wdfn_col(wdf, doc_len, self.c_product_avlen)
        wdfn = F.least(wdfn0, _c(Fc) - F.lit(1.0))
        # init clamps N_clamped to >= 2, so this is the reference's max(N-2, 0)
        y2 = _c(Fc) - wdfn
        y1 = (_c(self.N_clamped) - F.lit(2.0)) + y2

        def stirling(diff, y, const):
            return (y + F.lit(0.5)) * (_c(const) - F.log2(y)) + diff * _c(const)

        st = stirling(wdfn + F.lit(1.0), y1, self.stirling_constant_1) - stirling(
            wdfn, y2, self.stirling_constant_2
        )
        B = _c(self.B_constant) / (wdfn + F.lit(1.0))
        w = B * (_c(self.wt) + st)
        return F.when((wdf > 0) & (w > 0.0), w).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        # bb2weight.cc::init upper-bound computation
        if wdf_max == 0:
            return 0.0
        dlb = max(doclen_lower_bound, 1)
        Fc = self.F_coll
        wdfn_lower = 1.0 * math.log2(1 + self.c_product_avlen / self.doclen_upper_bound)
        wdfn_upper = wdf_max * math.log2(1 + self.c_product_avlen / dlb)
        if wdfn_lower >= Fc - 1:
            wdfn_upper = Fc - 1
        if wdfn_upper >= Fc - 1:
            wdfn_upper = Fc - 1
        y_min = Fc - wdfn_upper
        y_max = self.N_clamped + Fc - wdfn_lower - 2.0
        stirling_max = _stirling_value(
            wdfn_upper + 1.0, y_max, self.stirling_constant_1
        ) - _stirling_value(wdfn_lower, y_min, self.stirling_constant_2)
        B_max = self.B_constant / (wdfn_lower + 1.0)
        ub = B_max * (self.wt + stirling_max)
        return ub if ub > 0.0 else 0.0


class BB2Scheme:
    """BB2Weight (weight.h:1572): Bose-Einstein B2 DFR scheme, c=1.0."""

    name = "bb2"
    needs_uniqterms = False

    def __init__(self, c: float = 1.0):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        self.c = c

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        Fcf = float(collfreq)
        N = 2.0 if stats["doccount"] <= 2 else float(stats["doccount"])
        return _BB2Term(
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=wqf * factor * (Fcf + 1.0) / termfreq,
            wt=-1.0 / math.log(2.0) - math.log2(N - 1.0),
            stirling_constant_1=math.log2(N + Fcf - 1.0),
            stirling_constant_2=math.log2(Fcf),
            F_coll=Fcf,
            N_clamped=N,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        cf = collfreq.cast("double")
        N = 2.0 if stats["doccount"] <= 2 else float(stats["doccount"])
        return _BB2Term(
            c_product_avlen=self.c * stats["avg_length"],
            B_constant=F.lit(wqf * factor) * (cf + F.lit(1.0))
            / termfreq.cast("double"),
            wt=-1.0 / math.log(2.0) - math.log2(N - 1.0),
            stirling_constant_1=F.log2(F.lit(N) + cf - F.lit(1.0)),
            stirling_constant_2=F.log2(cf),
            F_coll=cf,
            N_clamped=N,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


@dataclass
class _DLHTerm(TermWeight):
    log_constant: float  # total_length / F
    wqf_product_factor: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0 or wdf == doc_len:
            return 0.0
        wdf_to_len = float(wdf) / doc_len
        one_minus = 1.0 - wdf_to_len
        wt = (
            wdf * math.log2(wdf_to_len * self.log_constant)
            + (doc_len - wdf) * math.log2(one_minus)
            + 0.5 * math.log2(2.0 * math.pi * wdf * one_minus)
        )
        if wt <= 0.0:
            return 0.0
        return self.wqf_product_factor * wt / (wdf + 0.5)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        x = wdf.cast("double")
        ln = doc_len.cast("double")
        wdf_to_len = x / ln
        one_minus = F.lit(1.0) - wdf_to_len
        wt = (
            x * F.log2(wdf_to_len * _c(self.log_constant))
            + (ln - x) * F.log2(one_minus)
            + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * x * one_minus)
        )
        out = _c(self.wqf_product_factor) * wt / (x + F.lit(0.5))
        return F.when((wdf > 0) & (x != ln) & (wt > 0.0), out).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        # dlhweight.cc::init upper bound (A + B + C)
        if wdf_max == 0:
            return 0.0
        wdf_lower = 1.0
        len_upper = self.doclen_upper_bound
        len_lower = float(max(doclen_lower_bound, 1))
        max_wdf_over_l = wdf_max / len_lower if wdf_max < len_lower else 1.0
        logged_expr = max_wdf_over_l * self.log_constant
        w_for_A = wdf_max if logged_expr > 1.0 else wdf_lower
        A = w_for_A / (w_for_A + 0.5) * math.log2(logged_expr)
        B = 0.0
        if len_lower > wdf_max:
            B1 = (len_lower - wdf_lower) * math.log2(1.0 - wdf_lower / len_lower)
            B2 = (len_lower - wdf_max) * math.log2(1.0 - wdf_max / len_lower)
            B = max(B1, B2)
        wdf_var = min(float(wdf_max), len_upper / 2.0)
        max_product = wdf_var * (1.0 - wdf_var / len_upper)
        C = 0.5 * math.log2(2.0 * math.pi * max_product) / (wdf_lower + 0.5)
        ub = A + B + C
        if ub < 0.0:
            return 0.0
        return ub * self.wqf_product_factor


class DLHScheme:
    """DLHWeight (weight.h:1637): parameter-free DFR hypergeometric."""

    name = "dlh"
    uses_termfreq = False
    needs_uniqterms = False

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _DLHTerm(
            log_constant=stats["total_length"] / float(collfreq),
            wqf_product_factor=wqf * factor,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _DLHTerm(
            log_constant=F.lit(float(stats["total_length"]))
            / collfreq.cast("double"),
            wqf_product_factor=wqf * factor,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


@dataclass
class _PL2Term(TermWeight):
    factor: float  # factor * wqf
    cl: float  # c * avg_len
    P1: float
    P2: float
    doclen_upper_bound: float
    dw: float = 0.0  # PL2+ delta contribution (0 for plain PL2)
    plus: bool = False  # PL2+: the weight is factor * (P/(wdfn+1) + dw)

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0:
            return 0.0
        wdfn = wdf * math.log2(1 + self.cl / doc_len)
        P = self.P1 + (wdfn + 0.5) * math.log2(wdfn) - self.P2 * wdfn
        if not self.plus:
            if P <= 0:
                return 0.0
            return self.factor * P / (wdfn + 1.0)
        wt = (P / (wdfn + 1.0)) + self.dw
        if wt <= 0:
            return 0.0
        return self.factor * wt

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        wdfn = _wdfn_col(wdf, doc_len, self.cl)
        P = (
            _c(self.P1)
            + (wdfn + F.lit(0.5)) * F.log2(wdfn)
            - _c(self.P2) * wdfn
        )
        if not self.plus:
            out = _c(self.factor) * P / (wdfn + F.lit(1.0))
            return F.when((wdf > 0) & (P > 0.0), out).otherwise(0.0)
        wt = (P / (wdfn + F.lit(1.0))) + _c(self.dw)
        out = _c(self.factor) * wt
        return F.when((wdf > 0) & (wt > 0.0), out).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        # pl2weight.cc / pl2plusweight.cc init upper-bound computation
        if wdf_max == 0:
            return 0.0
        wdfn_lower = math.log2(1 + self.cl / self.doclen_upper_bound)
        divisior = max(wdf_max, doclen_lower_bound, 1)
        wdfn_upper = wdf_max * math.log2(1 + self.cl / divisior)
        P_max2a = (wdfn_upper + 0.5) * math.log2(wdfn_upper) / (wdfn_upper + 1.0)
        # Part (b) = (P1+P2)/(wdfn+1) - P2 is DECREASING in wdfn when
        # P1+P2 > 0, so its max is at wdfn_LOWER.  pl2weight.cc:123 picks
        # wdfn_upper there, contradicting its own derivation comment and
        # yielding a non-bound (observed: actual sumpart > 'bound' for
        # high-collection-frequency terms).  Deliberate divergence: we take
        # the mathematically correct branch.
        wdfn_optb = wdfn_lower if self.P1 + self.P2 > 0 else wdfn_upper
        P_max2b = (self.P1 - self.P2 * wdfn_optb) / (wdfn_optb + 1.0)
        ub = self.factor * (P_max2a + P_max2b + self.dw)
        return ub if ub > 0 else 0.0


class PL2Scheme:
    """PL2Weight (weight.h:1705): Poisson-Laplace L2 DFR scheme, c=1.0."""

    name = "pl2"
    uses_termfreq = False
    needs_uniqterms = False

    def __init__(self, c: float = 1.0):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        self.c = c

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        base_change = 1.0 / math.log(2.0)
        mean = float(collfreq) / stats["doccount"]
        return _PL2Term(
            factor=factor * wqf,
            cl=self.c * stats["avg_length"],
            P1=mean * base_change + 0.5 * math.log2(2.0 * math.pi),
            P2=math.log2(mean) + base_change,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        base_change = 1.0 / math.log(2.0)
        mean = collfreq.cast("double") / F.lit(float(stats["doccount"]))
        return _PL2Term(
            factor=factor * wqf,
            cl=self.c * stats["avg_length"],
            P1=mean * F.lit(base_change)
            + F.lit(0.5 * math.log2(2.0 * math.pi)),
            P2=F.log2(mean) + F.lit(base_change),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


class PL2PlusScheme:
    """PL2PlusWeight (weight.h:1783): PL2 with delta bonus, c=1.0, delta=0.8.
    Terms with mean collection frequency > 1 are ignored entirely
    (pl2plusweight.cc — 'essentially ignores non-discriminative terms')."""

    name = "pl2plus"
    uses_termfreq = False
    needs_uniqterms = False

    def __init__(self, c: float = 1.0, delta: float = 0.8):
        if c <= 0:
            raise ValueError("Parameter c is invalid")
        if delta <= 0:
            raise ValueError("Parameter delta is invalid")
        self.c = c
        self.delta = delta

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        base_change = 1.0 / math.log(2.0)
        mean = float(collfreq) / stats["doccount"]
        P1 = mean * base_change + 0.5 * math.log2(2.0 * math.pi)
        P2 = math.log2(mean) + base_change
        P_delta = P1 + (self.delta + 0.5) * math.log2(self.delta) - P2 * self.delta
        return _PL2Term(
            # a zero factor zeroes every sumpart and the bound of an ignored term
            factor=0.0 if mean > 1 else factor * wqf,
            cl=self.c * stats["avg_length"],
            P1=P1,
            P2=P2,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
            dw=P_delta / (self.delta + 1.0),
            plus=True,
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        base_change = 1.0 / math.log(2.0)
        mean = collfreq.cast("double") / F.lit(float(stats["doccount"]))
        P1 = mean * F.lit(base_change) + F.lit(0.5 * math.log2(2.0 * math.pi))
        P2 = F.log2(mean) + F.lit(base_change)
        d = self.delta
        P_delta = P1 + F.lit((d + 0.5) * math.log2(d)) - P2 * F.lit(d)
        # the mean>1 'plus disabled' rule becomes a per-term zeroed factor
        # (sumpart_col then yields 0.0 exactly like the disabled scalar term)
        fac = F.when(mean > 1, F.lit(0.0)).otherwise(F.lit(factor * wqf))
        return _PL2Term(
            factor=fac,
            cl=self.c * stats["avg_length"],
            P1=P1,
            P2=P2,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
            dw=P_delta / F.lit(d + 1.0),
            plus=True,
        )


@dataclass
class _DPHTerm(TermWeight):
    log_constant: float  # log2(total_length / F)
    wqf_product_factor: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        if wdf == 0 or wdf == doc_len:
            return 0.0
        wdf_to_len = float(wdf) / doc_len
        x = 1 - wdf_to_len
        normalization = x * x / (wdf + 1)
        wt = normalization * (
            wdf * (math.log2(wdf_to_len) + self.log_constant)
            + 0.5 * math.log2(2 * math.pi * wdf * (1 - wdf_to_len))
        )
        if wt <= 0.0:
            return 0.0
        return self.wqf_product_factor * wt

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        w = wdf.cast("double")
        ln = doc_len.cast("double")
        wdf_to_len = w / ln
        x = F.lit(1.0) - wdf_to_len
        normalization = x * x / (w + F.lit(1.0))
        wt = normalization * (
            w * (F.log2(wdf_to_len) + _c(self.log_constant))
            + F.lit(0.5) * F.log2(F.lit(2 * math.pi) * w * (F.lit(1.0) - wdf_to_len))
        )
        out = _c(self.wqf_product_factor) * wt
        return F.when((wdf > 0) & (w != ln) & (wt > 0.0), out).otherwise(0.0)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        if wdf_max == 0:
            return 0.0
        wdf_lower = 1.0
        len_upper = self.doclen_upper_bound
        min_wdf_to_len = wdf_lower / len_upper
        max_product_1 = wdf_max * (1.0 - min_wdf_to_len)
        wdf_var = min(float(wdf_max), len_upper / 2.0)
        max_product_2 = wdf_var * (1.0 - wdf_var / len_upper)
        max_product = min(max_product_1, max_product_2)
        wdf_root = 0.25 * (math.sqrt(8.0 * len_upper + 9.0) - 3.0)
        if wdf_root > wdf_max:
            wdf_root = float(wdf_max)
        elif wdf_root < wdf_lower:
            wdf_root = wdf_lower
        x = 1 - wdf_root / len_upper
        max_wdf_product_normalization = wdf_root / (wdf_root + 1) * (x * x)
        max_weight = max_wdf_product_normalization * (
            self.log_constant + 0.5 * math.log2(2 * math.pi * max_product)
        )
        ub = self.wqf_product_factor * max_weight
        return ub if ub > 0.0 else 0.0


class DPHScheme:
    """DPHWeight (weight.h:1830): parameter-free DPH DFR scheme."""

    name = "dph"
    uses_termfreq = False
    needs_uniqterms = False

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _DPHTerm(
            log_constant=math.log2(stats["total_length"] / float(collfreq)),
            wqf_product_factor=wqf * factor,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _DPHTerm(
            log_constant=F.log2(
                F.lit(float(stats["total_length"])) / collfreq.cast("double")
            ),
            wqf_product_factor=wqf * factor,
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


# ---------------------------------------------------------------------------
# Language-model family (weight.h:1878-2165, weight/lmweight.cc): LMJM,
# LMDirichlet, LMAbsDiscount, LM2Stage.  Document-dependent extras
# (get_sumextra) are exposed as sumextra/maxextra hooks on the term objects;
# the OR/term sumpart paths are exact.
# ---------------------------------------------------------------------------


@dataclass
class _LMJMTerm(TermWeight):
    factor: float  # factor * wqf
    multiplier: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        w = self.multiplier * wdf / doc_len
        return self.factor * math.log(1.0 + w)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        w = _c(self.multiplier) * wdf.cast("double") / doc_len.cast("double")
        return _c(self.factor) * F.log(F.lit(1.0) + w)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        w = self.multiplier
        if wdf_max < doclen_lower_bound:
            w *= float(wdf_max) / doclen_lower_bound
        return self.factor * math.log(1.0 + w)


class LMJMScheme:
    """LMJMWeight (weight.h:1911): Jelinek-Mercer smoothing; lambda<=0 or
    >=1 selects by query length (lmweight.cc: <=2 → 0.1, <8 → (n-1)*0.1,
    else 0.7)."""

    name = "lmjm"
    uses_termfreq = False
    needs_uniqterms = False

    def __init__(self, lambda_: float = 0.0):
        self.lambda_ = lambda_

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        if collfreq == 0:
            return _LMJMTerm(factor=0.0, multiplier=0.0)
        lam = self.lambda_
        if lam <= 0.0 or lam >= 1.0:
            ql = query_length if query_length is not None else 1
            if ql <= 2:
                lam = 0.1
            elif ql < 8:
                lam = (ql - 1) * 0.1
            else:
                lam = 0.7
        multiplier = (1.0 - lam) * stats["total_length"] / (lam * collfreq)
        return _LMJMTerm(factor=factor * wqf, multiplier=multiplier)

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        lam = self.lambda_
        if lam <= 0.0 or lam >= 1.0:
            ql = query_length if query_length is not None else 1
            if ql <= 2:
                lam = 0.1
            elif ql < 8:
                lam = (ql - 1) * 0.1
            else:
                lam = 0.7
        cf = collfreq.cast("double")
        multiplier = F.when(
            collfreq > 0,
            F.lit((1.0 - lam) * stats["total_length"]) / (F.lit(lam) * cf),
        ).otherwise(0.0)
        fac = F.when(collfreq > 0, F.lit(factor * float(wqf))).otherwise(0.0)
        return _LMJMTerm(factor=fac, multiplier=multiplier)


@dataclass
class _LMDirichletTerm(TermWeight):
    factor: float
    multiplier: float
    mu: float
    query_length: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        return self.factor * math.log(1.0 + wdf * self.multiplier)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        return _c(self.factor) * F.log(
            F.lit(1.0) + wdf.cast("double") * _c(self.multiplier)
        )

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        return self.factor * math.log(1.0 + wdf_max * self.multiplier)

    # document-dependent extra (lmweight.cc LMDirichletWeight::get_sumextra)
    def sumextra(self, doc_len: float, uniqterms: float | None = None) -> float:
        extra_offset = self.query_length * math.log(self.doclen_upper_bound + self.mu)
        return extra_offset - self.query_length * math.log(doc_len + self.mu)

    def sumextra_col(self, doc_len: Column, uniqterms: Column | None = None) -> Column:
        extra_offset = self.query_length * math.log(self.doclen_upper_bound + self.mu)
        return F.lit(extra_offset) - F.lit(self.query_length) * F.log(
            doc_len.cast("double") + F.lit(self.mu)
        )

    def maxextra(self, doclen_lower_bound: int) -> float:
        extra_offset = self.query_length * math.log(self.doclen_upper_bound + self.mu)
        return extra_offset - self.query_length * math.log(doclen_lower_bound + self.mu)


class LMDirichletScheme:
    """LMDirichletWeight (weight.h:1984): Dirichlet smoothing, mu=2000,
    delta=0.05 (Dir+ — folded into factor exactly as lmweight.cc does)."""

    name = "lmdirichlet"
    uses_termfreq = False
    needs_uniqterms = False

    def __init__(self, mu: float = 2000.0, delta: float = 0.05):
        self.mu = mu
        self.delta = delta

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        f = factor * wqf
        if collfreq == 0:
            return _LMDirichletTerm(
                factor=0.0, multiplier=0.0, mu=self.mu,
                query_length=float(query_length or 1),
                doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
            )
        multiplier = stats["total_length"] / (collfreq * self.mu)
        if self.delta != 0.0:
            f *= math.log(1.0 + self.delta * multiplier)
        return _LMDirichletTerm(
            factor=f,
            multiplier=multiplier,
            mu=self.mu,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        cf = collfreq.cast("double")
        multiplier = F.lit(float(stats["total_length"])) / (cf * F.lit(self.mu))
        f = F.lit(factor * float(wqf))
        if self.delta != 0.0:
            f = f * F.log(F.lit(1.0) + F.lit(self.delta) * multiplier)
        return _LMDirichletTerm(
            factor=F.when(collfreq > 0, f).otherwise(0.0),
            multiplier=F.when(collfreq > 0, multiplier).otherwise(0.0),
            mu=self.mu,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


@dataclass
class _LMAbsDiscountTerm(TermWeight):
    factor: float
    multiplier: float
    delta: float
    query_length: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        u = float(uniqterms if uniqterms else 1)
        return self.factor * math.log(
            1.0 + (wdf - self.delta) / u * self.multiplier
        )

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        u = (
            uniqterms.cast("double")
            if uniqterms is not None
            else F.lit(1.0)
        )
        return _c(self.factor) * F.log(
            F.lit(1.0)
            + (wdf.cast("double") - _c(self.delta)) / u * _c(self.multiplier)
        )

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        x = (wdf_max - self.delta) * self.multiplier
        if doclen_lower_bound > wdf_max:
            x *= (doclen_lower_bound - 1) // wdf_max + 1
        return self.factor * math.log(1.0 + x)

    def sumextra(self, doc_len: float, uniqterms: float | None = None) -> float:
        extra_offset = self.query_length * math.log(self.doclen_upper_bound)
        u = float(uniqterms if uniqterms else 1)
        return extra_offset + self.query_length * math.log(u / doc_len)

    def sumextra_col(self, doc_len: Column, uniqterms: Column | None = None) -> Column:
        extra_offset = self.query_length * math.log(self.doclen_upper_bound)
        u = uniqterms.cast("double") if uniqterms is not None else F.lit(1.0)
        return F.lit(extra_offset) + F.lit(self.query_length) * F.log(
            u / doc_len.cast("double")
        )


class LMAbsDiscountScheme:
    """LMAbsDiscountWeight (weight.h:2053): absolute-discount smoothing,
    delta=0.7.  Needs per-doc unique-term counts (docs.uniq_terms)."""

    name = "lmabsdiscount"
    uses_termfreq = False
    needs_uniqterms = True

    def __init__(self, delta: float = 0.7):
        self.delta = delta

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        if collfreq == 0:
            return _LMAbsDiscountTerm(
                factor=0.0, multiplier=0.0, delta=self.delta,
                query_length=float(query_length or 1),
                doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
            )
        multiplier = stats["total_length"] / (self.delta * collfreq)
        return _LMAbsDiscountTerm(
            factor=factor * wqf,
            multiplier=multiplier,
            delta=self.delta,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        cf = collfreq.cast("double")
        multiplier = F.lit(float(stats["total_length"])) / (F.lit(self.delta) * cf)
        return _LMAbsDiscountTerm(
            factor=F.when(collfreq > 0, F.lit(factor * float(wqf))).otherwise(0.0),
            multiplier=F.when(collfreq > 0, multiplier).otherwise(0.0),
            delta=self.delta,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


@dataclass
class _LM2StageTerm(TermWeight):
    factor: float
    multiplier: float
    lambda_: float
    mu: float
    query_length: float
    doclen_upper_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        return self.factor * math.log(
            1.0 + wdf / (self.lambda_ * doc_len + self.mu) * self.multiplier
        )

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        return _c(self.factor) * F.log(
            F.lit(1.0)
            + wdf.cast("double")
            / (_c(self.lambda_) * doc_len.cast("double") + _c(self.mu))
            * _c(self.multiplier)
        )

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        x = wdf_max / (self.lambda_ * max(doclen_lower_bound, wdf_max) + self.mu)
        return self.factor * math.log(1.0 + x * self.multiplier)

    def sumextra(self, doc_len: float, uniqterms: float | None = None) -> float:
        lam, mu = self.lambda_, self.mu
        dm = self.doclen_upper_bound
        extra_offset = -math.log((lam * dm + mu) / (dm + mu)) * self.query_length
        return extra_offset + self.query_length * math.log(
            (lam * doc_len + mu) / (doc_len + mu)
        )

    def sumextra_col(self, doc_len: Column, uniqterms: Column | None = None) -> Column:
        lam, mu = self.lambda_, self.mu
        dm = self.doclen_upper_bound
        extra_offset = -math.log((lam * dm + mu) / (dm + mu)) * self.query_length
        dl = doc_len.cast("double")
        return F.lit(extra_offset) + F.lit(self.query_length) * F.log(
            (F.lit(lam) * dl + F.lit(mu)) / (dl + F.lit(mu))
        )


class LM2StageScheme:
    """LM2StageWeight (weight.h:2128): two-stage smoothing, lambda=0.7,
    mu=2000."""

    name = "lm2stage"
    uses_termfreq = False
    needs_uniqterms = False

    def __init__(self, lambda_: float = 0.7, mu: float = 2000.0):
        self.lambda_ = lambda_
        self.mu = mu

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        if collfreq == 0:
            return _LM2StageTerm(
                factor=0.0, multiplier=0.0, lambda_=self.lambda_, mu=self.mu,
                query_length=float(query_length or 1),
                doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
            )
        multiplier = (1 - self.lambda_) * stats["total_length"] / collfreq
        return _LM2StageTerm(
            factor=factor * wqf,
            multiplier=multiplier,
            lambda_=self.lambda_,
            mu=self.mu,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )

    def init_col(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        cf = collfreq.cast("double")
        multiplier = F.lit((1 - self.lambda_) * stats["total_length"]) / cf
        return _LM2StageTerm(
            factor=F.when(collfreq > 0, F.lit(factor * float(wqf))).otherwise(0.0),
            multiplier=F.when(collfreq > 0, multiplier).otherwise(0.0),
            lambda_=self.lambda_,
            mu=self.mu,
            query_length=float(query_length or 1),
            doclen_upper_bound=float(stats.get("doclen_upper_bound", 0) or 1),
        )


# ---------------------------------------------------------------------------
# Dice coefficient (weight.h:2210, weight/diceweight.cc).
# ---------------------------------------------------------------------------


@dataclass
class _DiceTerm(TermWeight):
    numerator: float  # wqf * 2 * factor
    query_length: float
    uniq_lower_bound: float

    def sumpart(self, wdf: float, doc_len: float, uniqterms=None) -> float:
        u = float(uniqterms if uniqterms else 1)
        return self.numerator / (self.query_length + u)

    def sumpart_col(self, wdf: Column, doc_len: Column, uniqterms=None) -> Column:
        u = uniqterms.cast("double") if uniqterms is not None else F.lit(1.0)
        return _c(self.numerator) / (_c(self.query_length) + u)

    def maxpart(self, wdf_max: int, doclen_lower_bound: int) -> float:
        return self.numerator / (self.query_length + self.uniq_lower_bound)


class DiceScheme:
    """DiceWeight (weight.h:2210): 2·|q∩d| / (|q| + |d|) over term SETS.
    Needs per-doc unique-term counts (docs.uniq_terms)."""

    name = "dice"
    uses_termfreq = False
    needs_uniqterms = True

    def init(self, termfreq, collfreq, stats, wqf=1, factor=1.0, query_length=None):
        return _DiceTerm(
            numerator=wqf * 2 * factor,
            query_length=float(query_length or 1),
            uniq_lower_bound=float(stats.get("uniqterms_lower_bound", 1) or 1),
        )

    init_col = init  # no per-term stats consulted


ALL_SCHEMES = {
    s.name: s
    for s in (
        BM25Scheme, TradScheme, TfIdfScheme, CoordScheme, BoolScheme,
        BM25PlusScheme, InL2Scheme, IfB2Scheme, IneB2Scheme, BB2Scheme,
        DLHScheme, PL2Scheme, PL2PlusScheme, DPHScheme,
        LMJMScheme, LMDirichletScheme, LMAbsDiscountScheme, LM2StageScheme,
        DiceScheme,
    )
}
