"""Block-max WAND top-k for OR-of-terms queries — the reference's
maxweight-pruning machinery (matcher/postlisttree.h:131-190,
weight/bm25weight.cc:180-202, after Macdonald/Tonellotto/Ounis 2011) at
posting-BLOCK granularity, as one Spark job:

1. scan the query terms' blocks: metadata plus docids/wdfs/doclens, never
   positions;
2. route each block to every docid range it overlaps: R = Σ termfreq //
   ``DECODE_POSTINGS_PER_TASK`` + 1 equal slices of [1, doccount], the
   first and last open-ended (R = 1: no exchange);
3. one Arrow ``mapInPandas`` kernel per range runs block-max WAND over the
   range's blocks in numpy (``_range_topk``);
4. the ranges' local top-k rows are collected in that same job and merged
   on the driver by (weight desc, doc_id asc).

A doc lies in exactly one range, and every block holding one of its
postings overlaps that range, so each range ranks complete weights of its
own docs and the global top-k is among the ranges' top-k.

Exactness argument inside one range (θ is the range's own):

- A doc's weight is 0.0 + part₁ + part₂ … in query leaf order, each part
  ``BM25Term.sumpart`` with ``sumpart_col``'s operations, so it equals the
  exhaustive path's ``_leaf_fold`` bit for bit.  Parts are ≥ 0 and float
  addition is monotone, so a partial fold never exceeds the full one.
- bound(b) = maxpart at block b's (max_wdf, min_doclen) ≥ every part in b;
  U_t = the highest bound among term t's still-undecoded blocks.
- Rounds: decode blocks, set θ = the k-th best partial weight (−inf below
  k docs; a lower bound on the range's k-th best weight), then decode
  every undecoded block b of term t with
      bound(b) + Σ_{t'≠t} U_{t'}  ≥  θ − ε,
  until a round decodes nothing.  The first round decodes each term's
  ``PROBE_BLOCKS_PER_TERM`` highest-bound blocks.  At that fixpoint a doc
  in no decoded block has all its parts in undecoded blocks, so for any
  term t it matches, weight ≤ bound(b_t) + Σ_{t'≠t} U_{t'} < θ: strictly
  below k docs, out of the top-k under any tie-break.  U_t falls as a
  term's high-impact blocks are decoded, so on an impact-tiered index a
  term's lower tiers are bounded by their own maximum, not the term's.
- A doc seen in a decoded block may have parts in undecoded ones.  It is a
  candidate when partial + Σ_{t unseen in d} U_t ≥ θ − ε; every other doc
  weighs < θ.  Each candidate is rescored against the undecoded blocks of
  its unseen terms whose docid range covers it, so its weight is complete,
  and the range's top-k is taken among candidates.
- ε = 1e-9 (1 + Σ_t max bound) absorbs float64 rounding between bounds,
  their sums and the folded weights.

Pruned blocks are never decoded; at 10^12-doc scale the win is the
skipped decode of hot-term posting lists.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.weights import BM25Term
from ..session import local_df
from .matcher import DECODE_POSTINGS_PER_TASK, decode_batch, term_fields

# the first round decodes this many highest-bound blocks per term to seed θ
PROBE_BLOCKS_PER_TERM = 4

#: kernel rows: a range's top-k (doc_id, weight), then one telemetry row
#: (doc_id null, weight θ, its block count, how many it never decoded)
_KERNEL_SCHEMA = "doc_id long, weight double, blocks long, pruned long"


def wand_topk(
    spark: SparkSession,
    postings: DataFrame,
    term_weights: dict[str, BM25Term],
    termfreq: int,
    doccount: int,
    k: int,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact top-k (doc_id, weight) for OR over ``term_weights``' keys, in
    that (query leaf) order.

    ``postings``: the full blocks table (filtered on term by parquet
    predicate pushdown).  ``termfreq``: the terms' Σ termfreq, which sizes
    the ranges.  ``stats_out``: pass a dict to receive the pruning
    telemetry from the same job: ``theta`` (the highest range θ),
    ``blocks_total`` and ``blocks_pruned`` (never decoded), counted per
    range, so a block straddling a range edge counts once in each.
    """
    ranges = termfreq // DECODE_POSTINGS_PER_TASK + 1
    rows = []
    if term_weights:
        blocks = postings.filter(F.col("term").isin(list(term_weights))).select(
            "term", "block_no", "first_docid", "last_docid", "n", "max_wdf",
            "min_doclen", "docids", "wdfs", "doclens",
        )
        if ranges == 1:
            blocks = blocks.coalesce(1)
        else:
            # R and doccount are data (a term-keyed map), not literals
            # inlined into generated code
            c = term_fields({t: [{"r": ranges, "n": doccount}] for t in term_weights})
            rng = "least(greatest(({} - 1) * c.r div c.n, 0), c.r - 1)"
            lo, hi = (F.expr(rng.format(col)) for col in ("first_docid", "last_docid"))
            blocks = (
                blocks.withColumn("c", c[0])
                .withColumn("rng", F.explode(F.sequence(lo, hi)))
                .drop("c")
                .repartition(ranges, "rng")
            )
        kernel = _kernel(term_weights, k, ranges, doccount)
        rows = blocks.mapInPandas(kernel, _KERNEL_SCHEMA).collect()
    hits = sorted(
        ((r["weight"], r["doc_id"]) for r in rows if r["doc_id"] is not None),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    if stats_out is not None:
        tele = [r for r in rows if r["doc_id"] is None]
        stats_out.update(
            theta=max((r["weight"] for r in tele), default=float("-inf")),
            blocks_total=sum(r["blocks"] for r in tele),
            blocks_pruned=sum(r["pruned"] for r in tele),
        )
    return local_df(spark, [(d, w) for w, d in hits], "doc_id long, weight double")


def _kernel(term_weights: dict[str, BM25Term], k: int, ranges: int, doccount: int):
    """The ``mapInPandas`` function: a partition's blocks → each of its
    ranges' top-k rows and telemetry row (``_KERNEL_SCHEMA``).  With R > 1
    the hash exchange may put several ranges in one partition."""
    leaf_of = {t: j for j, t in enumerate(term_weights)}
    weights = list(term_weights.values())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches) or [pd.DataFrame()], ignore_index=True)
        if pdf.empty:
            return
        pdf["leaf"] = pdf["term"].map(leaf_of)
        groups = pdf.groupby("rng") if ranges > 1 else [(0, pdf)]
        for r, blk in groups:
            def in_range(doc, r=r):
                return np.clip((doc - 1) * ranges // doccount, 0, ranges - 1) == r

            docs, ws, theta, pruned = _range_topk(blk.reset_index(drop=True), weights, k, in_range)
            nulls = [None] * len(docs)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array([*docs.tolist(), None], dtype="Int64"),
                    "weight": np.append(ws, theta),
                    "blocks": pd.array([*nulls, len(blk)], dtype="Int64"),
                    "pruned": pd.array([*nulls, pruned], dtype="Int64"),
                }
            )

    return run


def _range_topk(blk: pd.DataFrame, weights: list[BM25Term], k: int, in_range):
    """Block-max WAND over one range's blocks (the module docstring's
    rounds and rescore) → (top-k doc ids, their weights, θ, blocks never
    decoded).  ``in_range`` masks the decoded doc ids that belong to the
    range."""
    nl = len(weights)
    leaf = blk["leaf"].to_numpy(np.int64)
    first = blk["first_docid"].to_numpy(np.int64)
    last = blk["last_docid"].to_numpy(np.int64)
    bound = np.zeros(len(blk))
    for j, w in enumerate(weights):
        m = leaf == j
        bound[m] = w.maxpart(blk["max_wdf"].to_numpy()[m], blk["min_doclen"].to_numpy()[m])
    eps = 1e-9 * (1.0 + sum(bound[leaf == j].max(initial=0.0) for j in range(nl)))
    decoded = np.zeros(len(blk), dtype=bool)
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []

    def decode(idx: np.ndarray) -> None:
        cols = decode_batch(blk.iloc[idx])
        doc = cols["doc_id"]
        lf = np.repeat(leaf[idx], blk["n"].to_numpy(np.int64)[idx])
        keep = in_range(doc)
        doc, lf, wdf, dl = doc[keep], lf[keep], cols["wdf"][keep], cols["doc_len"][keep]
        score = np.zeros(len(doc))
        for j in np.unique(lf):
            m = lf == j
            score[m] = weights[j].sumpart(wdf[m], dl[m])
        parts.append((doc, lf, score))
        decoded[idx] = True

    def fold():
        doc, lf, score = (np.concatenate(x) for x in zip(*parts))
        docs, inv = np.unique(doc, return_inverse=True)
        s = np.zeros((len(docs), nl))
        s[inv, lf] = score
        seen = np.zeros((len(docs), nl), dtype=bool)
        seen[inv, lf] = True
        total = np.zeros(len(docs))
        for j in range(nl):  # leaf order: the exhaustive fold's sums
            total = total + s[:, j]
        theta = -np.inf if len(total) < k else np.partition(total, len(total) - k)[len(total) - k]
        return docs, total, seen, theta

    by_bound = np.lexsort((blk["block_no"].to_numpy(), -bound, leaf))
    rank = np.arange(len(blk)) - np.searchsorted(leaf[by_bound], leaf[by_bound])
    todo = by_bound[rank < PROBE_BLOCKS_PER_TERM]
    while todo.size:
        decode(todo)
        docs, total, seen, theta = fold()
        # U_t: the highest bound among term t's undecoded blocks
        u = np.array([bound[(leaf == j) & ~decoded].max(initial=0.0) for j in range(nl)])
        todo = np.flatnonzero(~decoded & (bound + (u.sum() - u)[leaf] >= theta - eps))

    if u.any():
        cand = total + (~seen) @ u >= theta - eps
        need = np.zeros(len(blk), dtype=bool)
        for j in range(nl):
            c = docs[cand & ~seen[:, j]]  # sorted: np.unique's order
            m = (leaf == j) & ~decoded
            need[m] = np.searchsorted(c, first[m], "left") < np.searchsorted(c, last[m], "right")
        cand_docs = docs[cand]
        if need.any():
            decode(np.flatnonzero(need))
            docs, total, _, _ = fold()
        keep = np.isin(docs, cand_docs)
        docs, total = docs[keep], total[keep]
    top = np.lexsort((docs, -total))[:k]
    return docs[top], total[top], theta, int((~decoded).sum())
