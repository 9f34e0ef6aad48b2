"""Block-max WAND top-k for OR-of-terms queries — the reference's
maxweight-pruning machinery (matcher/postlisttree.h:131-190,
weight/bm25weight.cc:180-202, after Macdonald/Tonellotto/Ounis 2011)
re-expressed at posting-BLOCK granularity as DataFrame plans.

Exactness argument (why pruned results equal the exhaustive ranking):

1. θ is always a LOWER bound on the true k-th best total score (it is the
   k-th best of exactly-computed partial scores, and totals ≥ partials).
2. A block b of term t is pruned only when
      bound(b) + Σ_{t'≠t} M_{t'}  <  θ      (strictly)
   where bound(b) = maxpart evaluated at (max_wdf_b, min_doclen_b) and
   M_{t'} is term t''s global maxpart.  Any doc d appearing ONLY in pruned
   blocks has, for the block b_t(d) of any term t it matches,
      score(d) ≤ bound(b_t(d)) + Σ_{t'≠t} M_{t'} < θ ≤ k-th score,
   so d is strictly worse than k docs and cannot enter the top-k under any
   tie-break.
3. Docs seen in surviving blocks may still have contributions hiding in
   pruned blocks, so before ranking, candidates with
      partial(d) + Σ_{t ∉ seen(d)} M_t ≥ θ'
   (θ' = k-th best partial) are rescored EXACTLY against the pruned blocks
   whose docid range covers them (block ranges make this a cheap
   exists-filter).  Docs failing that bound satisfy total(d) < θ' ≤ k-th
   total → safe to drop.

The win at 10^12 scale: hot-term posting lists (10^11 postings) are decoded
only for the handful of blocks whose block-max can still beat θ; everything
else is skipped from parquet metadata alone (n/max_wdf/min_doclen columns —
no binary columns read).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.weights import BM25Params, BM25Term, data_fields, over_fields
from ..session import local_df
from .indexer import TIER_SHIFT
from .matcher import decode_blocks, term_fields

# phase 1 scores this many highest-bound blocks per term exactly to seed θ
PROBE_BLOCKS_PER_TERM = 4


def _bound_col(params: BM25Params, tw_col, lf_col, max_wdf, min_doclen):
    """Block-level maxpart as a Column expression (bm25weight.cc:180-202
    evaluated at the block's max_wdf / min_doclen)."""
    p = params
    wdf = max_wdf.cast("double")
    denom = F.lit(p.k1)
    if p.k1 != 0.0 and p.b != 0.0:
        normlen_lb = F.greatest(
            F.greatest(wdf, min_doclen.cast("double")) * lf_col, F.lit(p.min_normlen)
        )
        denom = denom * (normlen_lb * F.lit(p.b) + F.lit(1 - p.b))
    denom = denom + wdf
    return tw_col * (wdf / denom)


def wand_topk(
    spark: SparkSession,
    postings: DataFrame,
    term_weights: dict[str, BM25Term],
    term_stats: dict[str, tuple[int, int, int]],
    doclen_lower_bound: int,
    k: int,
    params: BM25Params,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact top-k (doc_id, weight) for OR over ``term_weights`` keys.

    ``postings``: the full blocks table (will be filtered on term — parquet
    predicate pushdown + metadata-only column pruning for the bound pass).
    ``stats_out``: pass a dict to receive pruning telemetry
    (blocks_total / blocks_pruned / candidates) — the scale evidence is the
    pruned fraction, since at 10^12-doc block counts skipped blocks are
    skipped parquet IO.
    """
    terms = sorted(term_weights)
    if not terms:
        if stats_out is not None:
            stats_out.update(
                {"theta": float("-inf"), "blocks_total": 0, "blocks_pruned": 0}
            )
        return local_df(spark, [], "doc_id long, weight double")

    # Per-term constants are data keyed by term (``term_fields``): a
    # broadcast join would cost a job per reference, and a double literal
    # is inlined into generated code, so each query would compile new
    # classes.  The query-wide scalars ride in every term's entry, since
    # only a lookup keyed by a column stays data.
    gmax_of = {
        t: float(term_weights[t].maxpart(term_stats[t][2], doclen_lower_bound))
        for t in terms
    }
    total_gmax = float(sum(gmax_of.values()))
    # Exclusion decisions must be conservative under float64 noise: the
    # upper bounds are sums whose summation order differs between the
    # driver (total_gmax) and executors (missing/rest), so two
    # mathematically-equal quantities can differ by an ulp.  Slack all
    # "cannot beat θ" comparisons by a relative epsilon.
    eps = 1e-9 * (1.0 + abs(total_gmax))
    consts = {
        t: {**data_fields(term_weights[t]), "gmax": gmax_of[t], "total": total_gmax, "eps": eps}
        for t in terms
    }
    w_row = over_fields(term_weights[terms[0]], F.col("c"))

    def with_consts(df, extra=None):
        """``df`` with its term's constants (plus ``extra[term]``) in ``c``."""
        rows = {t: [{**v, **(extra or {}).get(t, {})}] for t, v in consts.items()}
        return df.withColumn("c", term_fields(rows)[0])

    def with_bound(df):
        # rest = best any doc in this block could gain from the OTHER terms
        return df.withColumn(
            "bound",
            _bound_col(
                params, F.col("c.termweight"), F.col("c.len_factor"),
                F.col("max_wdf"), F.col("min_doclen"),
            ),
        ).withColumn("rest", F.col("c.total") - F.col("c.gmax"))

    # every decode below reads a subset of these terms' postings, so their
    # Σ termfreq sizes its partitions (decode_blocks ``postings``)
    postings_n = sum(term_stats[t][0] for t in terms)

    meta = with_bound(
        with_consts(
            postings.filter(F.col("term").isin(terms)).select(
                "term", "block_no", "n", "max_wdf", "min_doclen",
                "first_docid", "last_docid",
            )
        )
    ).persist()

    # ---- Phase 1: ONE collect serves θ AND the tier table ----
    # θ comes from exactly scoring the densest/highest-bound few blocks per
    # term; the per-(term, tier) aggregate feeds rule B's cutoff choice and
    # the phase-3 gate.  Both results are tiny (k rows + terms × tiers
    # rows), so they ride one union → one driver round-trip instead of two.
    w = Window.partitionBy("term").orderBy(F.desc("bound"), F.asc("block_no"))
    probe_keys = (
        meta.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PROBE_BLOCKS_PER_TERM)
        .select("term", "block_no")
    )
    probe_blocks = postings.join(F.broadcast(probe_keys), ["term", "block_no"], "left_semi")
    probe_scores = _score_decoded(probe_blocks, with_consts, w_row, postings_n)
    probe_part = (
        probe_scores.groupBy("doc_id")
        .agg(F.sum("s").alias("p"))
        .orderBy(F.desc("p"))
        .limit(k)
        .select(
            F.lit("kth").alias("kind"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("int").alias("tier"),
            F.col("p").alias("supb"),
            F.lit(None).cast("double").alias("minb"),
            F.lit(None).cast("long").alias("cnt"),
        )
    )
    tier_part = (
        meta.groupBy(
            "term", F.shiftright(F.col("block_no"), TIER_SHIFT).alias("tier")
        )
        .agg(
            F.max("bound").alias("supb"),
            F.min("bound").alias("minb"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.lit("tier").alias("kind"), "term", "tier", "supb", "minb", "cnt"
        )
    )
    both = probe_part.unionByName(tier_part).collect()
    kth = sorted(
        (float(r["supb"]) for r in both if r["kind"] == "kth"), reverse=True
    )
    theta = kth[k - 1] if len(kth) >= k else float("-inf")
    tier_rows = [
        (r["term"], int(r["tier"]), float(r["supb"]), float(r["minb"]), int(r["cnt"]))
        for r in both
        if r["kind"] == "tier"
    ]

    # ---- Phase 2: prune blocks that cannot beat θ ----
    may_prune = False
    survive = None
    attach = with_consts
    if math.isfinite(theta):
        # Rule B (tier combination): pick per-term impact-tier cutoffs whose
        # sup-bounds SUM below θ.  A doc living only in pruned tiers scores
        # ≤ Σ_t sup_t < θ; a doc seen in any surviving block is exactly
        # rescored against pruned blocks by phase 3.  Unioning with rule A
        # stays sound: an entirely-unseen doc with ANY rule-A-pruned block
        # is below θ by rule A's own bound, else all its blocks are
        # rule-B-pruned and the sum bound applies.
        tier_cut = _tier_cutoffs(tier_rows, theta - eps)
        phase2 = {
            t: {
                "theta_eps": theta - eps,
                "cut": F.array(*[F.lit(x) for u, x in tier_cut if u == t]).cast("array<long>"),
            }
            for t in terms
        }

        def attach(df):
            return with_consts(df, phase2)

        # Rule A (per-block): bound(b) + Σ_{t'≠t} gmax_{t'} < θ.  Useless
        # for OR queries whose other term is hot (rest alone ≈ θ).
        survive = (F.col("bound") + F.col("rest") >= F.col("c.theta_eps")) & ~F.array_contains(
            F.col("c.cut"), F.shiftright(F.col("block_no"), TIER_SHIFT)
        )
        # exact phase-3 gate from the already-collected tier table: rule A
        # prunes ≥1 block iff some tier's MIN bound plus that term's rest
        # is below θ (rest = total_gmax − gmax_t, a per-term constant)
        may_prune = bool(tier_cut) or any(
            minb + (total_gmax - gmax_of[t]) < theta - eps
            for t, _, _, minb, _ in tier_rows
        )
    if stats_out is not None:
        # exact pruning telemetry costs ONE extra tiny aggregation job —
        # only runs when the caller asks for it (tests / bench audits)
        stats_out["theta"] = theta
        if survive is not None:
            srow = attach(meta).agg(
                F.count("*").alias("tot"),
                F.sum(F.when(survive, 0).otherwise(1)).alias("pr"),
            ).collect()[0]
            stats_out["blocks_total"] = int(srow["tot"])
            stats_out["blocks_pruned"] = int(srow["pr"] or 0)
        else:
            stats_out["blocks_total"] = None
            stats_out["blocks_pruned"] = 0
    # Survival is a pure predicate over block METADATA columns, so it
    # applies directly on the postings scan — no key semi-join, no
    # broadcast-exchange job.  (Same IO either way: survivors' binary
    # columns must be read regardless; pruned blocks' binaries are never
    # decoded.)
    base_post = postings.filter(F.col("term").isin(terms))
    if survive is not None:
        scored_post = with_bound(attach(base_post))
        surv_blocks = scored_post.filter(survive)
        pruned_all = scored_post.filter(~survive)
    else:
        surv_blocks = base_post
        pruned_all = None
    single_term = len(terms) == 1
    if single_term:
        # one term → every doc lives in exactly one (term, span) block, so
        # per-posting scores ARE per-doc totals: skip the groupBy shuffle
        # (and the persist — phase 3 never re-reads single-term partials),
        # making the scoring phase decode → TakeOrderedAndProject only
        partials = _score_decoded(surv_blocks, attach, w_row, postings_n).select(
            "doc_id", F.col("s").alias("partial")
        )
    else:
        partials = (
            _score_decoded(surv_blocks, attach, w_row, postings_n)
            .groupBy("doc_id")
            .agg(
                F.sum("s").alias("partial"),
                # the most the doc can gain from the terms it was not seen
                # in: total_gmax − Σ gmax over the terms it was seen in
                (F.max("c.total") - F.sum("c.gmax")).alias("missing"),
                F.max("c.eps").alias("eps"),
            )
        ).persist()

    # ---- Phase 3: exact rescore of candidates against PRUNED blocks whose
    # docid range covers them.  The candidate set stays a DataFrame end to
    # end (no driver round-trip / no literal id list — the filter can pass
    # many docs when bounds are loose): a broadcast range-join marks the
    # pruned blocks any candidate falls into, and a broadcast semi-join
    # restricts the decoded extra scores to candidates.
    #
    # Skipped entirely when it cannot change anything: with a single term
    # every doc lives in exactly one (term, span) block, so a surviving
    # doc's partial IS its total; and with zero pruned blocks there is
    # nothing to rescore against — in both cases partials ARE totals and
    # the θ'/candidate machinery (one collect + three joins) would only
    # add jobs.
    cand = None
    if math.isfinite(theta) and len(terms) > 1 and may_prune:
        # θ' = k-th best partial (tighter than θ) — computed IN the plan
        # (global top-k limit + min), not via a driver collect: it only
        # feeds the candidate filter, so it can stay executor-side
        kth2_df = (
            partials.orderBy(F.desc("partial"))
            .limit(k)
            .agg(
                F.min("partial").alias("theta2"), F.count("*").alias("nk")
            )
        )

        # candidates possibly in top-k: partial + missing-terms bound ≥ θ'
        # (missing bound clamped at 0: a doc seen in every term has nothing
        # to gain, even if the two float sums disagree by an ulp); with
        # fewer than k partials everyone is a candidate (θ' = −inf)
        cand = (
            partials.crossJoin(F.broadcast(kth2_df))
            .filter(
                (F.col("nk") < F.lit(k))
                | (
                    F.col("partial") + F.greatest(F.col("missing"), F.lit(0.0))
                    >= F.col("theta2") - F.col("eps")
                )
            )
            .select("doc_id", "partial")
            .persist()
        )
        cand_ids_df = cand.select("doc_id")
        # one broadcast range semi-join picks the pruned blocks any
        # candidate falls into (block docid ranges make coverage cheap)
        extra_blocks = pruned_all.join(
            F.broadcast(cand_ids_df),
            (F.col("doc_id") >= F.col("first_docid"))
            & (F.col("doc_id") <= F.col("last_docid")),
            "left_semi",
        )
        extra = (
            _score_decoded(extra_blocks, attach, w_row, postings_n)
            .join(F.broadcast(cand_ids_df), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.sum("s").alias("extra"))
        )
        exact = (
            cand.join(extra, "doc_id", "left")
            .select(
                "doc_id",
                (F.col("partial") + F.coalesce(F.col("extra"), F.lit(0.0))).alias("weight"),
            )
        )
    else:
        exact = partials.select("doc_id", F.col("partial").alias("weight"))

    # Materialize the k result rows (tiny) so every intermediate cache can
    # be released NOW — returning a lazy plan over `partials`/`cand` would
    # leak their persisted partitions for the caller's lifetime (long-lived
    # sessions accumulate cached blocks otherwise).
    rows = (
        exact.orderBy(F.desc("weight"), F.asc("doc_id")).limit(k).collect()
    )
    meta.unpersist()
    if not single_term:
        partials.unpersist()
    if cand is not None:
        cand.unpersist()
    out = [(r["doc_id"], float(r["weight"])) for r in rows]
    return local_df(spark, out, "doc_id long, weight double")


def _tier_cutoffs(
    tier_rows: list[tuple[str, int, float, float, int]], theta_eps: float
) -> list[tuple[str, int]]:
    """Choose the (term, tier) set to prune under rule B, from the
    already-collected (term, tier, supb, minb, cnt) table (≤ terms × tiers
    rows — it rode the phase-1 collect, no extra job).

    Per term, the candidate cutoffs are suffixes of its impact tiers
    ordered by sup-bound descending, always keeping the top-bound tier
    (so every term's high-impact postings are seen and phase-3 candidate
    bounds stay tight).  Enumerate the per-term combinations (driver-side)
    and keep the one pruning the most blocks subject to
    Σ_t sup(pruned tiers of t) < θ − eps.
    Single-tier indexes (impact_tiers=1) yield no options → empty result.
    """
    import itertools

    per_term: dict[str, list] = {}
    for t, tier, supb, _minb, cnt in tier_rows:
        per_term.setdefault(t, []).append((tier, supb, cnt))
    opts = {}
    for t, lst in per_term.items():
        lst.sort(key=lambda x: -x[1])  # sup-bound descending
        o = [((), 0.0, 0)]  # prune nothing
        for j in range(1, len(lst)):
            pruned = lst[j:]
            o.append(
                (
                    tuple(p[0] for p in pruned),
                    max(p[1] for p in pruned),
                    sum(p[2] for p in pruned),
                )
            )
        opts[t] = o
    terms_l = list(opts)
    n_combos = 1
    for t in terms_l:
        n_combos *= len(opts[t])
    best_gain, best_combo = 0, None
    if n_combos <= 50_000:
        combos = itertools.product(*(opts[t] for t in terms_l))
    else:
        # greedy fallback for very wide ORs: consider one term's suffixes
        # at a time, others unpruned
        combos = (
            tuple(
                opt if i == j else opts[terms_l[i]][0]
                for i in range(len(terms_l))
            )
            for j in range(len(terms_l))
            for opt in opts[terms_l[j]][1:]
        )
    for combo in combos:
        s = sum(c[1] for c in combo if c[0])
        if s < theta_eps:
            gain = sum(c[2] for c in combo)
            if gain > best_gain:
                best_gain, best_combo = gain, combo
    out = []
    if best_combo:
        for t, c in zip(terms_l, best_combo):
            out.extend((t, tier) for tier in c[0])
    return out


def _score_decoded(blocks: DataFrame, attach, w: BM25Term, postings: int) -> DataFrame:
    """Decode blocks → per-posting BM25 sumpart Column (bm25weight.cc:166-178).

    ``attach`` re-attaches the per-term constants ``c`` (decode_blocks
    keeps only the core posting columns), whose fields ``w`` reads;
    ``postings`` bounds the blocks' postings and sizes the decode."""
    dec = attach(decode_blocks(blocks, postings=postings))
    return dec.select(
        "doc_id", "c", w.sumpart_col(F.col("wdf"), F.col("doc_len")).alias("s")
    )
