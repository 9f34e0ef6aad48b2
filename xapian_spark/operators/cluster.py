"""Document clustering — the reference's cluster/ subsystem
(include/xapian/cluster.h:520-674: KMeans + LCD + TF-IDF cosine similarity).

- lloyd_kmeans: deterministic fixed-iteration Lloyd's over an array column
  (cross-engine reproducible; the engine's one k-means — it backs the
  driver's kmeans oracle entry and trains AnnIvfIndex's quantizer).
- lcd_clusters: the LCD clusterer (cluster.h:662-674,
  cluster/lcd_clusterer.cc — Gil-Costa et al. 2013) over an MSet.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from .indexer import IndexTables
from .matcher import decode_blocks

# lloyd_kmeans scores at most this many (row, centroid, dim) differences at
# once (32 MB of float64 per temporary), whatever the centroid count k·dim
_DIFF_ELEMS = 1 << 22


def lcd_point_vectors(
    index: IndexTables, mset_ids: DataFrame, size: int
) -> DataFrame:
    """Per-doc TF-IDF point vectors exactly as the reference's Point ctor
    builds them for a clusterer (cluster/cluster.cc:217-244), restricted to
    the given MSet doc set:

    - termfreq is counted WITHIN the mset (TermListGroup, cluster.cc:55-99);
    - terms indexing ≤1 or all ``size`` mset docs are dropped;
    - wt = (1 + ln(wdf)) · ln(size / termfreq); wdf=0 filter terms skipped.

    Returns (doc_id, term, wt) rows — sparse by construction.  Everything is
    one decode + two hash aggregations; the mset semi-join prunes the
    postings scan to the mset's blocks first.
    """
    dec = (
        decode_blocks(index.postings)
        .join(mset_ids.select("doc_id"), "doc_id", "left_semi")
        .filter(F.col("wdf") > 0)
    )
    tf_mset = dec.groupBy("term").agg(
        F.count_distinct("doc_id").alias("mtf")
    )
    return (
        dec.join(tf_mset, "term")
        .filter((F.col("mtf") > 1) & (F.col("mtf") < size))
        .select(
            "doc_id",
            "term",
            (
                (F.lit(1.0) + F.log(F.col("wdf").cast("double")))
                * F.log(F.lit(float(size)) / F.col("mtf").cast("double"))
            ).alias("wt"),
        )
    )


def lcd_clusters(
    spark,
    index: IndexTables,
    mset: DataFrame,
    k: int,
    round_digits: int = 6,
) -> DataFrame:
    """LCDClusterer::cluster (cluster/lcd_clusterer.cc:62-153): greedy
    nearest-neighbour clustering of an MSet into ``k`` clusters of
    near-equal size — n clusters get x−1 points and k−n get x, where
    n = k − size%k, x = size/k + 1 (the reference's size-balancing note,
    lcd_clusterer.cc:89-99).

    Round structure (lcd_clusterer.cc:102-150): the first center is the
    highest-weight mset doc; each round takes the num_points−1 docs NEAREST
    to the center (CosineDistance.similarity = 1 − dot/√(magA·magB), 0.0 if
    either magnitude is 0 — cosine_sim.cc:39-61) into the center's cluster,
    then the FARTHEST remaining doc becomes the next center.

    Spark shape: point vectors and ALL pairwise dots are computed in ONE
    distributed pass (self-join on term — the classic sparse-cosine
    pattern; mset size is bounded by the query's maxitems, so the pair
    count is ≤ size², not corpus-sized).  The greedy selection itself is
    inherently sequential and runs driver-side over the collected
    (size²/2)-entry distance table — zero per-round Spark jobs.

    Determinism note: the reference sorts candidate distances with an
    unstable std::sort (lcd_clusterer.cc:40-45,124), so its result is
    unspecified under exact distance ties; here distances are rounded to
    ``round_digits`` and ties break by mset rank (weight DESC, doc_id ASC)
    — one valid execution of the reference algorithm, made reproducible.

    Returns (doc_id, cluster) with clusters numbered 0..k−1 in formation
    order (ClusterSet indexing).
    """
    if k <= 0:
        raise ValueError(
            "Number of required clusters should be greater than zero"
        )  # lcd_clusterer.cc:51-53
    mrows = mset.select("doc_id", "weight").collect()
    # multimap<weight, Point, greater> iteration order ≡ mset rank order
    order = [
        int(r["doc_id"])
        for r in sorted(mrows, key=lambda r: (-float(r["weight"]), int(r["doc_id"])))
    ]
    size = len(order)
    if size == 0:
        return local_df(spark, [], "doc_id long, cluster int")
    k_ = min(k, size)

    pts = lcd_point_vectors(index, mset.select("doc_id"), size)
    mags = {
        int(r["doc_id"]): float(r["m"])
        for r in pts.groupBy("doc_id")
        .agg(F.sum(F.col("wt") * F.col("wt")).alias("m"))
        .collect()
    }
    a = pts.select(
        F.col("doc_id").alias("a"), "term", F.col("wt").alias("wa")
    )
    b = pts.select(
        F.col("doc_id").alias("b"), "term", F.col("wt").alias("wb")
    )
    dots = {
        (int(r["a"]), int(r["b"])): float(r["dot"])
        for r in a.join(b, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        .collect()
    }

    def dist(c: int, p: int) -> float:
        mc, mp = mags.get(c, 0.0), mags.get(p, 0.0)
        if mc == 0.0 or mp == 0.0:
            return 0.0  # cosine_sim.cc:46-47
        dot = dots.get((c, p) if c < p else (p, c), 0.0)
        return round(1.0 - dot / math.sqrt(mc * mp), round_digits)

    rank = {d: i for i, d in enumerate(order)}
    n = k_ - size % k_
    x = size // k_ + 1
    remaining = list(order)
    center = remaining[0]
    out: list[tuple[int, int]] = []
    for cnum in range(1, k_ + 1):
        num_points = x - 1 if cnum <= n else x
        cand = sorted(
            (d for d in remaining if d != center),
            key=lambda d: (dist(center, d), rank[d]),
        )
        members = cand[: num_points - 1] + [center]
        out.extend((d, cnum - 1) for d in members)
        if cnum == k_:
            break
        remaining = [d for d in remaining if d not in set(members)]
        center = cand[-1]
    return local_df(spark, out, "doc_id long, cluster int")


def lloyd_kmeans(
    emb: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd's k-means over an array column —
    (id, cluster) after ``iters`` assignment steps.

    The reference's clusterer (cluster/kmeans.cc, include/xapian/
    cluster.h:520-674) is deterministic given its seed and iteration cap;
    this is the analog engineered for CROSS-ENGINE reproducibility so the
    driver's DuckDB oracle can replay it exactly:

    - init: centroids = the vectors of the ``k`` smallest ids (no RNG);
    - assignment: squared-euclidean distance ROUNDED to ``round_digits``
      before the argmin, ties to the smaller cluster index — rounding
      absorbs sum-order ulp drift between engines;
    - update: per-dimension mean, ROUNDED to ``round_digits`` — resets
      float state each iteration so drift cannot compound.

    Scale shape: assignment is a narrow no-shuffle projection against k
    driver-held centroids (k·dim doubles — the canonical distributed
    Lloyd's); the update is one posexplode + groupBy(cluster, dim) agg of
    n·dim rows.  ``iters`` assignment steps run ``iters - 1`` updates.
    """
    base = emb.select(F.col(id_col), F.col(vec_col))
    init = sorted(
        base.orderBy(id_col).limit(k).collect(), key=lambda r: r[id_col]
    )
    # init vectors stay UNROUNDED: parquet float32 → double is exact on
    # both engines, while a Python round() here would use banker's
    # rounding and diverge from SQL round() on exact half-way values
    cents: dict[int, list[float]] = {
        j: [float(x) for x in r[vec_col]] for j, r in enumerate(init)
    }

    def assign_df(cents_now):
        # Raw squared distances in ONE vectorized kernel — np.cumsum along
        # the dimension axis IS the zip_with/aggregate left fold
        # (((0+d0)+d1)+…) bit-for-bit, so the JVM-side round/argmin below
        # sees the identical doubles the interpreted HOF produced (the HOF
        # evaluated k·dim lambdas per row and was the bulk of an IVF/kmeans
        # build).  Rounding and tie-breaks stay Column expressions so the
        # cross-engine replay semantics are untouched.
        import numpy as np
        import pandas as pd

        ks = sorted(cents_now)
        C = np.array([cents_now[j] for j in ks], dtype=np.float64)
        # row chunks bound the rows×k×dim diff tensor; each row's cumsum
        # runs along its own dimension axis, so chunking keeps every bit
        step = max(1, _DIFF_ELEMS // C.size)

        def kern(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                d = np.empty((len(X), len(ks)))
                for lo in range(0, len(X), step):
                    diff = X[lo:lo + step, None, :] - C[None, :, :]
                    d[lo:lo + step] = np.cumsum(diff * diff, axis=2)[:, :, -1]
                out = {id_col: pdf[id_col]}
                for i, j in enumerate(ks):
                    out[f"_d{j}"] = d[:, i]
                yield pd.DataFrame(out)

        schema = f"{id_col} long, " + ", ".join(f"_d{j} double" for j in ks)
        dcols = base.mapInPandas(kern, schema)
        dists = {j: F.round(F.col(f"_d{j}"), round_digits) for j in ks}
        best = F.least(*dists.values())
        cl = F.lit(max(dists))
        for j in sorted(dists, reverse=True)[1:]:  # smallest index wins ties
            cl = F.when(dists[j] == best, F.lit(j)).otherwise(cl)
        return dcols.select(F.col(id_col), cl.cast("int").alias("cluster"))

    assigned = assign_df(cents)
    for _ in range(iters - 1):
        rows = (
            emb.join(assigned, id_col)
            .select("cluster", F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("v"))
            .collect()
        )
        new_cents: dict[int, dict[int, float]] = {}
        for r in rows:
            new_cents.setdefault(r["cluster"], {})[r["dim"]] = r["v"]
        cents = {
            j: [d[i] for i in sorted(d)] for j, d in new_cents.items()
        }
        assigned = assign_df(cents)
    return assigned
