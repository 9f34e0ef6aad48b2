"""ANN LSH index tests: recall@k vs brute force, candidate pruning, and the
batch knn_join path — the pytest stand-in for the missing SQL oracle
(approximate ops get a recall bound instead of hash equality).
"""

from __future__ import annotations

import math

import pytest


def _synthetic_embeddings(spark, n=400, dim=16):
    """Deterministic clustered vectors: 8 seed directions + small per-row
    deterministic jitter, so LSH buckets carry real structure."""
    import hashlib

    rows = []
    for i in range(n):
        c = i % 8
        vec = []
        for j in range(dim):
            seed = int(hashlib.md5(f"c{c}:{j}".encode()).hexdigest()[:8], 16)
            base = seed / 0x7FFFFFFF - 1.0
            jit_seed = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16)
            jitter = (jit_seed / 0x7FFFFFFF - 1.0) * 0.15
            vec.append(float(base + jitter))
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def emb(spark):
    df = _synthetic_embeddings(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def ann(emb):
    from xapian_spark.operators.similarity import AnnLshIndex

    ix = AnnLshIndex(emb, dim=16, n_planes=16, bands=4)
    yield ix
    ix.unpersist()


def test_lsh_recall_vs_brute_force(spark, emb, ann):
    from xapian_spark.operators.similarity import brute_force_topk

    k = 10
    recalls = []
    for qid in (0, 3, 5):
        qvec = [float(x) for x in emb.filter(f"vec_id = {qid}").first()["embedding"]]
        truth = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=k).collect()}
        got = {r["vec_id"] for r in ann.query(qvec, k=k).collect()}
        recalls.append(len(truth & got) / k)
    # deterministic corpus + deterministic planes → stable recall; clustered
    # data keeps same-cluster neighbours in shared buckets
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_lsh_candidates_prune(emb, ann):
    """The probe must touch fewer candidates than the table (it's an ANN
    index, not a scan wearing a costume — VERDICT r01 finding #1)."""
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    from xapian_spark.operators.similarity import query_signature

    ncand = ann._candidates(query_signature(qvec, ann.n_planes)).count()
    total = emb.count()
    assert 0 < ncand < total


def test_knn_join_matches_single_queries(spark, emb, ann):
    """Batch knn_join ≡ per-query query() for the same k."""
    qids = [1, 2]
    queries = emb.filter(emb.vec_id.isin(qids)).selectExpr(
        "vec_id as qid", "embedding as qvec"
    )
    batch = ann.knn_join(queries, k=5)
    got = {
        (r["qid"], r["rank"]): r["vec_id"] for r in batch.collect()
    }
    for qid in qids:
        qvec = [float(x) for x in emb.filter(f"vec_id = {qid}").first()["embedding"]]
        single = ann.query(qvec, k=5).collect()
        for rank, row in enumerate(single, start=1):
            assert got[(qid, rank)] == row["vec_id"]


def test_knn_join_rank_is_dense_topk(emb, ann):
    queries = emb.limit(4).selectExpr("vec_id as qid", "embedding as qvec")
    out = ann.knn_join(queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def _py_all_pair_cosines(emb):
    """Driver-side reference: left-fold double arithmetic like the engine."""
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    import math

    out = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            va, vb = vecs[a], vecs[b]
            out[(a, b)] = round(
                dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))), 4
            )
    return out


def test_cosine_pairs_topk_exact(emb):
    from xapian_spark.operators.similarity import cosine_pairs_topk

    truth = _py_all_pair_cosines(emb)
    expect = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [
        ((r["a"], r["b"]), r["cos"]) for r in cosine_pairs_topk(emb, k=15).collect()
    ]
    assert got == expect


def test_embedding_near_dups_recall_and_precision(emb, ann):
    from xapian_spark.operators.similarity import embedding_near_dups

    tau = 0.9
    truth = {p for p, c in _py_all_pair_cosines(emb).items() if c >= tau}
    assert truth, "clustered fixture must contain near-dup pairs"
    got = {(r["a"], r["b"]) for r in embedding_near_dups(ann, tau).collect()}
    # exact-cosine verification of candidates → no false positives
    assert got <= truth
    # banded LSH recall on clustered data
    assert len(got & truth) / len(truth) >= 0.8


def test_embedding_near_dups_bucket_cap(emb, ann):
    """The 100 TB safety valve: capped run drops only pairs whose EVERY
    shared band bucket exceeds the cap, and the audit helper exposes the
    bucket histogram the cap acts on."""
    from xapian_spark.operators.similarity import (
        embedding_near_dups,
        lsh_bucket_sizes,
    )

    tau = 0.9
    sizes = {(r["band"], r["bucket_key"]): r["m"] for r in lsh_bucket_sizes(ann).collect()}
    assert sizes and max(sizes.values()) >= 2
    cap = max(sizes.values()) - 1  # force at least one bucket over the cap
    uncapped = {
        (r["a"], r["b"])
        for r in embedding_near_dups(ann, tau, max_bucket_size=None).collect()
    }
    capped = {
        (r["a"], r["b"])
        for r in embedding_near_dups(ann, tau, max_bucket_size=cap).collect()
    }
    assert capped <= uncapped
    # a generous cap (>= biggest bucket) must change nothing
    roomy = {
        (r["a"], r["b"])
        for r in embedding_near_dups(
            ann, tau, max_bucket_size=max(sizes.values())
        ).collect()
    }
    assert roomy == uncapped
    # default cap (1000) is far above this fixture's buckets → also identical
    assert {
        (r["a"], r["b"]) for r in embedding_near_dups(ann, tau).collect()
    } == uncapped


@pytest.mark.parametrize("chunk", ["batch", "one_row"])
def test_lloyd_kmeans_matches_pure_python(emb, monkeypatch, chunk):
    """Engine Lloyd's ≡ an independent pure-Python replay (same init, same
    per-step rounding) — the exactness contract the SQL oracle relies on.
    ``one_row`` scores the distance tensor one row per chunk, which must
    not move a single bit."""
    from xapian_spark.operators import cluster
    from xapian_spark.operators.cluster import lloyd_kmeans

    if chunk == "one_row":
        monkeypatch.setattr(cluster, "_DIFF_ELEMS", 1)
    k, iters, rd = 4, 3, 4
    rows = sorted(
        ((r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect())
    )
    cents = [v for _, v in rows[:k]]

    def assign(cents_now):
        out = {}
        for vid, v in rows:
            dists = [
                round(sum((a - b) * (a - b) for a, b in zip(v, c)), rd)
                for c in cents_now
            ]
            out[vid] = dists.index(min(dists))
        return out

    a = assign(cents)
    for _ in range(iters - 1):
        sums, cnts = {}, {}
        for vid, v in rows:
            j = a[vid]
            cnts[j] = cnts.get(j, 0) + 1
            s = sums.setdefault(j, [0.0] * len(v))
            for d, x in enumerate(v):
                s[d] += x
        cents = [
            [round(s / cnts[j], rd) for s in sums[j]] for j in sorted(sums)
        ]
        a = assign(cents)

    got = {
        r["vec_id"]: r["cluster"]
        for r in lloyd_kmeans(emb, k=k, iters=iters, round_digits=rd).collect()
    }
    assert got == a
    assert len(set(a.values())) > 1  # fixture actually separates clusters


def test_arrow_signatures_match_hof(emb):
    """The BLAS build path produces the same buckets as the HOF path on
    this fixture (sign flips require dots within round-off of zero)."""
    from xapian_spark.operators.similarity import AnnLshIndex

    hof = AnnLshIndex(emb, dim=16, n_planes=16, bands=4, persist=False)
    arr = AnnLshIndex(
        emb, dim=16, n_planes=16, bands=4, persist=False, signature_impl="arrow"
    )
    b1 = {(r["vec_id"], r["band"], r["bucket_key"]) for r in hof.buckets.collect()}
    b2 = {(r["vec_id"], r["band"], r["bucket_key"]) for r in arr.buckets.collect()}
    assert b1 == b2


class TestIvf:
    """AnnIvfIndex: the coarse-quantizer scale path.  Approximate overall
    but EXACT within the probed cells — so besides a recall bound we can
    assert exactness properties the LSH tests can't."""

    @pytest.fixture(scope="class")
    def ivf(self, emb):
        from xapian_spark.operators.similarity import AnnIvfIndex

        return AnnIvfIndex(emb, n_cells=8, iters=2)

    def test_cells_partition_the_corpus(self, ivf, emb):
        n = emb.count()
        assert ivf.members.count() == n
        per_cell = {
            r["cluster"]: r["count"]
            for r in ivf.members.groupBy("cluster").count().collect()
        }
        assert sum(per_cell.values()) == n
        assert set(per_cell) <= set(range(8))

    def test_recall_vs_brute_force(self, spark, emb, ivf):
        from xapian_spark.operators.similarity import brute_force_topk

        qvec = emb.filter("vec_id = 3").first()["embedding"]
        exact = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
        got = [r["vec_id"] for r in ivf.query(qvec, k=10, nprobe=2).collect()]
        # clustered corpus: the query's own cell holds its true neighbors
        assert len(set(exact) & set(got)) >= 7

    def test_exact_within_probed_cells(self, spark, emb, ivf):
        """Members of probed cells are ranked identically to brute force
        restricted to those cells (no approximation inside the probe)."""
        from pyspark.sql import functions as F
        from xapian_spark.operators.similarity import brute_force_topk

        qvec = emb.filter("vec_id = 3").first()["embedding"]
        cells = ivf.probe_cells(qvec, 2)
        restricted = ivf.members.filter(F.col("cluster").isin(cells))
        exact = brute_force_topk(restricted, qvec, k=10).collect()
        got = ivf.query(qvec, k=10, nprobe=2).collect()
        assert [(r["vec_id"], r["cos"]) for r in got] == [
            (r["vec_id"], r["cos"]) for r in exact
        ]

    def test_probe_all_cells_equals_brute_force(self, spark, emb, ivf):
        from xapian_spark.operators.similarity import brute_force_topk

        qvec = emb.filter("vec_id = 7").first()["embedding"]
        exact = [(r["vec_id"], r["cos"]) for r in brute_force_topk(emb, qvec, k=10).collect()]
        got = [(r["vec_id"], r["cos"]) for r in ivf.query(qvec, k=10, nprobe=8).collect()]
        assert got == exact

    def test_deterministic_replay(self, emb, ivf):
        """Same input → identical centroids and probe choice (the property
        the driver's SQL oracle relies on)."""
        from xapian_spark.operators.similarity import AnnIvfIndex

        ivf2 = AnnIvfIndex(emb, n_cells=8, iters=2, persist=False)
        assert ivf.centroids == ivf2.centroids
        qvec = emb.filter("vec_id = 11").first()["embedding"]
        assert ivf.probe_cells(qvec, 3) == ivf2.probe_cells(qvec, 3)

    def test_knn_join_matches_single_queries(self, spark, emb, ivf):
        """The batch path returns exactly what per-query .query() does."""
        from pyspark.sql import functions as F

        qids = [3, 7, 11]
        queries = (
            emb.filter(F.col("vec_id").isin(qids))
            .select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
            )
        )
        batch = ivf.knn_join(queries, k=5, nprobe=2).collect()
        got = {
            q: [(r["vec_id"], r["cos"]) for r in sorted(rows, key=lambda r: r["rank"])]
            for q, rows in _group(batch, "qid").items()
        }
        for q in qids:
            qvec = emb.filter(F.col("vec_id") == q).first()["embedding"]
            single = [
                (r["vec_id"], r["cos"])
                for r in ivf.query(qvec, k=5, nprobe=2).collect()
            ]
            assert got[q] == single, f"qid {q}"


def _group(rows, key):
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out
