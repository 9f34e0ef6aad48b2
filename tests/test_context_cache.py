"""Driver-contract state memoized per SparkContext (``session.context_cache``).

The contract entries memoize the index, the shingles, two ANN indexes and the
``cosine_pairs_topk`` matrix broadcast.  Those objects are bound to the
SparkContext that built them, so a new session in the same process must
rebuild them, and one shared session must serve concurrent entries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# entries that read each kind of memoized state: index, WAND on the cached
# Matcher, shingles (twice), LSH index, IVF index, pairs matrix broadcast
RESTART_ENTRIES = [
    "bm25_single_hot",
    "bm25_wand_hot",
    "simhash_fingerprint",
    "dedup_shingle_jaccard",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embed_nn_pairs_topk",
]
CONCURRENT_ENTRIES = [
    "bm25_wand_hot",
    "bm25_wand_or2",
    "bm25_wand_auto_hot",
    "bm25_wand_auto_or2",
    "bm25_or4",
    "bm25_phrase_adjacent",
    "bm25_synonym",
    "bm25_and",
]


def write_sf_dir(root) -> str:
    """A small sf dir: documents.parquet (with duplicate and near-duplicate
    texts, so the dedup entries return pairs) and embeddings.parquet."""
    rng = np.random.default_rng(8)
    vocab = ("the a hash join merge sort scan table row key data spark "
             "window batch stream query filter value").split()
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(12, 40))))
             for _ in range(90)]
    texts += texts[:6] + [t + " dup" for t in texts[6:12]]
    n = len(texts)
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "zh")[i % 3] for i in range(n)],
        "source": [f"src{i % 4}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(6, 64))
    vecs = centers[np.arange(240) % 6] + 0.3 * rng.normal(size=(240, 64))
    emb = pa.table({
        "vec_id": pa.array(range(240), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(np.arange(240) % 6, pa.int32()),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    return str(root)


def run_entry(spark, sf_dir: str, name: str) -> list:
    from xapian_spark.entrypoints import SPARK_QUERIES

    return sorted(tuple(r) for r in SPARK_QUERIES[name](spark, sf_dir).collect())


def test_new_session_rebuilds_memoized_state(tmp_path):
    """After ``spark.stop()`` and a new ``get_spark()`` in the same process,
    every entry returns the first session's rows (it used to hand back
    DataFrames and broadcasts bound to the stopped context)."""
    sf_dir = write_sf_dir(tmp_path / "sf")
    script = tmp_path / "restart.py"
    script.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO_ROOT!r})
        sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
        from test_context_cache import RESTART_ENTRIES, run_entry
        from xapian_spark.entrypoints import get_matcher
        from xapian_spark.session import get_spark

        def session():
            s = get_spark(master="local[2]", shuffle_partitions=4,
                          extra_conf={{"spark.driver.memory": "1g"}})
            s.sparkContext.setLogLevel("ERROR")
            return s

        runs = []
        for _ in range(2):
            spark = session()
            m = get_matcher(spark, {sf_dir!r})
            assert get_matcher(spark, {sf_dir!r}) is m
            runs.append({{n: run_entry(spark, {sf_dir!r}, n)
                          for n in RESTART_ENTRIES}})
            spark.stop()
        print("RUNS", json.dumps(runs))
    """))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "spark-local"))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RUNS ")][-1]
    first, second = json.loads(line[len("RUNS "):])
    assert all(first[n] for n in RESTART_ENTRIES), first
    assert second == first


def test_concurrent_entries_on_one_session(spark, tmp_path):
    """Eight mixed BM25/WAND entries on four threads against one shared
    session (one shared Matcher) return the rows of a serial run."""
    sf_dir = write_sf_dir(tmp_path / "sf")
    serial = {n: run_entry(spark, sf_dir, n) for n in CONCURRENT_ENTRIES}
    assert all(serial.values())
    with ThreadPoolExecutor(max_workers=4) as pool:
        rows = pool.map(lambda n: run_entry(spark, sf_dir, n), CONCURRENT_ENTRIES)
        assert dict(zip(CONCURRENT_ENTRIES, rows)) == serial


def test_concurrent_queries_on_one_matcher_keep_their_own_state(spark, index):
    """Two threads querying one shared Matcher each get their serial top-10.

    LMJM reads the query length (lmweight.cc picks lambda by it), so a
    query planned with the other thread's length scores differently.  Each
    trial uses a fresh Matcher: its cold term-stats lookup runs a Spark job
    between the moment a query records its length and the moment its
    weights read it."""
    from xapian_spark.functions.weights import LMJMScheme
    from xapian_spark.operators.matcher import Matcher
    from xapian_spark.plans import query as Q

    queries = [
        Q.Term("return"),
        Q.Or([Q.Term(t) for t in
              ("return", "binary_search", "merge_sort", "if", "error")]),
    ]

    def top10(m, q):
        return [(r["doc_id"], r["weight"].hex()) for r in m.mset(q, 10).df.collect()]

    serial = [top10(Matcher(spark, index, scheme=LMJMScheme()), q) for q in queries]
    assert serial[0] and serial[1]
    for _ in range(3):
        m = Matcher(spark, index, scheme=LMJMScheme())
        barrier = threading.Barrier(2)

        def run(q, m=m, barrier=barrier):
            barrier.wait(timeout=120)
            return top10(m, q)

        with ThreadPoolExecutor(max_workers=2) as pool:
            assert list(pool.map(run, queries)) == serial


def test_context_cache_follows_the_live_context(monkeypatch):
    from xapian_spark import session

    monkeypatch.setattr(session, "_per_context", {})

    def spark_of(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    first = session.context_cache(spark_of("app-1"))
    first[("entry", "sf")] = 1
    assert session.context_cache(spark_of("app-1")) is first
    # a new context: the old one's entries are dropped, not kept beside it
    second = session.context_cache(spark_of("app-2"))
    assert second == {} and session._per_context == {"app-2": second}



def test_memoized_builds_once_under_concurrency(monkeypatch):
    """Four threads asking for one cold key run its build once and all get
    the object it built."""
    from xapian_spark import session

    monkeypatch.setattr(session, "_per_context", {})
    monkeypatch.setattr(session, "_build_locks", {})
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    barrier = threading.Barrier(4)
    built = []

    def build():
        built.append(threading.get_ident())
        time.sleep(0.2)  # a real build takes seconds: let the others arrive
        return object()

    def ask(_):
        barrier.wait()
        return session.memoized(spark, ("entry", "sf"), build)

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(ask, range(4)))
    assert len(built) == 1
    assert all(g is got[0] for g in got)
    assert session.context_cache(spark)[("entry", "sf")] is got[0]

def test_pairs_broadcast_cache_keeps_four_matrices(spark, monkeypatch):
    """``cosine_pairs_topk`` re-uses a cached matrix broadcast (no collect)
    and evicts the least recently used of more than four, unpersisted."""
    from xapian_spark import session
    from xapian_spark.operators.similarity import cosine_pairs_topk

    def emb(i):
        rows = [(j, [float(j + i), 1.0, float(j * i % 5)]) for j in range(6)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cached():
        return {k: v for k, v in session.context_cache(spark).items()
                if k[0] == "cosine_pairs_topk"}

    for k in list(cached()):
        session.context_cache(spark).pop(k).unpersist()
    frames = [emb(i) for i in range(5)]
    for df in frames[:4]:
        cosine_pairs_topk(df, k=3)
    first = cached()
    assert len(first) == 4
    oldest_key = next(iter(first))
    # a hit re-uses the broadcast and makes it the most recently used
    cosine_pairs_topk(frames[0], k=3)
    assert list(cached()) == list(first)[1:] + [oldest_key]
    unpersisted = []
    evicted = first[list(first)[1]]
    monkeypatch.setattr(evicted, "unpersist",
                        lambda *a, unpersist=evicted.unpersist:
                        unpersisted.append(unpersist(*a)))
    cosine_pairs_topk(frames[4], k=3)
    assert len(cached()) == 4 and evicted not in cached().values()
    assert len(unpersisted) == 1
    got = cosine_pairs_topk(frames[0], k=3).collect()
    assert len(got) == 3 and cached()[oldest_key] is first[oldest_key]
