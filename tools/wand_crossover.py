#!/usr/bin/env python3
"""Block-max WAND kernel vs the exhaustive plan on one large index.

Usage (from the repository root):

    python3 tools/wand_crossover.py --index-dir DIR [--docs 320000] [--runs 3]

Builds a ``corpus_df`` index of ``--docs`` docs with ``impact_tiers=4``
into ``DIR`` (or loads it, when ``DIR`` already holds one), picks a hot
term (the highest termfreq) and a mid term (termfreq nearest doccount/20),
and times top-10 for the hot term alone and for hot OR mid, each through
``Matcher.mset_df`` with ``prune=True`` (the kernel) and ``prune=False``
(the exhaustive plan).  After one untimed warm run of each, ``--runs``
interleaved runs alternate which path goes first.  Per run it prints the
wall time and the process tree's CPU (driver, JVM, python workers); the
two paths' rows are checked to be equal.  ``Matcher.WAND_AUTO_MIN_POSTINGS``
is sized from this output.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--docs", type=int, default=320_000)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)

    from perfbench.trace import cpu_split
    from pyspark.sql import functions as F

    from xapian_spark.operators.indexer import build_index
    from xapian_spark.operators.matcher import Matcher
    from xapian_spark.plans import query as Q
    from xapian_spark.session import get_spark
    from xapian_spark.sources.catalog import load_index
    from xapian_spark.sources.corpus import corpus_df

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.exists(os.path.join(args.index_dir, "postings")):
            t = time.perf_counter()
            build_index(
                spark, corpus_df(spark, args.docs), meta_cols=["lang"],
                impact_tiers=4, write_path=args.index_dir,
            )
            print(f"# built {args.docs} docs in {time.perf_counter() - t:.0f} s")
        ix = load_index(spark, args.index_dir)
        m = Matcher(spark, ix)
        n = ix.stats["doccount"]
        dic = ix.dictionary.select("term", "termfreq")
        hot = dic.orderBy(F.desc("termfreq"), "term").first()
        mid = dic.orderBy(F.abs(F.col("termfreq") - n // 20), "term").first()
        queries = {
            f"hot {hot['term']}": Q.Term(hot["term"]),
            f"hot+mid {hot['term']} OR {mid['term']}": Q.Or([Q.Term(hot["term"]), Q.Term(mid["term"])]),
        }
        print(f"# {n} docs, impact_tiers=4, local[4], k=10; {args.runs} interleaved warm runs")
        print(f"# hot termfreq {hot['termfreq']}, mid termfreq {mid['termfreq']}")

        def timed(q, prune):
            c0, t0 = cpu_split()["total"], time.perf_counter()
            rows = [(r["doc_id"], r["weight"]) for r in m.mset_df(q, 10, prune=prune).collect()]
            return rows, time.perf_counter() - t0, cpu_split()["total"] - c0

        for name, q in queries.items():
            res = {True: [], False: []}
            want = timed(q, False)[0]
            assert timed(q, True)[0] == want
            for i in range(args.runs):
                for prune in ((True, False) if i % 2 == 0 else (False, True)):
                    rows, wall, cpu = timed(q, prune)
                    assert rows == want
                    res[prune].append((wall, cpu))
            st = {}
            terms = [(c.term, c.wqf) for c in (q.children if isinstance(q, Q.Or) else [q])]
            m._wand(terms, 10, stats_out=st).collect()
            print(f"\n{name}: {st}")
            for prune, label in ((True, "kernel"), (False, "exhaustive")):
                walls = [w for w, _ in res[prune]]
                cpus = [c for _, c in res[prune]]
                print(f"  {label:<10} wall_s {[round(w, 2) for w in walls]} median {statistics.median(walls):.2f}"
                      f"  core_s {[round(c, 2) for c in cpus]} median {statistics.median(cpus):.2f}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
