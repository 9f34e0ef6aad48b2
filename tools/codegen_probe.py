#!/usr/bin/env python3
"""Janino compiles and wall time per query class on perfbench's search index.

Usage (from the repository root):

    python3 tools/codegen_probe.py [--seed 7] [--rounds 5] [--cache-entries N]

Builds the ``search`` workload of ``perfbench`` (its index, its one shared
``Matcher`` and its untimed warm-up round of every class), runs one more
untimed round, then runs ``--rounds`` rounds of the seeded query mix.
Every query of a round uses terms the warm-up rounds did not, so a class
that compiles 0 classes per query reuses the generated code of its first
query.  For each class it prints
the mean number of classes compiled per query (Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` count, read through the JVM)
and the median wall time per query.  Results are not checked against the
oracle; ``perfbench/run.py`` does that.

``--cache-entries N`` starts the session with
``spark.sql.codegen.cache.maxEntries=N`` instead of the value
``xapian_spark.session.get_spark`` sets, to find the smallest cache at
which no class is compiled twice.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


def compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cache-entries", type=int, default=None)
    args = ap.parse_args(argv)

    from perfbench import gen, run, trace, workloads
    from xapian_spark import session

    if args.cache_entries is not None:
        get_spark = session.get_spark

        def sized(*a, extra_conf=None, **kw):
            conf = {**(extra_conf or {}), CACHE_KEY: str(args.cache_entries)}
            return get_spark(*a, extra_conf=conf, **kw)

        session.get_spark = sized

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".codegen_probe_") as work:
        spark = run.start_session(work)
        try:
            tracer = trace.Tracer(spark, False, "codegen_probe")
            wl = workloads.Search(run.Ctx(spark, tracer, args.seed, work))
            wl.prepare()
            k = workloads.SIZES["search"]["k"]
            # a second untimed round: the count class alternates an AND and
            # an OR shape, and the warm-up round has only one of them
            for spec in wl.mix.round(-2):
                wl._query(spec, k)
            per: dict[str, list[tuple[int, float]]] = {c: [] for c in gen.CLASSES}
            for r in range(args.rounds):
                for spec in wl.mix.round(r):
                    c0, t0 = compiles(spark), time.perf_counter()
                    wl._query(spec, k)
                    per[spec["cls"]].append((compiles(spark) - c0, time.perf_counter() - t0))
            size = spark.conf.get(CACHE_KEY)
        finally:
            run.stop_session()

    print(f"# seed {args.seed}, {args.rounds} rounds after two warm-up rounds, {CACHE_KEY}={size}")
    print(f"{'class':<10} {'queries':>7} {'compiles/query':>14} {'p50_wall_s':>10}")
    every = []
    for cls, obs in per.items():
        every += obs
        n = [c for c, _ in obs]
        print(f"{cls:<10} {len(obs):>7} {statistics.mean(n):>14.1f} "
              f"{statistics.median(w for _, w in obs):>10.3f}")
    print(f"{'all':<10} {len(every):>7} {statistics.mean(c for c, _ in every):>14.2f} "
          f"{statistics.median(w for _, w in every):>10.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
