#!/usr/bin/env python
"""Auxiliary measurement harness for the optimization rounds (guide §1).

NOT the driver bench — ``bench.py`` is frozen for measurement.  This file
exists so optimization work can (a) isolate each declared query with the
noop sink, (b) capture ``.explain("formatted")`` plans into ``plans/rNN/``,
(c) read driver-JVM GC time (local mode = one JVM, so executor GC included)
without touching the frozen harness.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf0.1 --repeats 3 \
      --explain-dir plans/r07 --suffix before [--queries name1,name2]

Prints a JSON dict {query: {"cold": s, "warm": [s...], "warm_min": s}}.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def _mk_spark(cpus: int):
    from xapian_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gc_time_sec(spark) -> float:
    """Cumulative GC wall time of the (single, local-mode) JVM."""
    beans = (
        spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    total_ms = 0
    it = beans.iterator()
    while it.hasNext():
        total_ms += it.next().getCollectionTime()
    return total_ms / 1000.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--queries", default="")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    spark = _mk_spark(args.cpus)
    from bench import HEADLINE

    from xapian_spark.entrypoints import SPARK_QUERIES, _ann_index, _shingles, get_matcher

    t0 = time.perf_counter()
    get_matcher(spark, args.sf_dir)
    _shingles(spark, args.sf_dir)
    _ann_index(spark, args.sf_dir)
    warm_setup = time.perf_counter() - t0

    names = [n for n in args.queries.split(",") if n] or HEADLINE
    results: dict = {"_warm_setup_sec": round(warm_setup, 3)}
    for name in names:
        fn = SPARK_QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        rec: dict = {}
        g0 = gc_time_sec(spark)
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).collect()
        rec["cold"] = round(time.perf_counter() - t0, 3)
        warms = []
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).collect()
            warms.append(round(time.perf_counter() - t0, 3))
        rec["warm"] = warms
        rec["warm_min"] = min(warms)
        rec["gc_sec"] = round(gc_time_sec(spark) - g0, 3)
        results[name] = rec
        spark.sparkContext.setJobDescription(None)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            try:
                df = fn(spark, args.sf_dir)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
                ) as f:
                    f.write(txt)
            except Exception as e:  # local-relation results have no plan worth saving
                with open(
                    os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
                ) as f:
                    f.write(f"(explain failed: {type(e).__name__}: {e})\n")
    line = json.dumps(results, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
