#!/usr/bin/env python3
"""Seeded benchmark of the xapian_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads: build, search, fresh, dedup, or ``all`` (the four in one
process).  One client thread drives the engine's public functions on a
``local[4]`` session.  Inputs are generated from ``--seed``; outputs are
checked against the pure-Python oracle or a brute-force reference.

Standard output: one ``perfbench {...}`` record per workload (every metric
by name with its unit, host weather, failures), a readable metric list,
and as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics; the traced run also writes its spans to
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("build", "search", "fresh", "dedup")
CORES = 4


@dataclass
class Ctx:
    """What every workload needs from the run."""

    spark: object
    tracer: object
    seed: int
    work: str  # scratch directory inside the checkout


def start_session(work: str):
    from xapian_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark(
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "1536m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM logging would otherwise share stdout with the result line.
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xlog:all=warning:stderr",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop Spark and the JVM it runs in, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    started = descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    sig = signal.SIGTERM
    while True:
        left = [p for p in started if alive(p)]
        if not left:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def jvm_gc_s(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap pools of their peak used bytes, in MB."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        pools.get(i).getPeakUsage().getUsed() for i in range(pools.size())
        if pools.get(i).getType().name() == "HEAP"
    ) / 2**20


def measure(wl, seconds: float) -> dict:
    """Set up, run the timed window, finish; returns set-up time, window
    length and JVM GC seconds in the window."""
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    wl.init_checks()
    gc0 = jvm_gc_s(wl.spark)
    t0 = time.perf_counter()
    wl.run(t0 + seconds)
    window = time.perf_counter() - t0
    gc1 = jvm_gc_s(wl.spark)
    wl.finish()
    return {"prepare_s": prepare_s, "window_s": window, "gc_s": gc1 - gc0}


def e2e_metrics(wl, setup_s: float, rss: dict) -> dict:
    spans = wl.primary_spans()
    walls = [s["wall_s"] for s in spans]
    n = max(len(spans), 1)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
        "core_s_per_op": (sum(s["cpu"]["total"] for s in spans) / n, "core-s"),
        "peak_rss_mb": (rss["total"], "MB"),
    }


def runtime_metrics(wl, gc_s: float, rss: dict, heap_mb: float) -> dict:
    """Per-layer metrics every workload has: the Spark runtime's work per
    timed operation, and the CPU and peak-memory split of the process tree."""
    spans = wl.primary_spans()
    n = max(len(spans), 1)
    out = {
        "runtime.jvm_peak_rss_mb": (rss["jvm"], "MB"),
        "runtime.python_worker_peak_rss_mb": (rss["python_workers"], "MB"),
        "runtime.jvm_heap_peak_mb": (heap_mb, "MB"),
        "runtime.gc_s_per_op": (gc_s / n, "s"),
        "runtime.driver_core_s_per_op": (sum(s["cpu"]["driver"] for s in spans) / n, "core-s"),
        "runtime.jvm_core_s_per_op": (sum(s["cpu"]["jvm"] for s in spans) / n, "core-s"),
        "runtime.python_worker_core_s_per_op": (
            sum(s["cpu"]["python_workers"] for s in spans) / n, "core-s"),
    }
    for field, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("executor_cpu_s", "core-s"), ("executor_run_s", "s"),
                        ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                        ("input_rows", "rows")):
        out[f"runtime.{field}_per_op"] = (sum(s["spark"][field] for s in spans) / n, unit)
    out["runtime.trace_bookkeeping_s_per_op"] = (wl.tr.bookkeeping_s / n, "s")
    return out


def load_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import xapian_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace as trace_mod
    from perfbench import workloads

    cfg = load_config()
    weather = trace_mod.Weather()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = []
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        tracer = trace_mod.Tracer(spark, bool(args.trace), run_id)
        ctx = Ctx(spark, tracer, args.seed, work)
        names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
        for name in names:
            wl = workloads.WORKLOADS[name](ctx)
            tracer.spans.clear()
            m = measure(wl, args.seconds)
            setup_s = session_s + m["prepare_s"]
            rss = trace_mod.peak_rss_split()
            heap_mb = jvm_heap_peak_mb(spark)
            e2e = e2e_metrics(wl, setup_s, rss)
            ops = list(wl.ops)
            layers = dict(wl.layers)
            if args.trace:
                layers.update(runtime_metrics(wl, m["gc_s"], rss, heap_mb))
                index_path = wl.index_path
                if name != "fresh":
                    # the freshness layer, after the window: it runs nowhere
                    # else on this workload
                    probe = workloads.FreshProbe(ctx)
                    measure(probe, float("inf"))
                    ops += probe.ops
                    layers.update({k: v for k, v in probe.layers.items()
                                   if k.startswith("freshness.")})
                    index_path = index_path or probe.index_path
                micro, problems = workloads.microbench(args.seed, index_path)
                layers.update(micro)
                ops.append({"cls": "codec_check", "primary": False, "ok": not problems,
                            "error": "; ".join(problems)})
                trace_file = os.path.join(ROOT, ".perfbench_traces", f"{run_id}-{name}.json")
                tracer.write(trace_file)
            attempted = len(ops)
            failed = sum(not r["ok"] for r in ops)
            named = {
                "setup_s": (setup_s, "s"),
                "failed_frac": (failed / attempted if attempted else 1.0, "ratio"),
                "peak_rss_mb": e2e["peak_rss_mb"],
                **wl.named,
            }
            records.append({
                "workload": name, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "attempted": attempted, "failed": failed,
                "errors": [r["error"] for r in ops if not r["ok"]][:5],
                "ops": len(wl.primary_spans()), "window_s": round(m["window_s"], 3),
                "op_walls_s": [round(s["wall_s"], 4) for s in wl.primary_spans()],
                "session_s": round(session_s, 3),
                "prepare_s": round(m["prepare_s"], 3),
                "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                "notes": {**wl.notes, "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
                          "jvm_heap_peak_mb": round(heap_mb, 1)},
                "weather": weather.report(),
                **({"trace_file": os.path.relpath(trace_file, ROOT)} if args.trace else {}),
            })
    finally:
        stop_session()
        shutil.rmtree(work, ignore_errors=True)

    for rec in records:
        print("perfbench " + json.dumps(rec, sort_keys=True))
        print(f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
              f"ops={rec['ops']} failed={rec['failed']}/{rec['attempted']} weather={rec['weather']}")
        for k, v in sorted(rec["named"].items()):
            print(f"#   {k} = {v['value']:.6g} {v['unit']}")
        for k, v in sorted(rec["notes"].items()):
            print(f"#   {k}: {v}")
        for k, v in sorted(rec["layers"].items()):
            print(f"#   {k} = {v['value']:.6g} {v['unit']}")
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    if args.workload == "all":
        metrics = {f"{r['workload']}.{k}": v for r in records for k, v in r["named"].items()}
    else:
        wanted = cfg["per_layer"] if args.trace else cfg["end_to_end"]
        src = records[0]["layers"] if args.trace else records[0]["e2e"]
        metrics = {m["name"]: src[m["name"]] for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
