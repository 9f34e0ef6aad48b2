"""The four workloads: build, search, fresh and dedup.

Each workload has ``prepare`` (set-up, timed as part of setup_s), an
untimed ``init_checks`` (oracle state), ``run`` (the closed loop, one
client: until the deadline for build and fresh, a number of operations set
by the window length for search and dedup) and ``finish`` (end-of-run
operations and metrics).  Output checks run between timed operations, never inside them,
and a failed check marks its operation failed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from xapian_spark.functions import codec
from xapian_spark.functions.tokenizer import tokenize_series
from xapian_spark.operators import dedup as D
from xapian_spark.operators import indexer
from xapian_spark.operators.matcher import Matcher
from xapian_spark.operators.similarity import cosine_pairs_topk
from xapian_spark.oracle import OracleIndex, OracleMatcher, build_oracle_index
from xapian_spark.plans import query as Q
from xapian_spark.plans.parser import DEFAULT_FLAGS, FLAG_WILDCARD, QueryParser
from xapian_spark.sources.catalog import load_index
from xapian_spark.sources.corpus import corpus_df
from xapian_spark.streaming.freshness import MultiIndex, append_segment, compact

from . import gen

#: Input sizes (meta.json is their single source).
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "meta.json")) as _f:
    SIZES = json.load(_f)["sizes"]
TOL = 1e-9


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def span_sum(spans, key: str, field: str) -> float:
    """Sum of span[key][field] over spans, e.g. ("cpu", "total")."""
    return sum(s[key][field] for s in spans)


def mset_rows_equal(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= TOL for g, w in zip(got, want)
    )


def merge_oracle(parts: list[OracleIndex]) -> OracleIndex:
    """Union of oracle indexes over disjoint doc ids."""
    out = OracleIndex()
    for p in parts:
        for t, plist in p.postings.items():
            out.postings.setdefault(t, {}).update(plist)
        out.doclens.update(p.doclens)
        out.doccount += p.doccount
        out.total_length += p.total_length
    return out


class Workload:
    """Shared bookkeeping: operation records, failures and span helpers."""

    name = ""
    #: a committed index the workload built, read by the codec microbenchmark
    index_path: str | None = None

    def __init__(self, ctx):
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.ops: list[dict] = []  # every attempted operation
        self.named: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: dict = {}

    def op(self, cls: str, layer: str, fn, primary: bool = True):
        """Run one timed operation inside a span; returns (record, result).
        An exception marks the operation failed and the run goes on."""
        rec = {"cls": cls, "primary": primary, "ok": True}
        result = None
        with self.tr.span(cls, layer) as span:
            try:
                result = fn()
            except Exception:
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=3)
                print(f"[{self.name}] {cls} raised:\n{rec['error']}", file=sys.stderr)
        rec["span"] = span
        self.ops.append(rec)
        return rec, result

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            rec["error"] = why
            print(f"[{self.name}] {rec['cls']} check failed: {why}", file=sys.stderr)

    def primary_spans(self):
        return [r["span"] for r in self.ops if r["primary"]]

    def walls(self, cls: str | None = None, primary: bool | None = None):
        return [
            r["span"]["wall_s"] for r in self.ops
            if (cls is None or r["cls"] == cls)
            and (primary is None or r["primary"] == primary)
        ]

    def spark_per(self, spans, field: str, per: float) -> float:
        return span_sum(spans, "spark", field) / per if per else 0.0

    # subclasses: prepare(), init_checks(), run(deadline), finish()


# ------------------------------------------------------------------ build


class Build(Workload):
    """Bulk index build: the tokenizer, indexer and catalog do the work."""

    name = "build"

    def prepare(self):
        n, nw = SIZES["build"]["docs"], SIZES["build"]["warmup_docs"]
        src = os.path.join(self.work, "corpus")
        corpus_df(self.spark, n, self.seed).write.mode("overwrite").parquet(src)
        self.corpus = self.spark.read.parquet(src)
        warm_src = os.path.join(self.work, "warm_corpus")
        # disjoint seed: the warmup build shares no document with the timed ones
        corpus_df(self.spark, nw, self.seed + 1_000_003).write.mode("overwrite").parquet(warm_src)
        indexer.build_index(
            self.spark, self.spark.read.parquet(warm_src), meta_cols=["lang"],
            write_path=os.path.join(self.work, "warm_ix"),
        )
        self.spark.catalog.clearCache()

    def init_checks(self):
        docs = gen.corpus_docs(SIZES["build"]["docs"], self.seed)
        ox = build_oracle_index(docs)
        self.want = (ox.doccount, ox.total_length)
        self.content_bytes = sum(len(t.encode("utf-8")) for _, t in docs)

    def run(self, deadline: float):
        i = 0
        self.timings = []
        while time.perf_counter() < deadline:
            path = os.path.join(self.work, f"ix{i % 2}")
            shutil.rmtree(path, ignore_errors=True)
            rec, _ = self.op("build", "operators.indexer", lambda: indexer.build_index(
                self.spark, self.corpus, meta_cols=["lang"], write_path=path))
            self.timings.append(dict(indexer.LAST_BUILD_TIMINGS))
            self.spark.catalog.clearCache()
            if rec["ok"]:
                with open(os.path.join(path, "MANIFEST.json")) as f:
                    st = json.load(f)["stats"]
                got = (st["doccount"], st["total_length"])
                if got != self.want:
                    self.fail(rec, f"manifest {got} != oracle {self.want}")
                self.index_path = path
            i += 1

    def finish(self):
        n = SIZES["build"]["docs"]
        walls = self.walls("build")
        spans = self.primary_spans()
        nb = len(spans)
        cpu = [s["cpu"]["total"] for s in spans]
        self.named["build_docs_per_s"] = (n / median(walls), "docs/s")
        self.named["build_core_s_per_kdoc"] = (median(cpu) / (n / 1000), "core-s/1k docs")
        path = self.index_path
        if path:
            self.named["index_bytes_per_content_byte"] = (
                dir_bytes(path) / self.content_bytes, "ratio")
            for t in ("postings", "docs", "dictionary"):
                self.layers[f"catalog.{t}_bytes"] = (dir_bytes(os.path.join(path, t)), "bytes")
            with self.tr.span("load_index", "sources.catalog") as s:
                load_index(self.spark, path)
            self.layers["catalog.load_index_s"] = (s["wall_s"], "s")
        self.layers["indexer.wall_s"] = (median(walls), "s")
        self.layers["indexer.stats_ready_s"] = (
            median([t.get("stats_ready_sec", 0.0) for t in self.timings]), "s")
        self.layers["indexer.postings_write_s"] = (
            median([t.get("postings_write_sec", 0.0) for t in self.timings]), "s")
        if self.tr.enabled and nb:
            for f, unit in (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "core-s"),
                            ("gc_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
                self.layers[f"indexer.{f}"] = (self.spark_per(spans, f, nb), unit)
            self.layers["indexer.python_core_s"] = (span_sum(spans, "cpu", "python_workers") / nb, "core-s")
            self.layers["indexer.jvm_core_s"] = (span_sum(spans, "cpu", "jvm") / nb, "core-s")


# ----------------------------------------------------------------- search


class Search(Workload):
    """Ranked retrieval over a committed tiered index: matcher, WAND, codec
    and parser do the work; the indexer runs only in set-up."""

    name = "search"

    def prepare(self):
        cfg = SIZES["search"]
        path = os.path.join(self.work, "ix")
        shutil.rmtree(path, ignore_errors=True)
        indexer.build_index(
            self.spark, corpus_df(self.spark, cfg["docs"], self.seed), meta_cols=["lang"],
            impact_tiers=cfg["impact_tiers"], write_path=path,
        )
        self.build_timings = dict(indexer.LAST_BUILD_TIMINGS)
        self.spark.catalog.clearCache()
        self.index_path = path
        with self.tr.span("load_index", "sources.catalog"):
            ix = load_index(self.spark, path)
        self.matcher = Matcher(self.spark, ix)
        dictionary = {r["term"]: int(r["termfreq"]) for r in ix.dictionary.collect()}
        self.docs = gen.corpus_docs(cfg["docs"], self.seed)
        self.parser = QueryParser(flags=DEFAULT_FLAGS | FLAG_WILDCARD)
        self.mix = gen.QueryMix(self.seed, dictionary, cfg["docs"], self.docs, self.parser)
        # One untimed round of every class, from a round index the timed
        # rounds never use, so no timed query is the first of its class.
        for spec in self.mix.round(-1):
            self._query(spec, cfg["k"])

    def init_checks(self):
        self.oracle = OracleMatcher(build_oracle_index(self.docs))

    def _query(self, spec, k: int):
        m = self.matcher
        q = spec["query"]
        if spec["text"] is not None:
            t = time.perf_counter()
            q = self.parser.parse_query(spec["text"])
            spec["parse_s"] = time.perf_counter() - t
        spec["parsed"] = q
        if spec["mode"] == "wand":
            rows = m.mset_df(q, k, prune=True).collect()
            return [(r["doc_id"], r["weight"]) for r in rows], None
        res = m.mset(q, maxitems=k, with_count=spec["mode"] == "count")
        return [(r["doc_id"], r["weight"]) for r in res.df.collect()], res.matches

    def run(self, deadline: float):
        cfg = SIZES["search"]
        k = cfg["k"]
        # A fixed number of whole rounds, set by the window length and a
        # nominal round time, never by the measured speed: a faster engine
        # runs the same queries, not more of them.
        rounds = max(1, round((deadline - time.perf_counter()) / cfg["nominal_round_s"]))
        for r in range(rounds):
            for spec in self.mix.round(r):
                layer = "operators.wand" if spec["mode"] == "wand" else "operators.matcher"
                rec, out = self.op(spec["cls"], layer, lambda: self._query(spec, k))
                rec["parse_s"] = spec.get("parse_s")
                if not rec["ok"]:
                    continue
                rows, matches = out
                rec["results"] = len(rows)
                q = spec["parsed"]
                want = self.oracle.mset(q, k)
                if not mset_rows_equal(rows, want):
                    self.fail(rec, f"{spec['cls']} {q}: {rows} != oracle {want}")
                if spec["mode"] == "count" and matches != self.oracle.count(q):
                    self.fail(rec, f"count {q}: {matches} != {self.oracle.count(q)}")
                if spec["mode"] == "wand" and self.tr.enabled:
                    # parquet rows the exhaustive path reads for the same query
                    with self.tr.span("exhaustive_ref", "operators.matcher") as s:
                        self.matcher.mset_df(q, k).collect()
                    rec["exhaustive_rows"] = s["spark"]["input_rows"]

    def finish(self):
        walls = self.walls(primary=True)
        nq = len(walls)
        spans = self.primary_spans()
        self.named["search_p50_s"] = (median(walls), "s")
        pct, tail = tail_percentile(walls)
        self.named["search_tail_s"] = (tail, "s")
        self.notes["search_tail"] = {"percentile": pct, "samples": nq}
        self.named["search_core_s_per_query"] = (span_sum(spans, "cpu", "total") / max(nq, 1), "core-s")
        parse = [r["parse_s"] for r in self.ops if r.get("parse_s")]
        # parse time inside the timed queries (parser.parse_us is the
        # microbenchmark of traced runs)
        self.layers["parser.in_query_parse_us"] = (median(parse) * 1e6, "us")
        self.layers["catalog.load_index_s"] = (median([s["wall_s"] for s in self.tr.by_layer("sources.catalog")]), "s")
        self.layers["catalog.postings_bytes"] = (dir_bytes(os.path.join(self.index_path, "postings")), "bytes")
        # the set-up build: the indexer's phases, with write_path
        self.layers["indexer.stats_ready_s"] = (self.build_timings.get("stats_ready_sec", 0.0), "s")
        self.layers["indexer.postings_write_s"] = (self.build_timings.get("postings_write_sec", 0.0), "s")
        if not self.tr.enabled:
            return
        for cls in gen.CLASSES:
            recs = [r for r in self.ops if r["cls"] == cls and r["ok"]]
            if not recs:
                continue
            ss = [r["span"] for r in recs]
            pre = "wand" if cls == "wand" else f"matcher.{cls}"
            self.layers[f"{pre}.p50_s"] = (median([s["wall_s"] for s in ss]), "s")
            self.layers[f"{pre}.jobs_per_query"] = (self.spark_per(ss, "jobs", len(ss)), "count")
            self.layers[f"{pre}.executor_cpu_s_per_query"] = (self.spark_per(ss, "executor_cpu_s", len(ss)), "core-s")
            res = sum(r["results"] for r in recs)
            self.layers[f"{pre}.input_rows_per_result"] = (self.spark_per(ss, "input_rows", res), "rows")
            if cls == "wand":
                ex = sum(r.get("exhaustive_rows", 0) for r in recs)
                self.layers["wand.input_rows_vs_exhaustive"] = (
                    span_sum(ss, "spark", "input_rows") / ex if ex else 0.0, "ratio")


def tail_percentile(xs: list[float]) -> tuple[float | None, float]:
    """Highest percentile with at least ten samples beyond it.  Below 21
    samples that percentile is under the median, so the maximum is
    reported instead (percentile 100)."""
    n = len(xs)
    if n == 0:
        return None, 0.0
    s = sorted(xs)
    if n < 21:
        return 100.0, s[-1]
    idx = n - 11  # ten samples lie above s[idx]
    return round(100.0 * (idx + 1) / n, 1), s[idx]


# ------------------------------------------------------------------ fresh


class Fresh(Workload):
    """Writes beside reads: small segment appends, multi-segment queries,
    then compaction."""

    name = "fresh"

    def prepare(self):
        cfg = self.cfg = SIZES[self.name]
        self.batches = gen.fresh_batches(cfg["max_batches"], cfg["batch_docs"], self.seed)
        rows = [(b, did, text) for b, (_, docs) in enumerate(self.batches) for did, text in docs]
        pdf = pd.DataFrame(rows, columns=["batch", "doc_id", "content"])
        src = os.path.join(self.work, "batches")
        self.spark.createDataFrame(pdf, "batch int, doc_id long, content string") \
            .write.mode("overwrite").partitionBy("batch").parquet(src)
        self.src = src
        if not cfg["warmup_docs"]:
            return
        warm_root = os.path.join(self.work, "warm_root")
        shutil.rmtree(warm_root, ignore_errors=True)
        warm = self.spark.createDataFrame(
            gen.corpus_docs(cfg["warmup_docs"], self.seed + 1_000_003, first_id=10**9),
            "doc_id long, content string")
        append_segment(self.spark, warm_root, warm, "warm")
        Matcher(self.spark, MultiIndex(self.spark, warm_root).load()).mset(
            Q.Term("return"), maxitems=10).df.collect()
        self.spark.catalog.clearCache()

    def batch_df(self, b: int):
        return self.spark.read.parquet(self.src).filter(f"batch = {b}").drop("batch")

    def init_checks(self):
        self.oracle_parts = [build_oracle_index(docs) for _, docs in self.batches]
        words = sorted({t for _, text in self.batches[0][1] for t in text.split()})
        rng = gen.seed_rng(self.seed, "fresh")
        common = ["return", "if", "value", "data", "index", "node", "key", "list"]
        idents = [w for w in words if "_" in w and w.islower()]
        self.fresh_queries = [
            Q.Or([Q.Term(rng.choice(common)), Q.Term(rng.choice(idents))]) if i % 2 == 0
            else Q.And([Q.Term(rng.choice(common)), Q.Term(rng.choice(idents))])
            for i in range(self.cfg["max_batches"])
        ]

    def _append_visible(self, b: int, root: str):
        marker, _ = self.batches[b]
        with self.tr.span("append_segment", "streaming.freshness"):
            append_segment(self.spark, root, self.batch_df(b), f"{b:04d}")
        with self.tr.span("load", "streaming.freshness"):
            ix = MultiIndex(self.spark, root).load()
        m = Matcher(self.spark, ix)
        res = m.mset(Q.Term(marker), maxitems=10, with_count=True)
        rows = [(r["doc_id"], r["weight"]) for r in res.df.collect()]
        return m, rows, res.matches

    def run(self, deadline: float):
        cfg = self.cfg
        self.root = os.path.join(self.work, "root")
        shutil.rmtree(self.root, ignore_errors=True)
        self.n_appended = 0
        self.query_walls = []
        b = 0
        while time.perf_counter() < deadline and b < cfg["max_batches"]:
            rec, out = self.op("append_visible", "streaming.freshness",
                               lambda: self._append_visible(b, self.root))
            self.spark.catalog.clearCache()
            b += 1
            if not rec["ok"]:
                break  # a missing segment would fail every later check
            self.n_appended = b
            oracle = OracleMatcher(merge_oracle(self.oracle_parts[:b]))
            m, rows, matches = out
            marker = self.batches[b - 1][0]
            want = oracle.mset(Q.Term(marker), 10)
            if matches != cfg["batch_docs"] or not mset_rows_equal(rows, want):
                self.fail(rec, f"batch {b - 1} not visible: {matches} matches, {rows} != {want}")
            q = self.fresh_queries[b - 1]
            qrec, got = self.op("query", "operators.matcher", lambda: [
                (r["doc_id"], r["weight"]) for r in m.mset(q, maxitems=10).df.collect()],
                primary=False)
            if qrec["ok"]:
                self.query_walls.append(qrec["span"]["wall_s"])
                want = oracle.mset(q, 10)
                if not mset_rows_equal(got, want):
                    self.fail(qrec, f"{q}: {got} != {want}")

    def finish(self):
        vis = self.walls("append_visible")
        self.named["fresh_visible_p50_s"] = (median(vis), "s")
        self.named["fresh_query_p50_s"] = (median(self.query_walls), "s")
        out = os.path.join(self.work, "compacted")
        shutil.rmtree(out, ignore_errors=True)
        if self.n_appended:
            rec, ix = self.op("compact", "streaming.freshness",
                              lambda: compact(self.spark, self.root, out), primary=False)
            self.spark.catalog.clearCache()
            self.named["compact_s"] = (rec["span"]["wall_s"], "s")
            if rec["ok"]:
                ox = merge_oracle(self.oracle_parts[: self.n_appended])
                with open(os.path.join(out, "MANIFEST.json")) as f:
                    st = json.load(f)["stats"]
                if (st["doccount"], st["total_length"]) != (ox.doccount, ox.total_length):
                    self.fail(rec, f"compacted stats {st} != oracle")
                q = self.fresh_queries[0]
                got = [(r["doc_id"], r["weight"]) for r in
                       Matcher(self.spark, load_index(self.spark, out)).mset(q, 10).df.collect()]
                if not mset_rows_equal(got, OracleMatcher(ox).mset(q, 10)):
                    self.fail(rec, f"compacted {q}: {got}")
                self.index_path = out
            if self.tr.enabled:
                self.layers["freshness.compact_executor_cpu_s"] = (
                    rec["span"]["spark"]["executor_cpu_s"], "core-s")
        app = self.tr.by_layer("streaming.freshness", "append_segment")
        self.layers["freshness.append_s"] = (median([s["wall_s"] for s in app]), "s")
        self.layers["freshness.load_s"] = (
            median([s["wall_s"] for s in self.tr.by_layer("streaming.freshness", "load")]), "s")
        if len(self.query_walls) >= 2:
            self.layers["freshness.query_s_last_over_first"] = (
                self.query_walls[-1] / self.query_walls[0], "ratio")
        if self.tr.enabled and app:
            self.layers["freshness.append_jobs"] = (median([s["spark"]["jobs"] for s in app]), "count")
            # append_segment is build_index plus save_index on one batch
            n = len(app)
            for f, unit in (("tasks", "count"), ("executor_cpu_s", "core-s"), ("gc_s", "s"),
                            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
                self.layers[f"indexer.{f}"] = (self.spark_per(app, f, n), unit)
            self.layers["indexer.python_core_s"] = (span_sum(app, "cpu", "python_workers") / n, "core-s")
            self.layers["indexer.jvm_core_s"] = (span_sum(app, "cpu", "jvm") / n, "core-s")


class FreshProbe(Fresh):
    """A short fresh run (no warmup, a few small batches, compact) made
    after the timed window of a traced run of another workload, so the
    freshness layer is measured on every workload.  Its checks count into
    the run's failures."""

    name = "fresh_probe"


# ------------------------------------------------------------------ dedup


class Dedup(Workload):
    """Near-duplicate mining and embedding pairs: operators.dedup and
    operators.similarity, which no other workload runs."""

    name = "dedup"

    def prepare(self):
        cfg = SIZES["dedup"]
        docs, self.planted = gen.dedup_corpus(
            cfg["base_docs"], cfg["families"], cfg["family_size"], self.seed)
        self.docs_list = docs
        src = os.path.join(self.work, "docs")
        self.spark.createDataFrame(docs, "doc_id long, text string") \
            .write.mode("overwrite").parquet(src)
        self.docs = self.spark.read.parquet(src)
        self.mat = gen.embeddings(cfg["vectors"], cfg["dim"], self.seed)
        esrc = os.path.join(self.work, "emb")
        pdf = pd.DataFrame({"vec_id": np.arange(len(self.mat), dtype=np.int64),
                            "embedding": list(self.mat)})
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(esrc)
        self.emb = self.spark.read.parquet(esrc)
        # Full-size passes: the first pass at full size plans and compiles
        # differently from any smaller one, and the pass keeps getting faster
        # for the next few (JIT, python worker start-up).
        for _ in range(cfg["warmup_passes"]):
            self._chain(self.docs)
        cosine_pairs_topk(self.emb, k=cfg["pairs_k"]).collect()

    def _chain(self, docs):
        cfg = SIZES["dedup"]
        out = {}
        with self.tr.span("shingles", "operators.dedup"):
            sh = D.shingles(docs, w=cfg["shingle_w"]).persist()
            out["shingles"] = sh.count()
        try:
            with self.tr.span("minhash", "operators.dedup"):
                sig = D.minhash_signatures(sh, n_hashes=cfg["minhash_hashes"])
                out["candidates"] = {(r["d1"], r["d2"]) for r in D.minhash_candidate_pairs(
                    sig, n_hashes=cfg["minhash_hashes"], bands=cfg["minhash_bands"]).collect()}
            with self.tr.span("jaccard", "operators.dedup"):
                out["pairs"] = {(r["d1"], r["d2"]): r["jac"] for r in D.ngram_jaccard_pairs(
                    sh, threshold=cfg["jaccard_threshold"],
                    max_shingle_df=cfg["max_shingle_df"]).collect()}
        finally:
            sh.unpersist()
        with self.tr.span("winnow", "operators.dedup"):
            out["winnow"] = {r["doc_id"]: (r["n_fp"], r["fp_sig"])
                             for r in D.winnow_fingerprints(docs).collect()}
        return out

    def init_checks(self):
        cfg = SIZES["dedup"]
        w, cap = cfg["shingle_w"], cfg["max_shingle_df"]
        self.sh = gen.shingle_sets(self.docs_list, w)
        df: dict[str, int] = {}
        for s in self.sh.values():
            for x in s:
                df[x] = df.get(x, 0) + 1
        self.kept = {d: {x for x in s if df[x] <= cap} for d, s in self.sh.items()}
        self.want_pairs = brute_topk_pairs(self.mat, cfg["pairs_k"])
        self.first_chain = None

    def _jac(self, a: int, b: int) -> float:
        x, y = self.kept[a], self.kept[b]
        i = len(x & y)
        return round(i / (len(x) + len(y) - i), 6)

    def check_chain(self, rec, out):
        cfg = SIZES["dedup"]
        if self.first_chain is not None:
            if {k: out[k] for k in ("candidates", "pairs", "winnow")} != self.first_chain:
                self.fail(rec, "dedup output differs from the run's first pass")
            return
        self.first_chain = {k: out[k] for k in ("candidates", "pairs", "winnow")}
        pairs = out["pairs"]
        missed = [p for p in self.planted if p not in pairs]
        if missed:
            self.fail(rec, f"planted pairs not recalled: {missed[:5]}")
        for (a, b), jac in pairs.items():
            if abs(self._jac(a, b) - jac) > 1e-6 or jac < cfg["jaccard_threshold"]:
                self.fail(rec, f"jaccard({a},{b}) = {jac}, want {self._jac(a, b)}")
                break
        n_sh = sum(len(s) for s in self.sh.values())
        if out["shingles"] != n_sh:
            self.fail(rec, f"{out['shingles']} shingles, want {n_sh}")
        rng = gen.seed_rng(self.seed, "dedup-check")
        for a, b in rng.sample(sorted(out["candidates"]), min(20, len(out["candidates"]))):
            if not minhash_band_match(self.sh[a], self.sh[b], cfg):
                self.fail(rec, f"candidate ({a},{b}) shares no band")
                break
        text = dict(self.docs_list)
        ids = rng.sample(sorted(text), 20)
        for d in ids:
            want = winnow_ref(text[d])
            if out["winnow"].get(d) != want:
                self.fail(rec, f"winnow({d}) = {out['winnow'].get(d)}, want {want}")
                break

    def run(self, deadline: float):
        # A fixed number of chains, as search's rounds: a slow host does not
        # leave the median to fewer (and colder) chains.
        n = max(1, round((deadline - time.perf_counter()) / SIZES["dedup"]["nominal_chain_s"]))
        for _ in range(n):
            rec, out = self.op("chain", "operators.dedup", lambda: self._chain(self.docs))
            if rec["ok"]:
                self.check_chain(rec, out)

    def finish(self):
        # cosine pairs after the window, a fixed number of times, so the
        # window holds only the timed chains
        cfg = SIZES["dedup"]
        for _ in range(cfg["pairs_runs"]):
            rec, got = self.op("pairs_topk", "operators.similarity", lambda: [
                (r["a"], r["b"], r["cos"]) for r in cosine_pairs_topk(self.emb, k=cfg["pairs_k"]).collect()],
                primary=False)
            if rec["ok"] and got != self.want_pairs:
                self.fail(rec, f"pairs {got[:3]}... != brute force {self.want_pairs[:3]}...")
        n = len(self.docs_list)
        chain = self.walls("chain")
        self.named["dedup_docs_per_s"] = (n / median(chain) if chain else 0.0, "docs/s")
        self.named["pairs_topk_s"] = (median(self.walls("pairs_topk")), "s")
        first = self.first_chain or {"candidates": set(), "pairs": {}}
        cand, ver = first["candidates"], set(first["pairs"])
        self.layers["dedup.candidate_pairs"] = (len(cand), "count")
        self.layers["dedup.verified_pairs"] = (len(ver), "count")
        self.layers["dedup.candidate_precision"] = (
            len(cand & ver) / len(cand) if cand else 0.0, "ratio")
        chain_spans = {id(r["span"]) for r in self.ops if r["cls"] == "chain"}
        for op_name in ("shingles", "minhash", "jaccard", "winnow"):
            ss = [s for s in self.tr.by_layer("operators.dedup", op_name)
                  if s["parent"] is not None and id(self.tr.spans[s["parent"]]) in chain_spans]
            self.layers[f"dedup.{op_name}_s"] = (median([s["wall_s"] for s in ss]), "s")
            if self.tr.enabled and ss:
                self.layers[f"dedup.{op_name}_executor_cpu_s"] = (
                    self.spark_per(ss, "executor_cpu_s", len(ss)), "core-s")
                self.layers[f"dedup.{op_name}_shuffle_bytes"] = (
                    self.spark_per(ss, "shuffle_write_bytes", len(ss)), "bytes")
        ps = [r["span"] for r in self.ops if r["cls"] == "pairs_topk"]
        if self.tr.enabled and ps:
            self.layers["similarity.pairs_topk_executor_cpu_s"] = (self.spark_per(ps, "executor_cpu_s", len(ps)), "core-s")
            self.layers["similarity.pairs_topk_gc_s"] = (self.spark_per(ps, "gc_s", len(ps)), "s")
            self.layers["similarity.pairs_topk_jobs"] = (self.spark_per(ps, "jobs", len(ps)), "count")


def brute_topk_pairs(mat: np.ndarray, k: int, block: int = 512) -> list[tuple[int, int, float]]:
    """Exact top-k pairs (a < b) by cosine, rounded to 4 digits, ordered by
    (cos desc, a, b): a blocked numpy scan, then the candidates within 1e-6
    of the k-th best re-scored with a sequential float64 sum."""
    n = len(mat)
    norms = np.sqrt((mat * mat).sum(axis=1))
    best: list[tuple[float, int, int]] = []
    for s in range(0, n, block):
        cos = (mat[s : s + block] @ mat.T) / (norms[s : s + block, None] * norms[None, :])
        ii, jj = np.triu_indices(cos.shape[0], k=s + 1, m=n)  # global col > global row
        vals = cos[ii, jj]
        top = np.argpartition(-vals, min(4 * k, len(vals) - 1))[: 4 * k]
        best += [(float(vals[t]), int(ii[t] + s), int(jj[t])) for t in top]
    best.sort(key=lambda x: -x[0])
    # a pair below the k-th value can still tie it after rounding to 4 digits
    floor = round(best[k - 1][0], 4) - 5e-5 - 1e-6
    exact = []
    for approx, a, b in best:
        if approx < floor:
            break
        x, y = mat[a], mat[b]
        dot = np.cumsum(x * y)[-1]
        c = dot / (np.sqrt(np.cumsum(x * x)[-1]) * np.sqrt(np.cumsum(y * y)[-1]))
        exact.append((a, b, round(float(c), 4)))
    exact.sort(key=lambda t: (-t[2], t[0], t[1]))
    return exact[:k]


def minhash_band_match(x: set[str], y: set[str], cfg: dict) -> bool:
    """Whether two shingle sets share a MinHash LSH band (md5 family)."""
    import hashlib

    def sig(s):
        return [min(hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in s)
                for i in range(1, cfg["minhash_hashes"] + 1)]

    sx, sy = sig(x), sig(y)
    rows = cfg["minhash_hashes"] // cfg["minhash_bands"]
    return any(sx[b * rows:(b + 1) * rows] == sy[b * rows:(b + 1) * rows]
               for b in range(cfg["minhash_bands"]))


def winnow_ref(text: str, k: int = 4, w: int = 4):
    """Winnowing fingerprint by the textbook definition: (count, md5 of the
    sorted distinct window-minimum hashes), or None below k+w-1 tokens."""
    import hashlib

    toks = [t for t in gen.WS_SPLIT.split((text or "").lower()) if t]
    if len(toks) < k + w - 1:
        return None
    hs = [hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8]
          for i in range(len(toks) - k + 1)]
    fps = sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})
    return (len(fps), hashlib.md5(",".join(fps).encode()).hexdigest())


# ----------------------------------------------------- layer microbenchmarks


def microbench(seed: int, index_path: str) -> tuple[dict[str, tuple[float, str]], list[str]]:
    """One-core layer speeds on seeded inputs, in this process: the
    tokenizer, the query parser, and the posting codec over the committed
    blocks of a seeded term sample of the index at ``index_path``.  Returns
    (metrics, check failures)."""
    out = {}
    docs = pd.Series([t for _, t in gen.corpus_docs(2000, seed)])
    reps = []
    for _ in range(3):
        t = time.perf_counter()
        tokenize_series(docs)
        reps.append(time.perf_counter() - t)
    out["tokenizer.docs_per_s"] = (len(docs) / median(reps), "docs/s")

    parser = QueryParser(flags=DEFAULT_FLAGS | FLAG_WILDCARD)
    rng = gen.seed_rng(seed, "parser")
    words = [w for _, t in gen.corpus_docs(50, seed) for w in t.split() if gen.SAFE_TERM.match(w)]
    forms = ("{a}", "{a} OR {b}", "{a} AND {b}", "{a} AND NOT {b}", '"{a} {b}"', "{a} NEAR {b}")
    texts = [rng.choice(forms).format(a=rng.choice(words), b=rng.choice(words)) for _ in range(300)]
    reps = []
    for _ in range(3):
        t = time.perf_counter()
        for s in texts:
            parser.parse_query(s)
        reps.append((time.perf_counter() - t) / len(texts))
    out["parser.parse_us"] = (median(reps) * 1e6, "us")

    blocks = pd.read_parquet(
        os.path.join(index_path, "postings"),
        columns=["term", "first_docid", "last_docid", "n", "max_wdf", "docids", "wdfs", "doclens"])
    terms = sorted(set(blocks["term"]))
    sample = set(gen.seed_rng(seed, "codec").sample(terms, min(SIZES["codec_terms"], len(terms))))
    rows = list(blocks[blocks["term"].isin(sample)].itertuples(index=False))
    n_post = sum(r.n for r in rows)
    out["codec.bytes_per_posting"] = (
        sum(len(r.docids) + len(r.wdfs) + len(r.doclens) for r in rows) / n_post, "bytes")
    problems = []
    for r in rows:
        d, w = codec.decode_docids(r.docids, r.n), codec.decode_counts(r.wdfs, r.n)
        if (int(d[0]), int(d[-1]), int(w.max())) != (r.first_docid, r.last_docid, r.max_wdf):
            problems.append(f"block of {r.term!r} decodes to docids {d[0]}..{d[-1]}, "
                            f"max wdf {w.max()}; header says {r.first_docid}..{r.last_docid}, {r.max_wdf}")
            break
    reps = []
    for _ in range(5):
        t = time.perf_counter()
        for r in rows:
            codec.decode_docids(r.docids, r.n)
            codec.decode_counts(r.wdfs, r.n)
            codec.decode_counts(r.doclens, r.n)
        reps.append(time.perf_counter() - t)
    out["codec.decode_postings_per_s"] = (n_post / median(reps), "postings/s")
    return out, problems


WORKLOADS = {w.name: w for w in (Build, Search, Fresh, Dedup)}
