"""Seeded input generators.  Every input the benchmark feeds the engine is a
pure function of the run's seed: the corpora, the query mix, the planted
near-duplicate families, the embeddings and the freshness batches."""

from __future__ import annotations

import random
import re

import numpy as np

from xapian_spark.functions.tokenizer import xapian_tokenize
from xapian_spark.plans import query as Q
from xapian_spark.sources.corpus import doc_row

# Parser-safe terms: the query parser maps each of these to Term(text).
SAFE_TERM = re.compile(r"^(?:[a-z][a-z0-9_]{0,23}|[0-9]{1,6})$")
WS_SPLIT = re.compile(r"[\t\n\x0b\f\r ]+")

# Vocabulary of planted-family docs: identifiers and numbers, so nearly every
# 3-token shingle of a family is shared by the family alone.
_FAMILY_WORDS = [
    "alloc_page", "btree_split", "cursor_next", "flush_log", "heap_push",
    "lock_acquire", "merge_runs", "page_fault", "queue_pop", "rehash_table",
    "scan_range", "trie_insert", "varint_len", "wal_append", "zone_map",
]


def seed_rng(seed: int, *salt) -> random.Random:
    return random.Random(":".join(str(x) for x in (seed, *salt)))


# ---------------------------------------------------------------- corpora


def corpus_docs(n: int, seed: int, first_id: int = 1) -> list[tuple[int, str]]:
    """(doc_id, content) rows of the engine's source-code corpus."""
    return [(first_id + i, doc_row(i, seed)[4]) for i in range(n)]


def fresh_batches(n_batches: int, batch_size: int, seed: int):
    """Freshness batches.  Every doc of batch b carries the term
    ``batchmark<b>``, so a query for it is answered only once the batch is
    visible.  Returns [(marker, [(doc_id, content)])]."""
    out = []
    for b in range(n_batches):
        marker = f"batchmark{b:03d}"
        docs = [
            (b * batch_size + i + 1, doc_row(b * batch_size + i, seed)[4] + "\n" + marker)
            for i in range(batch_size)
        ]
        out.append((marker, docs))
    return out


def dedup_corpus(n_base: int, n_families: int, family_size: int, seed: int):
    """Source-code corpus plus planted near-duplicate families.

    A family is a root doc of identifier/number lines and ``family_size - 1``
    copies, each with two token substitutions.  Two substitutions change at
    most 6 of a copy's 3-shingles, so two copies of a root with S >= 60
    shingles share at least S-12 of at most S+12: Jaccard >= 0.66, above the
    0.5 threshold by construction.  Returns (docs, planted_pairs)."""
    docs = corpus_docs(n_base, seed)
    planted: list[tuple[int, int]] = []
    next_id = n_base + 1
    for f in range(n_families):
        rng = seed_rng(seed, "family", f)
        toks = []
        for _ in range(rng.randint(64, 96)):
            toks.append(rng.choice(_FAMILY_WORDS) if rng.random() < 0.5 else str(rng.randint(0, 99999)))
        ids = []
        for c in range(family_size):
            t = list(toks)
            if c:
                for _ in range(2):
                    t[rng.randrange(len(t))] = str(rng.randint(100000, 999999))
            lines = [" ".join(t[i : i + 8]) for i in range(0, len(t), 8)]
            docs.append((next_id, "\n".join(lines)))
            ids.append(next_id)
            next_id += 1
        planted += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    return docs, planted


def shingle_sets(docs: list[tuple[int, str]], w: int) -> dict[int, set[str]]:
    """Distinct w-token shingles per doc, tokenized like operators.dedup."""
    out = {}
    for did, text in docs:
        toks = [t for t in WS_SPLIT.split((text or "").lower()) if t]
        out[did] = {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}
    return out


def embeddings(n: int, dim: int, seed: int) -> np.ndarray:
    """Clustered vectors: n/4 centres, each row a centre plus jitter."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(max(n // 4, 1), dim))
    return centres[np.arange(n) % len(centres)] + 0.15 * rng.normal(size=(n, dim))


# ------------------------------------------------------------- query mix

#: query classes in the order each round issues them
CLASSES = (
    "term", "or2", "or4", "and", "andnot", "phrase", "near", "synonym",
    "wildcard", "count", "wand",
)


class QueryMix:
    """Seeded query stream over a built index.

    Terms come from three termfreq bands of the index dictionary: hot
    (> N/2), mid (N/50, N/2] and rare [2, N/50].  Phrase and NEAR pairs are
    adjacent or nearby tokens of a seeded corpus doc, so they match.  Each
    round issues one query per class; every other shaped query arrives as a
    string through the query parser."""

    def __init__(self, seed: int, dictionary: dict[str, int], n_docs: int,
                 docs: list[tuple[int, str]], parser):
        self.seed = seed
        self.parser = parser
        safe = {t: tf for t, tf in dictionary.items() if SAFE_TERM.match(t) and tf >= 2}
        self.hot = sorted(t for t, tf in safe.items() if tf > n_docs / 2)
        self.mid = sorted(t for t, tf in safe.items() if n_docs / 50 < tf <= n_docs / 2)
        self.rare = sorted(t for t, tf in safe.items() if tf <= n_docs / 50)
        if not (self.hot and len(self.mid) >= 4 and len(self.rare) >= 2):
            raise ValueError("dictionary too small for the query mix")
        self.prefixes = sorted({t[:4] for t in self.mid if len(t) >= 5 and t[0].isalpha()})
        self.docs = docs

    def _pair(self, rng, gap: int) -> tuple[str, str]:
        while True:
            _, text = rng.choice(self.docs)
            toks = xapian_tokenize(text)
            if len(toks) <= gap:
                continue
            i = rng.randrange(len(toks) - gap)
            a, b = toks[i], toks[i + gap]
            if a != b and SAFE_TERM.match(a) and SAFE_TERM.match(b):
                return a, b

    def round(self, r: int) -> list[dict]:
        rng = seed_rng(self.seed, "round", r)
        hot = lambda: rng.choice(self.hot)  # noqa: E731
        mid = lambda: rng.choice(self.mid)  # noqa: E731
        rare = lambda: rng.choice(self.rare)  # noqa: E731
        band = (hot, mid, rare)[r % 3]

        def distinct(*fns):
            while True:
                ts = [f() for f in fns]
                if len(set(ts)) == len(ts):
                    return ts

        t1 = band()
        o2 = distinct(mid, rare)
        o4 = distinct(hot, mid, mid, rare)
        an = distinct(hot, mid)
        nt = distinct(mid, hot)
        ph = self._pair(rng, 1)
        ne = self._pair(rng, 2)
        sy = distinct(mid, rare)
        pre = rng.choice(self.prefixes)
        specs = [
            ("term", t1, Q.Term(t1)),
            ("or2", " OR ".join(o2), Q.Or([Q.Term(t) for t in o2])),
            ("or4", " OR ".join(o4), Q.Or([Q.Term(t) for t in o4])),
            ("and", " AND ".join(an), Q.And([Q.Term(t) for t in an])),
            ("andnot", f"{nt[0]} AND NOT {nt[1]}", Q.AndNot(Q.Term(nt[0]), Q.Term(nt[1]))),
            ("phrase", f'"{ph[0]} {ph[1]}"', Q.Phrase([Q.Term(ph[0]), Q.Term(ph[1])], window=2)),
            ("near", f"{ne[0]} NEAR {ne[1]}", Q.Near([Q.Term(ne[0]), Q.Term(ne[1])], window=11)),
            ("synonym", None, Q.Synonym([Q.Term(t) for t in sy])),
            ("wildcard", f"{pre}*", Q.Wildcard(f"{pre}*")),
        ]
        out = []
        for i, (cls, text, q) in enumerate(specs):
            parse = text is not None and (r + i) % 2 == 0
            out.append({"cls": cls, "text": text if parse else None, "query": q, "mode": "mset"})
        cq = distinct(hot, mid)
        out.append({"cls": "count", "text": None, "mode": "count",
                    "query": Q.And([Q.Term(t) for t in cq]) if r % 2 else Q.Or([Q.Term(t) for t in cq])})
        wq = distinct(hot, mid, rare)
        out.append({"cls": "wand", "text": None, "mode": "wand",
                    "query": Q.Or([Q.Term(t) for t in wq])})
        return out
