"""Index build pipeline (the reference's ``Inverter`` + glass postlist chunks,
re-expressed as a Spark job).

Reference shape being reproduced (SURVEY.md §3.3):

- per-document inversion (term → wdf, positions):
  xapian-core/backends/glass/glass_inverter.h:49-211 — here a single
  ``mapInPandas`` pass over the corpus (tokenize once, invert in-batch,
  no shuffle);
- collection stats: weight/weightinternal.h:106-231 — small aggregations;
- posting-list chunks with delta-coded docids:
  backends/glass/glass_postlist.cc:677-695 — here fixed-content blocks keyed
  by (term, block_no) with first/last docid + max_wdf for block-max pruning.

Scale design (the part that must survive 10^12 docs):

- The inversion pass is shuffle-free (tokenization is per-document).
- ``dictionary`` and ``doclens`` are groupBy aggregations with map-side
  partial aggregation, so Zipf-skewed hot terms ("the", "if", "return") do
  NOT concentrate on one reducer.
- Posting blocks are grouped by ``(term, span_no)`` where
  ``span_no = doc_id // span(term)`` and ``span(term)`` shrinks as termfreq
  grows. A hot term therefore fans out over many groups — the span key IS
  the salt — while a rare term collapses to a single group. Block contents
  are a pure function of (term, docid-range contents), so rebuilding any
  partition is deterministic and resumable (north rule).
- The join that attaches span(term) broadcasts only the hot-term head,
  whose size is bounded regardless of corpus size (see build_index).
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import codec
from ..functions.prefixes import make_term
from ..functions.tokenizer import simple_tokenize, xapian_tokenize

DEFAULT_BLOCK_SIZE = 4096  # postings per block (≈ glass chunk granularity)

#: Wall-clock phase timings of the most recent ``build_index(...,
#: write_path=...)`` call in this process — read by bench.py to attribute
#: build time to the (overlapped) stats vs write phases.
LAST_BUILD_TIMINGS: dict = {}
MAX_SPAN = 1 << 22  # docid span cap per group → bounds executor group memory
_SUBBLOCK_SHIFT = 32  # block_no = span_no << 32 | idx
TIER_SHIFT = 60  # impact tier lives at span_no bit 28 → block_no bit 60
# Largest vocabulary whose hash→term map build_index broadcasts to re-attach
# term strings to packed blocks; past it the re-attach is a shuffle join,
# which moves every packed block row a second time.
_REATTACH_BROADCAST_MAX_VOCAB = 4_000_000

# Positions travel PRE-ENCODED (delta+VByte per posting) from the inversion
# pass: VByte streams concatenate losslessly, so the block-pack stage only
# joins byte strings instead of re-encoding 10^? position lists — the
# per-posting Python cost lives in the embarrassingly-parallel map stage.
# n_pos < wdf is possible (add_term-style postings, e.g. Z-stemmed forms).
POSTINGS_FLAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("term", StringType()),
        StructField("wdf", IntegerType()),
        StructField("n_pos", IntegerType()),
        StructField("doc_len", IntegerType()),
        StructField("pos_enc", BinaryType()),
    ]
)

# Posting blocks. ``doclens`` is denormalized into the block (the reference
# reads doclen from a separate postlist at match time,
# glass_postlist.cc:196-217; storing it inline removes the docs-join from the
# scoring path entirely — BM25 needs only (wdf, doc_len)).  ``max_wdf`` and
# ``min_doclen`` are the block-max WAND metadata (bm25weight.cc:180-202).
BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("block_no", LongType()),
        StructField("first_docid", LongType()),
        StructField("last_docid", LongType()),
        StructField("n", IntegerType()),
        StructField("max_wdf", IntegerType()),
        StructField("min_doclen", IntegerType()),
        StructField("docids", BinaryType()),
        StructField("wdfs", BinaryType()),
        StructField("doclens", BinaryType()),
        StructField("pos_counts", BinaryType()),
        StructField("positions", BinaryType()),
    ]
)


@dataclass
class IndexTables:
    """The in-memory handle to one index: four DataFrames + config.

    ≈ a glass database directory (postlist/termlist/docdata tables +
    version file, backends/glass/glass_database.h:82-111).
    """

    docs: DataFrame  # doc_id, doc_len, …meta
    dictionary: DataFrame  # term, termfreq, collfreq, wdf_max
    postings: DataFrame  # BLOCK_SCHEMA
    stats: dict  # doccount, total_length, avg_length, doclen bounds
    config: dict = field(default_factory=dict)
    #: logically-deleted docs (doc_id) — anti-joined at match time, removed
    #: physically at compaction (delete_document semantics, database.h:1016+)
    tombstones: DataFrame | None = None
    #: user metadata KV store (get_metadata/set_metadata,
    #: include/xapian/database.h:647+ + backends/glass/glass_metadata.*);
    #: persisted atomically with the snapshot manifest on save_index.
    #: The SYNONYM_KEY entry holds the query-expansion synonym table
    #: (glass_synonym.h analog): term → [synonyms].
    metadata: dict = field(default_factory=dict)

    SYNONYM_KEY = "xapian.synonyms"

    def get_metadata(self, key: str, default=None):
        return self.metadata.get(key, default)

    def set_metadata(self, key: str, value) -> None:
        self.metadata[key] = value

    # -- synonym table (query-expansion dictionary, distinct from
    #    OP_SYNONYM; backends/glass/glass_synonym.*) ----------------------
    def add_synonym(self, term: str, synonym: str) -> None:
        syns = self.metadata.setdefault(self.SYNONYM_KEY, {})
        lst = syns.setdefault(term, [])
        if synonym not in lst:
            lst.append(synonym)

    def remove_synonym(self, term: str, synonym: str) -> None:
        syns = self.metadata.get(self.SYNONYM_KEY, {})
        if term in syns and synonym in syns[term]:
            syns[term].remove(synonym)

    def synonyms(self, term: str) -> list[str]:
        return list(self.metadata.get(self.SYNONYM_KEY, {}).get(term, []))

    # -- per-value-slot statistics (Database::get_value_freq /
    #    get_value_lower_bound / get_value_upper_bound,
    #    include/xapian/database.h:313-415; stored per slot by the glass
    #    backend, backends/valuestats.h:28-52).  Our value slots are typed
    #    docs-table columns, so the stats are one tiny aggregation backed by
    #    parquet column min/max metadata; memoized per column like the
    #    reference's cached ValueStats. ------------------------------------
    def _value_stats(self, column: str) -> tuple[int, object, object]:
        cache = self.__dict__.setdefault("_value_stats_cache", {})
        if column not in cache:
            c = F.col(column)
            row = self.docs.agg(
                F.count(c).alias("freq"), F.min(c).alias("lo"), F.max(c).alias("hi")
            ).collect()[0]
            cache[column] = (int(row["freq"]), row["lo"], row["hi"])
        return cache[column]

    def value_freq(self, column: str) -> int:
        """Number of documents with a value in this slot (non-null rows)."""
        return self._value_stats(column)[0]

    def value_lower_bound(self, column: str):
        """Smallest value in the slot (None when no doc has one)."""
        return self._value_stats(column)[1]

    def value_upper_bound(self, column: str):
        """Largest value in the slot (None when no doc has one)."""
        return self._value_stats(column)[2]


def invert_corpus(
    corpus: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    mode: str = "xapian",
    with_positions: bool = True,
    stopwords: frozenset[str] | None = None,
    stem: str | None = None,
    stem_strategy: str = "some",
    boolean_fields: dict[str, str] | None = None,
    ngrams: bool = False,
    stem_col: str | None = None,
    word_breaks: frozenset[str] | None = None,
) -> DataFrame:
    """Corpus → flat postings (doc_id, term, wdf, positions).

    One Arrow-batched pass; the per-doc inversion mirrors
    Document::Internal's term→TermInfo map (backends/documentinternal.h:69-107).
    ``stopwords`` implements Stopper with STOP_ALL: stopped terms are
    dropped before add_posting and consume no position
    (termgenerator_internal.cc:334-338).

    ``stem='en'`` enables Snowball stemming (functions/stem_en.py, golden-
    validated) with TermGenerator strategies
    (termgenerator_internal.h:38, usage :341-390):
    - 'some' (reference default): unstemmed positional terms + Z-prefixed
      stemmed forms as positionless add_term postings; Z-term wdf COUNTS
      toward doc_len (doclen = Σ wdf over the whole termlist);
    - 'all': stemmed positional terms, no prefix;
    - 'all_z': Z-prefixed stemmed positional terms.
    Stemming skips terms whose first character isn't a lower/title/modifier/
    other letter (should_stem, termgenerator_internal.cc:63-74).

    ``boolean_fields``: column → term prefix.  Each doc gains one boolean
    term ``prefix[:​]value`` per field (add_boolean_term ≡ add_term(t, 0),
    omega termprefixes.rst:55-105): wdf = 0, no positions, and NOT counted
    in doc_len — so they filter (OP_FILTER / boolean prefixes in the query
    parser) without perturbing any BM25 statistic.  Values are used verbatim
    (boolean terms bypass the term generator in the reference too).

    ``ngrams``: FLAG_NGRAMS (termgenerator_internal.cc:145-186) — CJK /
    unbroken-script spans index as unigrams (positional) + bigrams
    (positionless add_term postings whose wdf counts toward doc_len, like
    the reference's action); stemming is never applied to ngram tokens.

    ``word_breaks``: FLAG_WORD_BREAKS analog
    (termgenerator_internal.cc:149-162, word-breaker.cc WordIterator) —
    unbroken-script spans are segmented into WORDS via greedy
    longest-match against this lexicon (ICU's dictionary BreakIterator
    scheme with the dictionary injectable; single-char fallback), every
    word positional; other text tokenizes normally.  Like ``ngrams``,
    stemming is not applied in this mode.  Mutually exclusive with
    ``ngrams``.

    ``stem_col``: per-document stemming — the stemmer is chosen per row
    from this column's value (ISO code or Snowball name), mirroring the
    reference's per-TermGenerator ``set_stemmer`` on a multilingual corpus
    (one TermGenerator per document language).  Rows whose value names no
    known algorithm (or is null/empty) index unstemmed — at web scale the
    language tag IS sometimes junk, and a missing Z-form degrades recall
    for that doc only instead of failing the job.  Mutually exclusive with
    ``stem``.  Executors resolve each language once per Arrow batch via a
    memoized registry lookup; query-side, pick the matching
    QueryParser(stem=...) per query language exactly as the reference does.
    """
    if stem is not None and stem_col is not None:
        raise ValueError("stem and stem_col are mutually exclusive")
    base_tok = xapian_tokenize if mode == "xapian" else simple_tokenize
    if stopwords:
        stop = frozenset(stopwords)

        def tok(text: str) -> list[str]:
            return [t for t in base_tok(text) if t not in stop]

    else:
        tok = base_tok
    stemmer = None
    if stem is not None:
        from ..functions.stemmers import get_stemmer

        stemmer = get_stemmer(stem)
    bool_fields = dict(boolean_fields or {})
    src = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(content_col).alias("_content"),
        *([F.col(stem_col).cast("string").alias("_stem_lang")]
          if stem_col else []),
        *[F.col(c).cast("string").alias(f"_bf_{c}") for c in bool_fields],
    )

    if ngrams and word_breaks is not None:
        raise ValueError("ngrams and word_breaks are mutually exclusive")
    if word_breaks is not None:
        from ..functions.tokenizer import wordbreak_tokenize_mixed

        wb_lex = frozenset(word_breaks)
        wb_stop = frozenset(stopwords) if stopwords else None

        def tok_wb(text: str) -> list[str]:
            toks = wordbreak_tokenize_mixed(text, wb_lex)
            if wb_stop:
                toks = [t for t in toks if t not in wb_stop]
            return toks

    if ngrams:
        from ..functions.tokenizer import ngram_tokenize_mixed

        base_mixed = ngram_tokenize_mixed
        if stopwords:
            stop2 = frozenset(stopwords)

            def tok_mixed(text: str) -> list[tuple[str, bool]]:
                return [tp for tp in base_mixed(text) if tp[0] not in stop2]

        else:
            tok_mixed = base_mixed

        def _invert_doc_ngram(
            pairs: list[tuple[str, bool]],
        ) -> tuple[dict[str, tuple[int, list[int]]], int]:
            acc: dict[str, tuple[int, list[int]]] = {}
            dlen = 0
            pos = 0
            for t, positional in pairs:
                dlen += 1
                if positional:
                    pos += 1
                cur = acc.get(t)
                if cur is None:
                    acc[t] = (1, [pos] if positional else [])
                else:
                    if positional:
                        cur[1].append(pos)
                    acc[t] = (cur[0] + 1, cur[1])
            return acc, dlen

    def _invert_doc(
        terms: list[str], stemmer=stemmer
    ) -> tuple[dict[str, tuple[int, list[int]]], int]:
        """term → (wdf, positions); returns (acc, doc_len = Σ wdf)."""
        acc: dict[str, tuple[int, list[int]]] = {}
        dlen = 0
        pos = 0
        for t in terms:
            if stemmer is not None and stem_strategy in ("all", "all_z"):
                t = stemmer(t)
                if stem_strategy == "all_z":
                    t = "Z" + t
            pos += 1
            dlen += 1
            cur = acc.get(t)
            if cur is None:
                acc[t] = (1, [pos])
            else:
                cur[1].append(pos)
                acc[t] = (cur[0] + 1, cur[1])
            if stemmer is not None and stem_strategy == "some" and _should_stem(t):
                z = "Z" + stemmer(t)
                dlen += 1
                zc = acc.get(z)
                acc[z] = (1, []) if zc is None else (zc[0] + 1, zc[1])
        return acc, dlen

    if stem_col:
        _lang_cache: dict[str, object] = {}

        def _stemmer_for(lang) -> object:
            """Memoized per-language resolution; unknown/junk tags -> None
            (that doc indexes unstemmed rather than failing the job)."""
            key = (lang or "").strip().lower() if isinstance(lang, str) else ""
            got = _lang_cache.get(key, _lang_cache)
            if got is not _lang_cache:
                return got
            fn = None
            if key:
                from ..functions.stemmers import get_stemmer

                try:
                    fn = get_stemmer(key)
                except ValueError:
                    fn = None
            _lang_cache[key] = fn
            return fn

    def _invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc: list[int] = []
            out_term: list[str] = []
            out_wdf: list[int] = []
            out_npos: list[int] = []
            out_len: list[int] = []
            # the batch's positions, one n_pos-long segment per posting
            flat_pos: list[int] = []
            ids = pdf["doc_id"].to_numpy()
            texts = pdf["_content"].to_numpy(dtype=object)
            langs = (
                pdf["_stem_lang"].to_numpy(dtype=object) if stem_col else None
            )
            bf_vals = {
                c: pdf[f"_bf_{c}"].to_numpy(dtype=object) for c in bool_fields
            }
            for r in range(len(ids)):
                text = texts[r]
                if not isinstance(text, str):
                    continue
                if ngrams:
                    acc, dlen = _invert_doc_ngram(tok_mixed(text))
                elif word_breaks is not None:
                    acc, dlen = _invert_doc(tok_wb(text))
                elif langs is not None:
                    acc, dlen = _invert_doc(tok(text), _stemmer_for(langs[r]))
                else:
                    acc, dlen = _invert_doc(tok(text))
                did = int(ids[r])
                for t, (wdf, poss) in acc.items():
                    out_doc.append(did)
                    out_term.append(t)
                    out_wdf.append(wdf)
                    out_npos.append(len(poss))
                    out_len.append(dlen)
                    if with_positions:
                        flat_pos.extend(poss)
                # boolean field terms: wdf 0, positionless, doc_len untouched
                for c, prefix in bool_fields.items():
                    v = bf_vals[c][r]
                    if not isinstance(v, str) or not v:
                        continue
                    bt = make_term(prefix, v)
                    if bt in acc:
                        continue  # already indexed as a content term
                    out_doc.append(did)
                    out_term.append(bt)
                    out_wdf.append(0)
                    out_npos.append(0)
                    out_len.append(dlen)
            if with_positions:
                pos_enc = _segment_bytes(
                    *codec.encode_segments(flat_pos, out_npos, delta=True)
                )
            else:
                pos_enc = [None] * len(out_doc)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "term": pd.Series(out_term, dtype=object),
                    "wdf": pd.Series(out_wdf, dtype="int32"),
                    "n_pos": pd.Series(out_npos, dtype="int32"),
                    "doc_len": pd.Series(out_len, dtype="int32"),
                    "pos_enc": pd.Series(pos_enc, dtype=object),
                }
            )

    return src.mapInPandas(_invert, POSTINGS_FLAT_SCHEMA)


def _should_stem(term: str) -> bool:
    """should_stem (termgenerator_internal.cc:63-74): first character is a
    lower/title/modifier/other-case letter (notably NOT digits)."""
    import unicodedata

    if not term:
        return False
    return unicodedata.category(term[0]) in ("Ll", "Lt", "Lm", "Lo")


def _segment_bytes(buf: bytes, offsets: np.ndarray) -> list[bytes]:
    """Cut ``buf`` at ``offsets`` (``k + 1`` byte offsets, as
    ``codec.encode_segments`` returns them) into its ``k`` segments."""
    o = offsets.tolist()
    return [buf[lo:hi] for lo, hi in zip(o[:-1], o[1:])]


def _term_key(salt: int):
    """The pack shuffle's int64 stand-in for ``term``: ``xxhash64(term)`` at
    salt 0, else ``xxhash64(salt, term)``.  The salt is hashed FIRST: Spark
    seeds each column's hash with the previous column's, so
    ``xxhash64(term, salt)`` would keep every collision of ``xxhash64(term)``
    while ``xxhash64(salt, term)`` is a different hash function per salt."""
    salted = [F.lit(salt)] if salt else []
    return F.xxhash64(*salted, F.col("term"))


def _pack_partition(block_size: int, with_positions: bool):
    """mapInPandas kernel: one hash partition of (_thash, span_no) groups →
    block rows keyed by ``_thash`` (the term's ``_term_key``).

    The partitioner guarantees group completeness per partition (explicit
    ``repartition(n, "_thash", "span_no")`` upstream), so this replaces
    groupBy().applyInPandas() — whose ~1.5 ms per-group overhead is
    prohibitive at millions of (term, span) groups — with ONE partition-wide
    sort + vectorized group-boundary detection.  Output is a pure function
    of group contents (deterministic at any parallelism): rows sorted by
    (_thash, span_no, doc_id), block boundaries at every ``block_size``-th
    posting within a group.

    Blocks are cut with numpy over the whole partition: their metadata is
    indexed or ``reduceat``-ed at the block starts, and each coded column is
    ONE ``codec.encode_segments`` call with a segment per block.  The only
    per-block Python left is slicing those buffers into the column's values
    and joining each block's ``pos_enc`` bytes (VByte streams concatenate
    losslessly; one join per block beat one join per partition plus a
    ``len`` per posting on 1.6 M-posting partitions).

    The rows carry an 8-byte key instead of the term string (build_index
    picks a salt under which the key is injective over the vocabulary), so
    the sort keys are pure int64 numpy sorts and the term string is
    re-attached per BLOCK row after packing — up to block_size× fewer
    string attachments than shuffling one per posting (guide §2.3 "shuffle keys
    and metadata instead of payloads").
    """

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        del parts
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["_thash", "span_no", "doc_id"], kind="mergesort")
        terms = pdf["_thash"].to_numpy(dtype=np.int64)
        span_nos = pdf["span_no"].to_numpy(dtype=np.int64)
        docids = pdf["doc_id"].to_numpy(dtype=np.int64)
        wdfs = pdf["wdf"].to_numpy(dtype=np.int64)
        dlens = pdf["doc_len"].to_numpy(dtype=np.int64)
        n = len(pdf)
        # group boundaries: term change OR span change
        change = np.empty(n, dtype=bool)
        change[0] = True
        if n > 1:
            change[1:] = (terms[1:] != terms[:-1]) | (span_nos[1:] != span_nos[:-1])
        starts = np.flatnonzero(change)
        # a block starts at every block_size-th posting of a group
        in_group = np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n)))
        bstarts = np.flatnonzero(in_group % block_size == 0)
        bn = np.diff(np.append(bstarts, n))

        def coded(values: np.ndarray, delta: bool) -> list[bytes]:
            return _segment_bytes(*codec.encode_segments(values, bn, delta))

        pos_counts_col = positions_col = None
        if with_positions:
            pos_counts_col = coded(pdf["n_pos"].to_numpy(dtype=np.int64), False)
            pos_enc = pdf["pos_enc"].tolist()
            bounds = np.append(bstarts, n).tolist()
            positions_col = [
                b"".join(pos_enc[lo:hi]) for lo, hi in zip(bounds[:-1], bounds[1:])
            ]
        yield pd.DataFrame(
            {
                "_thash": terms[bstarts],
                "block_no": (span_nos[bstarts] << _SUBBLOCK_SHIFT)
                | (in_group[bstarts] // block_size),
                "first_docid": docids[bstarts],
                "last_docid": docids[bstarts + bn - 1],
                "n": bn,
                "max_wdf": np.maximum.reduceat(wdfs, bstarts),
                "min_doclen": np.minimum.reduceat(dlens, bstarts),
                "docids": coded(docids, True),
                "wdfs": coded(wdfs, False),
                "doclens": coded(dlens, False),
                "pos_counts": pos_counts_col,
                "positions": positions_col,
            }
        )

    return pack


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    meta_cols: list[str] | None = None,
    mode: str = "xapian",
    with_positions: bool = True,
    block_size: int = DEFAULT_BLOCK_SIZE,
    integrity_sha256: bool = True,
    flat_postings: DataFrame | None = None,
    stopwords: frozenset[str] | None = None,
    stem: str | None = None,
    stem_strategy: str = "some",
    boolean_fields: dict[str, str] | None = None,
    ngrams: bool = False,
    stem_col: str | None = None,
    word_breaks: frozenset[str] | None = None,
    impact_tiers: int = 1,
    write_path: str | None = None,
) -> IndexTables:
    """Build docs/dictionary/postings/stats from a corpus DataFrame.

    ``flat_postings`` lets a checkpointed build inject pre-staged inversion
    output (see sources/checkpoint.py) so the merge phase is shared.
    ``boolean_fields`` (column → term prefix) adds wdf-0 boolean filter
    terms per doc — see invert_corpus.
    ``stem_col`` selects the stemmer per document from a language column
    (multilingual corpora) — see invert_corpus.
    ``write_path`` pipelines persistence into the build (used by bench and
    any bulk-load path): the docs and dictionary table writes are submitted
    concurrently with the stats action — they share the inversion's cached
    tables via Spark's stage/cache sharing, so their job-commit tails hide
    under the big parallel stats job instead of serializing after it — and
    the postings write + manifest commit follow.  Equivalent to
    ``save_index(build_index(...), path)`` (same files, same manifest
    semantics) with a shorter critical path; phase timings land in
    ``LAST_BUILD_TIMINGS``.
    ``impact_tiers`` > 1 additionally splits each term's posting groups by
    a wdf-impact tier (tier t holds wdf ≥ 2^(tiers-1-t), descending) —
    impact-layered posting blocks after Anh & Moffat's impact-ordered
    indexes.  On a docid-ordered layout with positionally-uncorrelated
    scores every block contains one high-impact posting, so block-max
    bounds never drop below θ and WAND prunes NOTHING (measured: 0 of 313
    hot-term blocks at 1.28M docs); tiering restores decaying bounds so
    low-impact tiers are excluded from parquet IO by metadata alone.
    Every query path is layout-agnostic (blocks stay docid-sorted within
    a group; ranges/decodes unchanged) — only pruning effectiveness
    changes.
    """
    flat = flat_postings
    if flat is None:
        flat = invert_corpus(
            corpus, id_col, content_col, mode, with_positions,
            stopwords=stopwords, stem=stem, stem_strategy=stem_strategy,
            boolean_fields=boolean_fields, ngrams=ngrams, stem_col=stem_col,
            word_breaks=word_breaks,
        )
    # Persist: consumed by doclens, dictionary and blocks.
    flat = flat.persist()

    # Persist: consumed twice (the stats action and the docs-table join);
    # without it the docs write job re-runs the whole aggregation (~1.2 s
    # of the non-scaling serial tail at 8 cores).
    doclens = flat.groupBy("doc_id").agg(
        F.max("doc_len").cast("long").alias("doc_len"),
        # distinct wdf>0 terms per doc (get_unique_terms, database.h:409);
        # wdf-0 boolean field terms don't count
        F.sum(F.when(F.col("wdf") > 0, 1).otherwise(0))
        .cast("long")
        .alias("uniq_terms"),
    ).persist()

    meta_cols = meta_cols or []
    doc_side = [F.col(id_col).cast("long").alias("doc_id")] + [
        F.col(c) for c in meta_cols
    ]
    if integrity_sha256:
        doc_side.append(F.sha2(F.col(content_col).cast("binary"), 256).alias("sha256"))
    docs = (
        corpus.select(*doc_side)
        .join(doclens, "doc_id", "left")
        .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0)).cast("long"))
        .withColumn(
            "uniq_terms", F.coalesce(F.col("uniq_terms"), F.lit(0)).cast("long")
        )
    )

    dictionary = flat.groupBy("term").agg(
        F.count("*").cast("long").alias("termfreq"),
        F.sum("wdf").cast("long").alias("collfreq"),
        F.max("wdf").cast("int").alias("wdf_max"),
    ).persist()

    # ONE stats action (doclens agg × corpus count cross-joined single rows)
    stats_plan = (
        doclens.agg(
            F.count("*").alias("n_nonempty"),
            F.sum("doc_len").alias("total_length"),
            F.min("doc_len").alias("doclen_lower_bound"),
            F.max("doc_len").alias("doclen_upper_bound"),
            F.min(F.when(F.col("uniq_terms") > 0, F.col("uniq_terms"))).alias(
                "uniq_lb"
            ),
            F.max("uniq_terms").alias("uniq_ub"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .crossJoin(corpus.agg(F.count("*").alias("doccount")))
        .crossJoin(
            dictionary.agg(
                F.count("*").alias("vocab"),
                F.sum("termfreq").alias("n_postings"),
                # injectivity witness for the int-key pack shuffle: grouping
                # by _term_key equals grouping by term iff no two vocab
                # terms collide (checked below; a collision re-salts)
                F.count_distinct(_term_key(0)).alias("n_thash"),
            )
        )
    )

    # Pipelined persistence: the docs/dictionary writes depend only on the
    # persisted doclens/dictionary tables (NOT on the stats row), so when a
    # write_path is given they are submitted now and run concurrently with
    # the stats action.  The shared upstream (inversion + doclens shuffle)
    # is computed once — all three jobs reference the same persisted plans,
    # so the DAGScheduler shares the cache-fill stages — and the small
    # single-task tails of the side writes backfill the stats job's
    # scheduler gaps instead of serializing after it.
    side_futs: dict = {}
    pool = None
    t_phase0 = time.perf_counter()
    if write_path is not None:
        from concurrent.futures import ThreadPoolExecutor

        from ..sources.catalog import retract_manifest, write_manifest

        os.makedirs(write_path, exist_ok=True)
        retract_manifest(write_path)
        pool = ThreadPoolExecutor(max_workers=2)
        side_futs["docs"] = pool.submit(
            docs.write.mode("overwrite").parquet, f"{write_path}/docs"
        )
        side_futs["dictionary"] = pool.submit(
            dictionary.sort("term").write.mode("overwrite").parquet,
            f"{write_path}/dictionary",
        )

    def _abort_side_writes():
        """Await/cancel in-flight docs/dictionary writes when the build
        fails partway, so no thread or unobserved write exception leaks."""
        if pool is not None:
            pool.shutdown(wait=True, cancel_futures=True)

    try:
        st = stats_plan.collect()[0]
        # A 64-bit collision inside the vocabulary would merge two terms'
        # pack groups: re-salt until the key is injective (one-row job per
        # retry over the persisted dictionary).
        salt, n_keys = 0, st["n_thash"]
        while n_keys != st["vocab"]:
            salt += 1
            n_keys = dictionary.agg(F.count_distinct(_term_key(salt))).first()[0]
    except BaseException:
        _abort_side_writes()
        raise
    t_stats = time.perf_counter() - t_phase0
    n_nonempty = int(st["n_nonempty"] or 0)
    total_docs = int(st["doccount"])
    total_length = int(st["total_length"] or 0)
    n_postings = int(st["n_postings"] or 0)
    stats = {
        "doccount": total_docs,
        "total_length": total_length,
        # get_avlength = total_length / doccount (api/omdatabase.cc semantics)
        "avg_length": (total_length / total_docs) if total_docs else 0.0,
        # empty docs exist → doclen lower bound is 0 when corpus has them
        "doclen_lower_bound": 0
        if total_docs > n_nonempty
        else int(st["doclen_lower_bound"] or 0),
        "doclen_upper_bound": int(st["doclen_upper_bound"] or 0),
        # unique-term-count bounds over matching (non-empty) docs
        # (get_unique_terms_lower_bound/upper_bound, database.h:409-415)
        "uniqterms_lower_bound": int(st["uniq_lb"] or 1),
        "uniqterms_upper_bound": int(st["uniq_ub"] or 0),
    }

    # Adaptive span: expected ~block_size postings per (term, span) group.
    # span is a pure function of global termfreq → deterministic.
    #
    # Only terms whose span is NOT clamped at MAX_SPAN need the join — the
    # span of everything else is the MAX_SPAN default.  That set is the
    # hot-term head of the Zipf curve (termfreq > doccount·block_size /
    # MAX_SPAN): its size is bounded by ~(MAX_SPAN/block_size)·avg_doclen
    # REGARDLESS of corpus size (sum of termfreq = doccount·avg_doclen), so
    # the broadcast stays a few MB even at 10^12 docs — vs broadcasting the
    # full vocabulary, whose driver-side hash-table build was a measured
    # non-scaling serial tail of the write phase.
    # Int-key pack shuffle (guide §2.3): the pack repartition is the one
    # full-width shuffle of the build; keying it by the term's int64 hash
    # instead of its STRING turns the pack kernel's sort into a pure int64
    # sort.  It does not always shrink the shuffle: random 64-bit keys do not
    # LZ4-compress (4.69 M 9-character terms: 99.4 MB keyed vs 92.2 MB).
    dict_keyed = dictionary.select(_term_key(salt).alias("_thash"), "term", "termfreq")
    dict_spans = dict_keyed.select(
        "_thash",
        F.least(
            F.lit(MAX_SPAN),
            F.greatest(
                F.lit(block_size),
                (F.ceil(F.lit(total_docs + 1) / F.col("termfreq")) * block_size),
            ),
        )
        .cast("long")
        .alias("span"),
    ).filter(F.col("span") < MAX_SPAN)
    dict_spans = F.broadcast(dict_spans)
    span_no = (F.col("doc_id") / F.col("span")).cast("long")
    if impact_tiers > 1:
        # Tier packing needs span_no < 2^28, which holds iff
        # doc_id < 2^40 at the 4096 minimum span.  Dense docid spaces at
        # 10^12 docs fit; sparse/snowflake-style ids would silently
        # overflow into the tier field and merge tier groups (weaker
        # pruning + (term, block_no) collisions in MultiIndex) — so
        # refuse loudly instead.
        max_doc_id = int(st["max_doc_id"] or 0)
        if max_doc_id >= (1 << 40):
            _abort_side_writes()
            raise ValueError(
                f"impact_tiers > 1 requires doc_id < 2^40 (got max "
                f"{max_doc_id}); remap ids densely or build with "
                f"impact_tiers=1"
            )
        # tier 0 = wdf ≥ 2^(T-1) … tier T-1 = the wdf-1 tail; encoded in
        # span_no's high bits (span_no < 2^28 given the doc_id guard
        # above, block_no has 62-bit headroom) so the pack kernel and
        # block_no stay untouched
        tier = F.lit(impact_tiers - 1)
        # build innermost-first so the HIGHEST threshold is checked first
        # (each when() wraps the previous expression as its otherwise)
        for t in reversed(range(impact_tiers - 1)):
            tier = F.when(
                F.col("wdf") >= F.lit(1 << (impact_tiers - 1 - t)), F.lit(t)
            ).otherwise(tier)
        span_no = (tier.cast("long") * F.lit(1 << 28)) + span_no
    grouped = (
        flat.withColumn("_thash", _term_key(salt))
        .join(dict_spans, "_thash", "left")
        .withColumn("span", F.coalesce(F.col("span"), F.lit(MAX_SPAN)))
        .withColumn("span_no", span_no)
        .select("_thash", "span_no", "doc_id", "wdf", "n_pos", "doc_len", "pos_enc")
    )
    # Explicit hash repartition on the group key: the partition count
    # tracks cores, so every core runs a pack task, AND bounds per-partition
    # memory by posting count (each task holds its whole partition; AQE
    # would coalesce this small shuffle to a handful of tasks and serialize
    # the kernel).  The hash
    # partitioner guarantees each (term, span_no) group lands whole in one
    # partition, which is what lets _pack_partition group locally.
    n_pack = max(
        spark.sparkContext.defaultParallelism * 2,
        int(n_postings // 2_000_000) + 1,
    )
    packed = grouped.repartition(n_pack, "_thash", "span_no").mapInPandas(
        _pack_partition(block_size, with_positions),
        StructType([StructField("_thash", LongType())] + BLOCK_SCHEMA.fields[1:]),
    )
    # Term strings re-attach once per BLOCK row (about one per term on a
    # Zipf tail) from a broadcast map, up to _REATTACH_BROADCAST_MAX_VOCAB.
    # The local sort gives term-major row clustering, so parquet row-group
    # min/max stats prune on term.
    tmap = dict_keyed.select("_thash", "term")
    if int(st["vocab"]) <= _REATTACH_BROADCAST_MAX_VOCAB:
        tmap = F.broadcast(tmap)
    postings = (
        packed.join(tmap, "_thash")
        .select(*[f.name for f in BLOCK_SCHEMA.fields])
        .sortWithinPartitions("term", "block_no")
    )

    index = IndexTables(
        docs=docs,
        dictionary=dictionary,
        postings=postings,
        stats=stats,
        config={
            "mode": mode,
            "with_positions": with_positions,
            "block_size": block_size,
            "boolean_fields": dict(boolean_fields or {}),
            "impact_tiers": impact_tiers,
        },
    )

    if write_path is not None:
        # surface a side write that has ALREADY failed before paying for
        # the postings write (ADVICE r06: one-sided error handling)
        for fut in side_futs.values():
            if fut.done():
                fut.result()
        t0 = time.perf_counter()
        try:
            postings.write.mode("overwrite").parquet(f"{write_path}/postings")
            t_postings = time.perf_counter() - t0
            for fut in side_futs.values():
                fut.result()
        except BaseException:
            _abort_side_writes()
            raise
        pool.shutdown()
        write_manifest(write_path, index)
        LAST_BUILD_TIMINGS.clear()
        LAST_BUILD_TIMINGS.update(
            {
                "stats_ready_sec": round(t_stats, 3),
                "postings_write_sec": round(t_postings, 3),
                "total_sec": round(time.perf_counter() - t_phase0, 3),
            }
        )
    return index
