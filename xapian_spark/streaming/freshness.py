"""Index freshness: incremental batch appends + compaction.

The reference has NO streaming operators (SURVEY.md §2.8) — its freshness
story is batched commits (glass flushes every 10k docs,
glass_database.cc:1078-1086), replication changesets (api/replication.cc)
and reader ``reopen()``.  The Spark-native mapping:

- ``append_segment``: index a new micro-batch of documents into its own
  SEGMENT directory (a self-contained mini-index: postings/docs/dictionary
  + stats in the segment manifest).  Readers of the parent index see the
  segment only after its manifest rename — the revision-commit semantics.
- ``MultiIndex``: query-time union of segments.  Collection statistics are
  summed across segments before weighting, which is exactly how the
  reference keeps scores shard-invariant (stats accumulated across shards
  first, matcher/matcher.cc:313-336) — so scores equal a from-scratch
  rebuild's, which tests assert.
- ``compact``: k-way merge of segments into one (the glass→honey compaction
  analog, api/compactor.cc:126-180) — here simply a rebuild of blocks from
  the union of decoded segment postings, deterministic.
- ``stream_into_index``: Structured Streaming driver — readStream →
  foreachBatch(append_segment).  Each micro-batch becomes a segment; used
  with any streaming source (file/kafka/rate).

Deletes/updates (replace_document) follow the same pattern with a tombstone
column on the docs segment; query-time anti-join of tombstones; compaction
drops them — implemented as delete_documents/tombstones below.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexer import IndexTables, build_index
from ..session import local_df
from ..sources.catalog import MANIFEST, load_index, save_index


def _segments(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    out = []
    for name in sorted(os.listdir(root)):
        if name.startswith("seg-") and os.path.exists(
            os.path.join(root, name, MANIFEST)
        ):
            out.append(os.path.join(root, name))
    return out


def append_segment(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    seg_name: str,
    id_col: str = "doc_id",
    content_col: str = "content",
    meta_cols: list[str] | None = None,
    mode: str = "xapian",
) -> str:
    """Index one batch into root/seg-<name>/ and commit it atomically."""
    ix = build_index(
        spark, batch, id_col=id_col, content_col=content_col,
        meta_cols=meta_cols, mode=mode,
    )
    path = os.path.join(root, f"seg-{seg_name}")
    save_index(ix, path)
    return path


class MultiIndex:
    """Query-time union of committed segments with GLOBAL statistics.

    ≈ MultiDatabase (backends/multi/multi_database.h): the union looks like
    one database; stats are accumulated across shards before weighting.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def load(self) -> IndexTables:
        segs = _segments(self.root)
        if not segs:
            raise FileNotFoundError(f"no committed segments under {self.root}")
        parts = [load_index(self.spark, s) for s in segs]

        # Make (term, block_no) globally unique across segments: segments
        # number blocks independently, so a shared term's block_no values
        # collide in the union — the WAND kernel's left-semi joins on
        # (term, block_no) would then pull both segments' blocks for one key
        # and double-count candidate partials.  Salt the high bits with the
        # segment ordinal.  Bit budget: block_no = span_no<<32 | idx, with
        # span_no < 2^24 for realistic corpora (doc_id < 2^36 at the 4096
        # minimum span) → bits 56-62 are free and 127 segments fit.  But a
        # segment built with impact_tiers > 1 carries its tier at span_no
        # bit 28 → block_no bits 60-61 (indexer.TIER_SHIFT=60), so only
        # bits 56-59 remain for the salt: ordinal ≥ 16 would carry into the
        # tier field, two segments could emit identical (term, block_no),
        # and WAND would score a doc's postings twice.  Cap accordingly.
        tiered = any(p.config.get("impact_tiers", 1) > 1 for p in parts)
        max_segs = (1 << 4) if tiered else (1 << 7)
        if len(parts) >= max_segs:
            why = (
                " when any segment uses impact_tiers > 1 (segment salt bits"
                " 60+ would collide with tier bits; compact first)"
                if tiered
                else ""
            )
            raise ValueError(
                f"MultiIndex supports at most {max_segs - 1} uncompacted segments{why}"
            )

        def _salted(p, i):
            return p.postings.withColumn(
                "block_no", F.col("block_no") + F.lit(i << 56)
            )

        docs = parts[0].docs
        dic = parts[0].dictionary
        post = _salted(parts[0], 0)
        for i, p in enumerate(parts[1:], start=1):
            docs = docs.unionByName(p.docs)
            dic = dic.unionByName(p.dictionary)
            post = post.unionByName(_salted(p, i))
        # re-aggregate the dictionary across segments
        dic = dic.groupBy("term").agg(
            F.sum("termfreq").alias("termfreq"),
            F.sum("collfreq").alias("collfreq"),
            F.max("wdf_max").alias("wdf_max"),
        )
        # tombstones: docs deleted after segment commit
        tomb = self._tombstones()
        if tomb is not None:
            docs = docs.join(tomb, "doc_id", "left_anti")
        stats = {
            "doccount": sum(p.stats["doccount"] for p in parts),
            "total_length": sum(p.stats["total_length"] for p in parts),
            "doclen_lower_bound": min(p.stats["doclen_lower_bound"] for p in parts),
            "doclen_upper_bound": max(p.stats["doclen_upper_bound"] for p in parts),
        }
        if tomb is not None:
            # exact correction requires per-doc lengths of tombstoned docs
            removed = (
                docs.sparkSession.read.parquet(
                    *[f"{s}/docs" for s in segs]
                )
                .join(tomb, "doc_id", "left_semi")
                .agg(F.count("*"), F.sum("doc_len"))
                .collect()[0]
            )
            stats["doccount"] -= int(removed[0] or 0)
            stats["total_length"] -= int(removed[1] or 0)
        stats["avg_length"] = (
            stats["total_length"] / stats["doccount"] if stats["doccount"] else 0.0
        )
        cfg = parts[0].config
        return IndexTables(
            docs=docs,
            dictionary=dic,
            postings=post,
            stats=stats,
            config=cfg,
            tombstones=tomb,
        )

    # -- deletes (tombstones) ---------------------------------------------
    def _tomb_path(self) -> str:
        return os.path.join(self.root, "tombstones.json")

    def _tombstones(self) -> DataFrame | None:
        p = self._tomb_path()
        if not os.path.exists(p):
            return None
        ids = json.load(open(p))
        if not ids:
            return None
        return local_df(self.spark, [(int(i),) for i in ids], "doc_id long")

    def delete_documents(self, doc_ids: list[int]) -> None:
        """delete_document analog (include/xapian/database.h:1016+): logical
        delete now, physical removal at compaction."""
        p = self._tomb_path()
        cur = set(json.load(open(p))) if os.path.exists(p) else set()
        cur.update(int(i) for i in doc_ids)
        tmp = p + ".tmp"
        json.dump(sorted(cur), open(tmp, "w"))
        os.replace(tmp, p)


def compact(spark: SparkSession, root: str, out_path: str) -> IndexTables:
    """k-way segment merge into one index — the glass→honey compaction
    analog (api/compactor.cc:126-180, backends/honey/honey_compact.cc).

    Decodes the union of segment postings, drops tombstoned docs
    physically, re-blocks deterministically and commits one fresh index.
    """
    import numpy as np
    import pandas as pd

    from ..functions import codec
    from ..operators.indexer import POSTINGS_FLAT_SCHEMA, _segment_bytes
    from ..operators.matcher import decode_blocks

    mi = MultiIndex(spark, root)
    union = mi.load()
    dec = decode_blocks(union.postings, with_positions=True)
    if union.tombstones is not None:
        dec = dec.join(F.broadcast(union.tombstones), "doc_id", "left_anti")

    def reencode(batches):
        for pdf in batches:
            poss = pdf["positions"].to_list()
            npos = np.fromiter(map(len, poss), np.int64, len(poss))
            flat = np.concatenate([np.empty(0, dtype=np.int64), *poss])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "term": pdf["term"],
                    "wdf": pdf["wdf"],
                    "n_pos": pd.Series(npos, dtype="int32"),
                    "doc_len": pdf["doc_len"],
                    "pos_enc": _segment_bytes(
                        *codec.encode_segments(flat, npos, delta=True)
                    ),
                }
            )

    flat = dec.mapInPandas(reencode, POSTINGS_FLAT_SCHEMA)
    corpus_docs = union.docs  # already tombstone-filtered
    ix = build_index(
        spark,
        corpus_docs.withColumn("content", F.lit(None).cast("string")),
        id_col="doc_id",
        content_col="content",
        meta_cols=[
            c
            for c in corpus_docs.columns
            if c not in ("doc_id", "content", "doc_len", "uniq_terms", "sha256")
        ],
        mode=union.config.get("mode", "xapian"),
        with_positions=union.config.get("with_positions", True),
        integrity_sha256=False,
        flat_postings=flat,
    )
    save_index(ix, out_path)
    return ix


def stream_into_index(
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    content_col: str = "content",
    meta_cols: list[str] | None = None,
    mode: str = "xapian",
    trigger_once: bool = False,
):
    """readStream → foreachBatch(append_segment): each micro-batch commits
    one segment.  Returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_segment(
            batch_df.sparkSession,
            root,
            batch_df,
            f"{batch_id:08d}",
            id_col=id_col,
            content_col=content_col,
            meta_cols=meta_cols,
            mode=mode,
        )

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
