"""Index persistence: parquet tables + a snapshot manifest.

Plays the role of the glass version file / revision machinery
(xapian-core/backends/glass/glass_version.h): a build is visible only once
its manifest is atomically renamed into place, readers load the manifest and
see a consistent snapshot — single-writer / many-readers like the reference's
flint lock + revisioned B-trees (backends/flint_lock.h).

On a real cluster these writes become Iceberg table commits (snapshot id =
manifest id); the layout here is deliberately Iceberg-shaped: postings are
pack-partitioned and sorted by (term, block_no) within each file, so scans
prune on term via parquet min/max — the analog of the postlist B-tree key
seek.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexer import IndexTables

MANIFEST = "MANIFEST.json"


def retract_manifest(path: str) -> None:
    """Remove ``path``'s manifest before its tables are overwritten.

    In-place rewrite atomicity with committer v2 (direct-write task
    commit): a crash mid-rewrite then leaves an unreadable directory rather
    than a manifest pointing at mixed old/new part-files."""
    old_manifest = os.path.join(path, MANIFEST)
    if os.path.exists(old_manifest):
        os.remove(old_manifest)


def save_index(index: IndexTables, path: str) -> dict:
    """Write all tables + manifest; returns the manifest dict.

    The index builder's pack kernel already emits blocks sorted by
    (term, block_no) within each hash partition, so parquet row-group
    min/max stats prune on term without any extra shuffle — term-major
    clustering ≈ the glass postlist key order, for free.
    """
    os.makedirs(path, exist_ok=True)
    retract_manifest(path)

    # The three table writes are independent jobs; the docs/dictionary ones
    # read only their own persisted inputs (doclens + dictionary are cached
    # by build_index), so they can run CONCURRENTLY with the postings job
    # and backfill its scheduler gaps instead of serializing after it.
    # (An earlier variant did this before doclens was persisted and thrashed
    # the flat-postings cache — the persist is what makes this safe.)
    from concurrent.futures import ThreadPoolExecutor

    def _write(df, p):
        df.write.mode("overwrite").parquet(p)

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(_write, index.postings, f"{path}/postings"),
            pool.submit(_write, index.docs, f"{path}/docs"),
            pool.submit(_write, index.dictionary.sort("term"), f"{path}/dictionary"),
        ]
        for f in futs:
            f.result()
    return write_manifest(path, index)


def write_manifest(path: str, index: IndexTables) -> dict:
    """Atomically commit the snapshot manifest — the index is VISIBLE to
    readers only after this rename (≈ the glass revision flip), which is
    also what makes direct-write task commit (committer algorithm v2 in
    session.py) safe: a partially-written directory has no manifest."""
    manifest = {
        "snapshot_id": uuid.uuid4().hex,
        "committed_at": time.time(),
        "stats": index.stats,
        "config": index.config,
        # user metadata KV store (get_metadata/set_metadata,
        # include/xapian/database.h + glass_metadata.*) — committed
        # atomically with the snapshot, exactly like the reference commits
        # metadata with the revision
        "metadata": index.metadata,
        "tables": ["docs", "dictionary", "postings"],
    }
    tmp = f"{path}/.{MANIFEST}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, f"{path}/{MANIFEST}")  # atomic commit ≈ revision flip
    return manifest


def load_index(spark: SparkSession, path: str) -> IndexTables:
    with open(f"{path}/{MANIFEST}") as f:
        manifest = json.load(f)
    return IndexTables(
        docs=spark.read.parquet(f"{path}/docs"),
        dictionary=spark.read.parquet(f"{path}/dictionary"),
        postings=spark.read.parquet(f"{path}/postings"),
        stats=manifest["stats"],
        config=manifest["config"],
        metadata=manifest.get("metadata", {}),
    )
