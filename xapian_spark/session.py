"""SparkSession builder tuned for the inverted-index workload."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

# the directory that holds the ``xapian_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# applicationId → that SparkContext's memoized state (at most one entry)
_per_context: dict[str, dict] = {}
_per_context_lock = threading.Lock()
# memoized key → the lock its builders hold (entries of the live context)
_build_locks: dict = {}


def context_cache(spark: SparkSession) -> dict:
    """The dict of state memoized for ``spark``'s live SparkContext.

    Keyed by the context's ``applicationId``.  A process has at most one
    active SparkContext, so when a new id shows up (``spark.stop()`` then a
    new session) every entry of the old one is dropped: its DataFrames,
    persisted blocks and broadcasts died with that context.
    """
    app_id = spark.sparkContext.applicationId
    with _per_context_lock:
        if app_id not in _per_context:
            _per_context.clear()
            _build_locks.clear()
            _per_context[app_id] = {}
        return _per_context[app_id]


def memoized(spark: SparkSession, key, build):
    """``context_cache(spark)[key]``, built by ``build()`` on first use.

    Concurrent first calls for one key run ``build`` once: the others wait
    on that key's lock and get the same object.  Builders of other keys do
    not wait.  A ``build`` that raises caches nothing.
    """
    cache = context_cache(spark)
    with _per_context_lock:
        lock = _build_locks.setdefault(key, threading.Lock())
    with lock:
        if key not in cache:
            cache[key] = build()
        return cache[key]


def local_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """DataFrame with schema ``ddl`` over ``rows``, tuples held on the driver.

    The rows reach Spark as an Arrow table, so the result is a
    ``LocalRelation``: collecting it runs no job (a Python list becomes a
    parallelized RDD that Python tasks scan), and Catalyst drops an empty
    one from unions and joins.  Arrow, not pandas: PySpark takes an Arrow
    table this way whatever the session's Arrow setting is, while pandas
    input is gated on it, an empty frame takes the RDD path anyway, and
    pandas turns ``None`` in a long column into NaN.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema), struct)


def get_spark(
    master: str | None = None,
    app_name: str = "xapian-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the configs this engine relies on.

    - AQE on (runtime shuffle-partition coalescing and skew-join splitting);
    - Arrow enabled (all tokenize/decode kernels are pandas UDFs);
    - shuffle partitions sized to the core count unless overridden (at real
      cluster scale this should be ~2-3× total cores; AQE coalesces down);
    - Python workers forked from ``xapian_spark.pydaemon``, which stops each
      task re-reading every unchanged zip archive on the worker's path
      (~0.2 core-s per task, see that module).  Workers must therefore
      import ``xapian_spark``, as every engine kernel already requires: the
      package root is appended to the workers' PYTHONPATH, after any
      ``spark.executorEnv.PYTHONPATH`` the caller passes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle/blockmgr scratch lives under the repo, NOT /tmp: external /tmp
    # hygiene deleted live shuffle files mid-bench in round 4
    # (BENCH_r04.json: FileNotFoundException /tmp/blockmgr-…/shuffle_140…).
    # On a real cluster this maps to the executors' provisioned local disks.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR", os.path.join(_PACKAGE_ROOT, ".spark-local")
    )
    os.makedirs(local_dir, exist_ok=True)
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus) if cpus != "*" else 32)
        except ValueError:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local_dir)
        # Commit algorithm v2: task commits move files straight into the
        # destination, so the job-commit step is O(1) instead of a serial
        # driver-side rename loop over every task's output (the measured
        # non-scaling tail of the write phase).  Safe here because index
        # VISIBILITY is gated by the manifest rename in sources/catalog.py
        # (readers never list a directory that has no manifest), exactly
        # the reason the manifest exists — same pattern as Iceberg commits
        # over direct-write object stores.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.python.daemon.module", "xapian_spark.pydaemon")
    )
    extra_conf = dict(extra_conf or {})
    worker_path = [extra_conf.pop(_WORKER_PYTHONPATH, ""), _PACKAGE_ROOT]
    b = b.config(_WORKER_PYTHONPATH, os.pathsep.join(p for p in worker_path if p))
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
