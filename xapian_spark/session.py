"""SparkSession builder tuned for the inverted-index workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
      cluster scale this should be ~2-3× total cores; AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle/blockmgr scratch lives under the repo, NOT /tmp: external /tmp
    # hygiene deleted live shuffle files mid-bench in round 4
    # (BENCH_r04.json: FileNotFoundException /tmp/blockmgr-…/shuffle_140…).
    # On a real cluster this maps to the executors' provisioned local disks.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spark-local"),
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
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
