"""SparkSession factory with the engine's scale posture baked in.

Reference parity: the reference builds bare sessions per notebook
(``SparkSession.builder.appName('Practise').getOrCreate()``,
reference pyspark-1.ipynb:56). Ours is the same factory surface plus the
configuration a 100 TB deployment needs from day one:

- AQE (runtime partition coalescing, skew-join splitting, plan re-opt)
- shuffle partitions sized to the cluster, not Spark's legacy 200
- UTC session timezone (oracle comparisons + cross-region correctness)
- Arrow for every Python<->JVM data exchange
- broadcast threshold raised so dimension tables never shuffle
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults appropriate for local[N] testing; on a real cluster the same knobs
# are supplied via spark-submit --conf and this factory only fills gaps.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dim tables (region/nation/customer/supplier/part at any SF that fits)
    # should broadcast, never shuffle: 64 MiB covers them with headroom.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MiB split size keeps scan tasks ~uniform at 100 TB (≈800k tasks,
    # fine for a 1000-executor cluster; AQE coalesces the small tail).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # TESTDATA events.ts is parquet timestamp[ns]; Spark has no ns timestamp,
    # so read the raw int64 and convert in catalog.load_table (lossless here:
    # the generator emits µs-precision values).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96 carries
    # no usable parquet min/max statistics, which would blind both Spark's
    # own row-group skipping and txlog's stats-in-log file pruning on any
    # timestamp column.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Python workers fork from the engine's daemon: pyspark's own, with the
    # per-task zipimport re-read of pyspark.zip made lazy (worker_daemon.py)
    "spark.python.daemon.module": "datalake_brief_spark.worker_daemon",
}

# The directory holding this package: the workers import the daemon from it
# wherever the driver runs.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "datalake_brief_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``)
    so tests and bench share one code path. ``shuffle_partitions`` defaults to
    the local core count — on a cluster pass ~2-3× total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    # local mode = single JVM: driver memory is the whole memory budget.
    # Half the machine (at most 48g) leaves the rest to the Python workers;
    # a heap sized past the machine gets the JVM OOM-killed, not an error.
    # Must be set before JVM launch — no-op if a session already exists.
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_DRIVER_MEMORY", f"{min(48 * 1024, half_mb)}m"),
    )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
