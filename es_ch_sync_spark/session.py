"""SparkSession factory with the engine's scale posture baked in.

Local tests run on ``local[N]`` but every knob here is chosen for the
100 TB / multi-executor deployment:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's hand-rolled adaptive batch sizing
  (/root/reference/internal/sync/sync.go:163-184).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden per-job (rule of thumb: 2-3× total executor cores, or let
  AQE coalesce from a high initial value).
- Arrow enabled for the few Pandas-UDF paths (similarity, features,
  sketches); multimodal blob kernels cross through mapInArrow.
- UTC session timezone so timestamp semantics match the reference's
  epoch-ms arithmetic (/root/reference/internal/service/elastic/elastic.go:47-48)
  and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g (min 1g): in local
    mode the driver JVM is the whole engine, and a heap sized past the
    host gets the process OOM-killed instead of spilling.  The env var
    SPARK_GRAFT_DRIVER_MEM overrides it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{max(1, min(16, phys // 2**31))}g"


def get_spark(
    app_name: str = "es_ch_sync_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same entrypoint works in tests, bench, and a real
    ``spark-submit`` (where ``master`` is left to the cluster manager).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10 MB default is conservative; dims in this engine (device table,
        # signal catalog) are tiny — but leave autoBroadcast at default and
        # use explicit broadcast() hints where we *know* the side is small.
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the default) writes timestamps with NO parquet min/max
        # stats — row-group skipping on time predicates (the engine's
        # dominant predicate, S3) silently does nothing.  MICROS restores
        # stats; modern engines (Iceberg/Delta/DuckDB) read it natively.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ObjectHashAggregates (collect_list / collect_set / percentile
        # buffers in the registry's operators) keep hashing instead of
        # falling back to sort-based aggregation after the 128-key default.
        # dedup_signals no longer plans one; the value stays because every
        # registry row's recorded timing and plan was taken with it.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(executor_cores: int = 5, executors: int = 1000) -> dict[str, str]:
    """The conf this engine expects on a real 100 TB cluster (docs-as-code;
    pass to get_spark(extra_conf=...) or spark-submit --conf).

    Rationale per key — these are the scale knobs local[32] can't exercise:
    """
    total_cores = executor_cores * executors
    return {
        # shuffle width: start ~2x total cores and let AQE coalesce down —
        # undersized shuffles spill, oversized ones are merged for free
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # ~128 MB input splits: big enough to amortize task launch, small
        # enough that a task's working set fits executor memory at 100 TB
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # dims in this engine (device table, catalogs) are small; raise the
        # auto-broadcast bar so Catalyst picks BHJ without hints at scale
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        # blob tables (multimodal): bytes-based splits matter more than rows
        "spark.sql.parquet.compression.codec": "zstd",
        # timestamps must carry footer stats (INT96 has none) or time-
        # range row-group skipping is silently inert — see get_spark
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # dynamic partition overwrite: an in-place partitioned rewrite
        # replaces only the partitions it writes (the sink's merge stages
        # and swaps instead, io/maintenance.py)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # keep the registry's ObjectHashAggregates hashing at real key
        # cardinalities; see get_spark for rationale
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "10000000",
        # runtime bloom-filter join pruning: inject a bloom filter from the
        # filtered dim side into the fact scan — the big-join analog of the
        # reference's exists-disjunction pushdown (S7), free at this size
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # stateful streaming (sessionize/ewma) at 100 TB key cardinality:
        # RocksDB keeps per-executor state off-heap with incremental
        # checkpoints; the default HDFSBackedStateStore holds every key in
        # executor heap.  Pair with the operators' idle_timeout_seconds —
        # eviction bounds state, RocksDB makes what remains cheap.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
