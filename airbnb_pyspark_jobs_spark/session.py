"""SparkSession factory with named tuning profiles.

The reference hard-codes its Spark tuning inline in each job
(``jobs/final_dim_load.py:8-22``, ``jobs/final_fact_load.py:4-14``,
``jobs/csv_to_parquet.py:8-10`` in /root/reference). Here the same knobs
are packaged as named profiles so a pipeline picks a profile instead of
copy-pasting config blocks.

Scale notes (100 TB / 1000 executors):
- AQE is always on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy selection replace hand-tuned shuffle-partition
  counts at scale.
- ``spark.sql.shuffle.partitions`` is only an *initial* value under AQE;
  we default it to a multiple of local cores for tests and leave
  production values to the profile.
- Timezone pinned to UTC so timestamp semantics are stable across the
  cluster and match the DuckDB oracle (UTC-naive).
- Spark's generated-class cache is sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries``), so a long-lived driver (a
  bench loop, a stream, a test run) compiles each whole-stage class
  once; ``codegen_compiles`` counts the compiles (SCALE_NOTES
  "Generated code is compiled once per JVM").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuning profiles. Keys/values mirror the reference's explicit configs
# (see BASELINE.md table); "local" is the test/bench profile for this
# container (local[N] single JVM).
PROFILES: dict[str, dict[str, str]] = {
    # Staging jobs: CSV -> typed parquet (reference jobs/csv_to_parquet.py:8-10)
    "staging": {
        "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
        "spark.sql.adaptive.enabled": "true",
    },
    # Dimension loads (reference jobs/final_dim_load.py:8-22). The
    # executor-sizing / cluster keys are submit-time settings — inert in
    # local mode but carried for full parity with the reference's
    # cluster profile (its sizes target a 2-executor Dataproc cluster;
    # at 1000 executors, re-size and re-enable dynamicAllocation).
    "dim": {
        "spark.sql.shuffle.partitions": "50",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.executor.memory": "3g",
        "spark.driver.memory": "2g",
        "spark.executor.instances": "2",
        "spark.executor.cores": "2",
        "spark.dynamicAllocation.enabled": "false",
        "spark.network.timeout": "800s",
    },
    # Fact build (reference jobs/final_fact_load.py:4-14): off-heap +
    # memoryOverhead are its "memory optimized" knobs.
    "fact": {
        "spark.sql.shuffle.partitions": "100",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(50 * 1024 * 1024),
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": "1g",
        "spark.executor.memoryOverhead": "512m",
    },
    # Streaming jobs: RocksDB state store + changelog checkpointing.
    # The default (HDFSBackedStateStoreProvider) keeps every key's state
    # as JVM heap objects — at 100 TB-scale key cardinalities that's an
    # OOM, and full-snapshot checkpoints scale with STATE size, not
    # update rate. RocksDB spills state to local disk (off-heap, GC-
    # free) and changelog checkpointing uploads per-batch deltas;
    # maintenance compacts in the background. Unbounded key spaces
    # additionally need TTL at the operator level (watermarks /
    # GroupStateTimeout / transformWithState TTL) — a state store
    # manages bytes, not lifecycle.
    "streaming": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # bound state-restore read amplification after executor loss
        "spark.sql.streaming.minBatchesToRetain": "20",
        "spark.sql.shuffle.partitions": "32",  # = state store instances per op
    },
    # Local test/bench profile for this container (single JVM = driver;
    # the container has 128 GiB, so size the JVM for real workloads —
    # the 1g default GC-thrashes on multi-million-row broadcasts; 8g is
    # noise-equivalent to 4g/16g on the bench but broadcast-safe).
    "local": {
        "spark.driver.memory": "8g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(50 * 1024 * 1024),
        # Arrow for pandas_udf / applyInPandas paths.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    },
}

_COMMON = {
    # Deterministic timestamps; matches the DuckDB oracle (UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Quieter local runs; parquet vectorized reader stays on (default).
    "spark.ui.showConsoleProgress": "false",
    # Spark keeps 100 generated classes by default; the engine's working
    # set is larger: 218 per warm warehouse pass, ~200 per iterative
    # pass, 264-275 distinct per two-batch stream drain. At 100, each
    # pass evicts the previous one's classes, so Janino and then the JIT
    # compile the same code again. A static conf: it takes effect with
    # the JVM's first session, which is why it lives here and not in a
    # profile.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "airbnb_pyspark_jobs_spark",
    profile: str = "local",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the given tuning profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when run outside a cluster. On a real cluster, pass ``master=None``
    and rely on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_COMMON)
    conf.update(PROFILES.get(profile, {}))
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif profile == "local":
        # ~cores for local mode; AQE coalesces down as needed.
        n = os.environ.get("SPARK_GRAFT_CPUS")
        conf.setdefault("spark.sql.shuffle.partitions", n if n else "32")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int | None:
    """Classes Janino has compiled in this session's JVM so far, from
    Spark's ``CodegenMetrics``; ``None`` where the JVM is not reachable
    (a Spark Connect session)."""
    try:
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:
        return None
