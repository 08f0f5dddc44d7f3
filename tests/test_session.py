"""Session-profile parity: the dim/fact profiles must carry every
config key the reference pins at submit time (final_dim_load.py:8-22,
final_fact_load.py:4-14), including the cluster-sizing keys that are
inert in local mode."""

from __future__ import annotations

from airbnb_pyspark_jobs_spark.plans import QUERIES
from airbnb_pyspark_jobs_spark.session import PROFILES, codegen_compiles
from tests.conftest import SF_DIR

_DIM_EXPECTED = {
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
}

_FACT_EXPECTED = {
    "spark.sql.shuffle.partitions": "100",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(50 * 1024 * 1024),
    "spark.memory.offHeap.enabled": "true",
    "spark.memory.offHeap.size": "1g",
    "spark.executor.memoryOverhead": "512m",
}


def test_dim_profile_mirrors_reference():
    assert PROFILES["dim"] == _DIM_EXPECTED


def test_fact_profile_mirrors_reference():
    assert PROFILES["fact"] == _FACT_EXPECTED


def test_all_profiles_keep_aqe_on():
    for name, conf in PROFILES.items():
        assert conf.get("spark.sql.adaptive.enabled", "true") == "true", name


def test_streaming_profile_runs_stateful_query_on_rocksdb(spark, tmp_path):
    """The streaming profile's provider must actually execute a
    stateful query on RocksDB (not just carry the conf key). Uses the
    shared session with conf set/restore — stopping or rebuilding a
    session here would clobber the session-scoped fixture."""
    from airbnb_pyspark_jobs_spark.session import PROFILES

    prov = PROFILES["streaming"]["spark.sql.streaming.stateStore.providerClass"]
    assert prov.endswith("RocksDBStateStoreProvider")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(key, prov)
    try:
        src_dir = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id long, k string"
        ).write.parquet(src_dir)
        stream = spark.readStream.schema("id long, k string").parquet(src_dir)
        q = (
            stream.groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("rocks_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(90)
        got = {
            r.k: r["count"] for r in spark.sql("SELECT * FROM rocks_counts").collect()
        }
        assert got == {"a": 2, "b": 1}
        # the checkpoint really used RocksDB (zip snapshots / changelogs)
        import glob

        assert glob.glob(
            str(tmp_path / "ckpt/state/**/*.zip"), recursive=True
        ) or glob.glob(str(tmp_path / "ckpt/state/**/*.changelog"), recursive=True)
    finally:
        spark.conf.set(key, prev)


# Warehouse queries whose classes, compiled cold, outnumber Spark's
# default codegen cache (149 at sf0.001 against 100 entries).
_COMPILE_SET = (
    "q03_shipping_priority", "q05_revenue_by_region", "q07_nation_trade_flows",
    "q22_scd2_merge_customer", "q23_scd2_merge_with_deletes", "q177_waiting_suppliers",
)


def test_repeated_pass_reuses_generated_classes(spark):
    """A second pass over the same queries in one JVM must find its
    whole-stage classes in the codegen cache. With Spark's default of
    100 entries it compiled 132-135 of the set's 149 classes again; at
    1000 it compiled 0-6."""

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in _COMPILE_SET:
            QUERIES[name](spark, SF_DIR).toPandas()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() <= 20
