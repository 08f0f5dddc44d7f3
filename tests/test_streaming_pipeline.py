"""End-to-end composed streaming pipeline (VERDICT r6 #5): ingest →
dedup-on-ingest → quality gate → incremental PSI partials → shard
assignment in ONE foreachBatch — the final state must equal the batch
composition over the final accepted corpus, including across a
mid-PIPELINE crash-and-restart (state written for some stages of a
batch but not others)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.caching import release_owned_caches
from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter
from airbnb_pyspark_jobs_spark.operators.dedupe import minhash_lsh_pairs
from airbnb_pyspark_jobs_spark.operators.sampling import hash_split
from airbnb_pyspark_jobs_spark.streaming.aggregates import (
    psi_bucket_counts,
    read_psi_drift,
)
from airbnb_pyspark_jobs_spark.streaming.pipeline import streaming_corpus_pipeline

# ~20-token docs with >=5 English stopwords (passes the Gopher gate:
# length 0.2 + stopword 1.0 + punct 1.0 over 3 = 0.73) and no token
# repeated enough to trip the 0.18 repetition rule.
BASE = (
    "the quick brown fox jumps over a lazy dog and runs to some river "
    "in bright morning light for fun"
)
NEAR = BASE + " extra"
DIFF = (
    "a silent harbor holds many boats and sailors wait for wind to rise "
    "while gulls circle in that grey sky"
)
UNIQ = (
    "carpenters measure seasoned oak planks and join them to sturdy "
    "frames in a workshop full of the finest tools"
)
SHORT = "the cat sat"  # lang=en but 3 tokens < min_tokens=5 -> gated out

PSI_MN, PSI_EXT, PSI_B = 0, 3000, 10  # frozen edges over token counts


def _write_batch(spark, src: str, rows) -> None:
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _source_files(spark, src: str) -> None:
    _write_batch(spark, src, [(1, BASE), (2, DIFF), (3, SHORT)])
    _write_batch(spark, src, [(11, BASE), (12, NEAR), (13, UNIQ), (14, SHORT + " x y")])
    _write_batch(spark, src, [(21, BASE), (22, DIFF), (23, UNIQ + " again today")])


def _drain(spark, src: str, warehouse: str, ckpt: str) -> None:
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_corpus_pipeline(
        stream,
        warehouse,
        ckpt,
        psi_mn_cents=PSI_MN,
        psi_ext_cents=PSI_EXT,
        n_buckets=PSI_B,
        min_tokens=5,
    )
    q.awaitTermination(240)


def _state(spark, warehouse: str):
    acc = spark.read.parquet(os.path.join(warehouse, "accepted"))
    gated = spark.read.parquet(os.path.join(warehouse, "gated"))
    psi = (
        spark.read.parquet(os.path.join(warehouse, "psi"))
        .groupBy("event_type", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    shards = spark.read.parquet(os.path.join(warehouse, "shards"))
    return (
        sorted((r.doc_id, r.text) for r in acc.collect()),
        sorted((r.doc_id, r.text) for r in gated.collect()),
        sorted((r.event_type, r.bucket, r.n) for r in psi.collect()),
        sorted((r.doc_id, r.split) for r in shards.collect()),
    )


def test_composed_pipeline_equals_batch_composition(spark, tmp_path):
    src = str(tmp_path / "src")
    _source_files(spark, src)
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    jsc = spark.sparkContext._jsc
    release_owned_caches()
    before = set(jsc.getPersistentRDDs().keys())
    _drain(spark, src, wh, ckpt)
    # every batch's checkpoints are freed by its own release sweep
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    acc_rows, gated_rows, psi_rows, shard_rows = _state(spark, wh)
    acc_ids = {d for d, _ in acc_rows}

    # dedup stage: one survivor per near-dup group, uniques pass, the
    # accepted corpus holds NO near-dup pair at the same banding config
    assert len(acc_ids & {1, 11, 12, 21}) == 1  # BASE/NEAR group
    assert len(acc_ids & {2, 22}) == 1
    assert len(acc_ids & {13, 23}) == 1  # UNIQ and its near-dup
    assert {3, 14} <= acc_ids  # SHORT docs are unique -> accepted
    acc_df = spark.createDataFrame(acc_rows, "doc_id long, text string")
    assert minhash_lsh_pairs(acc_df, threshold=0.5).isEmpty()

    # quality stage: per-batch gating == batch gate over the FINAL
    # accepted corpus (quality_filter is a pure per-doc function)
    expected_gated = {
        r.doc_id
        for r in quality_filter(acc_df, min_tokens=5)
        .filter(F.col("keep"))
        .collect()
    }
    assert {d for d, _ in gated_rows} == expected_gated
    assert 3 not in expected_gated  # the length rule really engaged

    # PSI stage: merged per-batch partials == one batch histogram over
    # all gated docs (mergeability is the whole point of the partials)
    from airbnb_pyspark_jobs_spark.functions.text import token_count

    gated_df = spark.createDataFrame(gated_rows, "doc_id long, text string")
    vals = gated_df.select(
        F.lit("doc_tokens").alias("event_type"),
        token_count("text").cast("double").alias("value"),
    )
    expected_psi = sorted(
        (r.event_type, r.bucket, r.n)
        for r in psi_bucket_counts(vals, PSI_MN, PSI_EXT, PSI_B).collect()
    )
    assert psi_rows == expected_psi

    # the read side scores drift off the merged partials (smoke: same
    # reference -> zero-ish drift, one row per event type)
    ref = psi_bucket_counts(vals, PSI_MN, PSI_EXT, PSI_B)
    drift = read_psi_drift(
        spark, os.path.join(wh, "psi"), ref, n_buckets=PSI_B
    ).collect()
    assert len(drift) == 1 and drift[0].event_type == "doc_tokens"

    # shard stage: per-batch assignment == batch assignment (membership
    # is a pure function of doc_id)
    expected_shards = sorted(
        (r.doc_id, r.split)
        for r in hash_split(
            gated_df.select("doc_id"), "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1}, seed="pipeline",
        ).collect()
    )
    assert shard_rows == expected_shards


def test_composed_pipeline_restart_mid_batch_converges(
    spark, tmp_path, monkeypatch
):
    """Crash INSIDE a batch's stage chain — gated and psi written,
    shards not — then restart from the same checkpoint: the replayed
    batch must rewrite identical state and the final warehouse must
    equal an uninterrupted run's."""
    import pyspark.errors

    src = str(tmp_path / "src")
    _source_files(spark, src)

    wh_a, ckpt_a = str(tmp_path / "wh_a"), str(tmp_path / "ckpt_a")
    _drain(spark, src, wh_a, ckpt_a)  # uninterrupted reference

    import airbnb_pyspark_jobs_spark.streaming.pipeline as pl_mod

    calls = {"n": 0}

    def killer(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # batch 1, AFTER gated + psi writes
            raise RuntimeError("injected crash before shard assignment")
        return hash_split(*args, **kwargs)

    monkeypatch.setattr(pl_mod, "hash_split", killer)
    wh_b, ckpt_b = str(tmp_path / "wh_b"), str(tmp_path / "ckpt_b")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_corpus_pipeline(
        stream, wh_b, ckpt_b,
        psi_mn_cents=PSI_MN, psi_ext_cents=PSI_EXT, n_buckets=PSI_B,
        min_tokens=5,
    )
    try:
        q.awaitTermination(240)
    except pyspark.errors.StreamingQueryException:
        pass
    assert calls["n"] == 2, "the crash must hit batch 1 mid-pipeline"
    # partial-write evidence: batch 1's upstream stages committed, the
    # crashed stage did not
    assert os.path.exists(os.path.join(wh_b, "gated", "batch_id=1"))
    assert os.path.exists(os.path.join(wh_b, "psi", "batch_id=1"))
    assert not os.path.exists(os.path.join(wh_b, "shards", "batch_id=1"))

    monkeypatch.setattr(pl_mod, "hash_split", hash_split)
    _drain(spark, src, wh_b, ckpt_b)  # restart from the same checkpoint
    assert _state(spark, wh_b) == _state(spark, wh_a)
