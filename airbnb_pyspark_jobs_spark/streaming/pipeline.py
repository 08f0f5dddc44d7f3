"""Composed streaming corpus-ingest pipeline: dedup-on-ingest →
quality gate → incremental PSI drift partials → shard assignment, all
inside ONE foreachBatch (VERDICT r6 #5 — the streaming twins are each
parity-tested in isolation; this composes them end to end).

Per micro-batch:

1. **Dedup-on-ingest** (:func:`streaming.dedupe.dedup_batch`): the
   batch is banded and joined against the PERSISTED MinHash band index
   of everything accepted so far; survivors extend
   ``{warehouse}/accepted|index|dups`` exactly as the standalone
   dedup stream does.
2. **Quality gate**: Gopher-style :func:`operators.corpus.quality_filter`
   over the batch's SURVIVORS only — a pure function of each doc, so
   per-batch gating composes to the batch gate over the final corpus.
   Gated docs land in ``{warehouse}/gated/batch_id=N``.
3. **Incremental PSI**: the gated docs' token counts feed
   :func:`streaming.aggregates.psi_bucket_counts` against FROZEN
   reference edges — mergeable per-batch partial histograms under
   ``{warehouse}/psi/batch_id=N`` (read side:
   :func:`streaming.aggregates.read_psi_drift`).
4. **Shard assignment**: :func:`operators.sampling.hash_split` over the
   gated survivors — membership depends only on (doc_id, seed), so
   per-batch assignment equals batch assignment over the union.
   Rows land in ``{warehouse}/shards/batch_id=N``.

With ``source_col`` set, two more stages run in the SAME foreachBatch
(VERDICT r7 #3 — the CEP and SCD2-dimension streams previously ran
solo):

5. **SCD2 source dimension** (mirrors q22 via the same
   :func:`operators.scd2.scd2_merge` the batch path uses): the batch
   collapses to latest-per-source (by ``doc_id``) snapshots of the
   tracked metadata columns, merged into ``{warehouse}/dim_source``
   through :func:`streaming.dimensions.scd2_upsert_batch`. The merge's
   as-of stamp is ``epoch + batch_id`` seconds — deterministic, so a
   replayed batch re-merges an identical snapshot, detects zero
   row-hash changes, and rewrites the dimension byte-stable.
6. **CEP dup-flood alerts** (mirrors q250's gaps-and-islands via
   :func:`streaming.cep.dup_burst_batch`): the batch's REJECTED
   duplicates feed the parquet-state burst detector keyed by source —
   alerts under ``{warehouse}/alerts/batch_id=N``, live burst state
   under ``{warehouse}/cep_state/batch_id=N``.

Replay semantics are the dedup stream's: every write overwrites its own
``batch_id=N`` partition dir and every stage is a pure function of
(committed history, batch content) — a batch replayed after a
mid-PIPELINE crash (e.g. gated written, shards not) recomputes
identical survivors from the pruned state reads and rewrites the same
paths. Exactly-once state on plain parquet, end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark import caching
from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter
from airbnb_pyspark_jobs_spark.operators.sampling import hash_split
from airbnb_pyspark_jobs_spark.streaming.aggregates import psi_bucket_counts
from airbnb_pyspark_jobs_spark.streaming.dedupe import dedup_batch

_DEFAULT_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def streaming_corpus_pipeline(
    doc_stream: DataFrame,
    warehouse: str,
    checkpoint: str,
    psi_mn_cents: int,
    psi_ext_cents: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
    min_tokens: int = 5,
    n_buckets: int = 10,
    split_fractions: dict[str, float] | None = None,
    split_seed: str = "pipeline",
    source_col: str | None = None,
    dim_tracked: tuple[str, ...] = ("lang",),
    cep_gap: int = 5,
    cep_min_run: int = 3,
    compact_every_n_batches: int | None = None,
    dedup_max_l1_runs: int | None = 4,
):
    """Start the composed ingest pipeline; returns the StreamingQuery.

    ``psi_mn_cents`` / ``psi_ext_cents`` are the FROZEN reference
    histogram edges (min·100 and extent·100 of the profiled token-count
    distribution) — captured once at profiling time, like q251's
    reference window.

    ``compact_every_n_batches`` (VERDICT r8 #2 / r9 #1): every N
    batches, the head of ``process_batch`` folds the PSI partials, the
    CEP state, AND the dedup store (accepted/index/dups — round 9 left
    these accreting one ``batch_id=N`` dir per micro-batch forever)
    into their ``batch_id=-1`` base partitions, bounding read fan-in
    and directory-listing cost on long streams. foreachBatch is a
    naturally quiescent point (no concurrent writer), and folding
    BEFORE the batch's own stages with ``before_batch=batch_id`` keeps
    replay semantics: only committed batches (< N, which never replay)
    enter the base, so a crash-replay of batch N still cannot see its
    own output; a crash MID-compaction is recovered by the fold's
    manifest protocol on the replay's compaction attempt. Cost shape
    differs by table: PSI/CEP folds are O(state) (bounded); the dedup
    store folds TIERED (``dedup_max_l1_runs``, r11): every fire folds
    only the cadence window into a level-1 run, and the O(corpus) base
    merge fires once per ``dedup_max_l1_runs`` windows — set it None
    to restore the r10 full fold (see
    :func:`streaming.dedupe.compact_dedup_state`).
    The ``gated/``/``shards/`` dirs are pure output sinks never read
    back by the pipeline, so they are left as append logs.

    The compactors walk the warehouse with driver-local filesystem
    calls, so ``compact_every_n_batches`` requires a LOCAL (or
    ``file:``) warehouse — setting it against an ``hdfs://``-style
    warehouse raises up front instead of silently never firing
    (ADVICE r9).
    """
    if compact_every_n_batches is not None:
        if "://" in warehouse and not warehouse.startswith("file:"):
            raise ValueError(
                "compact_every_n_batches uses driver-local filesystem "
                "maintenance (os.listdir/rename) and supports only local "
                f"or file: warehouses — got {warehouse!r}. Run the "
                "compactors out-of-band for remote warehouses."
            )
    fractions = split_fractions or dict(_DEFAULT_SPLITS)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if (
            compact_every_n_batches
            and batch_id > 0
            and batch_id % compact_every_n_batches == 0
        ):
            from airbnb_pyspark_jobs_spark.streaming.aggregates import (
                compact_partials,
            )

            spark = batch_df.sparkSession
            psi_dir = os.path.join(warehouse, "psi")
            if os.path.isdir(psi_dir):
                compact_partials(
                    spark,
                    psi_dir,
                    key_cols=["event_type", "bucket"],
                    fold=lambda c: c.groupBy("event_type", "bucket").agg(
                        F.sum("n").cast("bigint").alias("n")
                    ),
                    before_batch=batch_id,
                )
            if source_col is not None and os.path.isdir(
                os.path.join(warehouse, "cep_state")
            ):
                from airbnb_pyspark_jobs_spark.streaming.cep import (
                    compact_cep_state,
                )

                compact_cep_state(spark, warehouse, before_batch=batch_id)
            from airbnb_pyspark_jobs_spark.streaming.dedupe import (
                compact_dedup_state,
            )

            compact_dedup_state(
                spark,
                warehouse,
                before_batch=batch_id,
                max_l1_runs=dedup_max_l1_runs,
            )
        meta = None
        if source_col is not None:
            # one checkpoint so the stream source isn't re-read by the
            # dim snapshot AND the CEP anti-join below
            meta = caching.checkpoint(
                batch_df.select(
                    F.col(id_col).cast("long").alias("doc_id"),
                    F.col(source_col).cast("string").alias("source"),
                    *[F.col(c) for c in dim_tracked],
                ).dropDuplicates(["doc_id"])
            )
        accepted = dedup_batch(
            batch_df,
            warehouse,
            batch_id,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        if accepted is None:
            return
        part = f"batch_id={batch_id}"
        gated = caching.checkpoint(  # three consumers below
            accepted.join(
                quality_filter(accepted, min_tokens=min_tokens)
                .filter(F.col("keep"))
                .select("doc_id"),
                "doc_id",
                "left_semi",
            )
        )
        gated.write.mode("overwrite").parquet(
            os.path.join(warehouse, "gated", part)
        )
        from airbnb_pyspark_jobs_spark.functions.text import token_count

        vals = gated.select(
            F.lit("doc_tokens").alias("event_type"),
            token_count("text").cast("double").alias("value"),
        )
        psi_bucket_counts(
            vals, psi_mn_cents, psi_ext_cents, n_buckets
        ).write.mode("overwrite").parquet(os.path.join(warehouse, "psi", part))
        hash_split(
            gated.select("doc_id"), "doc_id", fractions, seed=split_seed
        ).write.mode("overwrite").parquet(os.path.join(warehouse, "shards", part))
        if meta is not None:
            from pyspark.sql.window import Window

            from airbnb_pyspark_jobs_spark.operators.scd2 import Scd2Spec
            from airbnb_pyspark_jobs_spark.streaming.cep import dup_burst_batch
            from airbnb_pyspark_jobs_spark.streaming.dimensions import (
                scd2_upsert_batch,
            )

            # stage 5: latest-per-source snapshot -> SCD2 merge. The
            # as-of stamp derives from batch_id alone (epoch+N sec), so
            # replays merge an identical snapshot (see module doc).
            w = Window.partitionBy("source").orderBy(F.col("doc_id").desc())
            snap = (
                meta.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "doc_id")
            )
            spec = Scd2Spec(
                natural_key=["source"],
                tracked_cols=list(dim_tracked),
                surrogate_key="source_key",
            )
            scd2_upsert_batch(
                snap,
                os.path.join(warehouse, "dim_source"),
                spec,
                F.lit(int(batch_id)).cast("timestamp"),
            )
            # stage 6: CEP over this batch's REJECTED duplicates
            rejected = meta.join(accepted.select("doc_id"), "doc_id", "left_anti")
            dup_burst_batch(
                rejected,
                warehouse,
                batch_id,
                gap=cep_gap,
                min_run=cep_min_run,
            )
        caching.release_owned_caches()

    return (
        doc_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
