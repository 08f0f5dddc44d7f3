"""Streaming CEP inside foreachBatch: duplicate-flood alerts with
parquet-backed state (VERDICT r7 #3 — compose the CEP stream into the
e2e ingest pipeline).

``streaming/stateful.py`` implements CEP with the state-store API
(``applyInPandasWithState``), which only runs as its OWN streaming
query. The composed corpus pipeline (streaming/pipeline.py) instead
needs CEP as one more STAGE of a single ``foreachBatch`` — so this
module re-expresses the q250 gaps-and-islands semantics over the
ingest's REJECTED duplicates with the same idempotent parquet-state
pattern the dedup index uses: each batch overwrites its own
``batch_id=N`` partition, reads prune to ``batch_id < N``, and the
batch's output is a pure function of (committed history, batch
content) — crash-replay-safe without a transactional format.

Semantics (mirrors ``plans/event_queries.py`` q250, keyed by source
over doc-id instead of user over time): per source, a run of rejected
duplicate docs whose consecutive ``doc_id`` gaps are ≤ ``gap`` is one
burst; a burst reaching ``min_run`` docs is a "dup flood" alert (a
crawler re-submitting a mirrored site, a bad producer replaying a
topic). Bursts span micro-batches: state carries (last_id, start_id,
run) per source; a batch whose first rejected id for a source is
within ``gap`` of the stored ``last_id`` CONTINUES the stored burst,
otherwise the stored burst is finalized ('closed' alert if it reached
``min_run``) and a fresh one starts.

State layout: ``{warehouse}/cep_state/batch_id=N`` holds ONLY the
sources touched by batch N (the read side takes latest-per-source by
``batch_id``), so per-batch writes are proportional to batch content,
never to the source universe. Alerts land under
``{warehouse}/alerts/batch_id=N`` — 'closed' bursts exactly once (in
the batch that closed them), 'open' bursts re-emitted with their
growing size (update semantics, like the stateful twin).

Scale: the only windows are partitioned by ``source`` and bounded by
micro-batch size (island scan) or by batch count (latest-state pick);
joins are source-keyed; no global sorts, no driver-side loops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airbnb_pyspark_jobs_spark import caching
from airbnb_pyspark_jobs_spark.streaming.dedupe import _read_state

_CEP_STATE_SCHEMA = "source string, last_id long, start_id long, run long"
_ALERT_SCHEMA = "source string, burst_start long, n_dups long, status string"
_PARAMS_SCHEMA = "gap long, min_run long"


class CepParamsMismatchError(RuntimeError):
    """A writer or reader used (gap, min_run) different from the values
    the warehouse's state/alerts were written with — mixing thresholds
    yields an inconsistent burst set (closed alerts reflect the writer's
    min_run while live-state filtering uses the reader's)."""


def _read_params(spark: SparkSession, warehouse: str) -> tuple[int, int] | None:
    """The persisted (gap, min_run) this warehouse was written with, or
    None for a warehouse that predates the params record."""
    from pyspark.errors import AnalysisException

    try:
        row = (
            spark.read.schema(_PARAMS_SCHEMA)
            .parquet(os.path.join(warehouse, "cep_params"))
            .first()
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None
    return None if row is None else (int(row["gap"]), int(row["min_run"]))


# params are immutable after first write, so re-reading the parquet on
# every micro-batch adds a fixed driver-side read to the hot
# foreachBatch path for nothing (ADVICE r9) — cache the validated
# (gap, min_run) per warehouse after the first successful check
_PARAMS_CACHE: dict[str, tuple[int, int]] = {}


def _ensure_params(
    spark: SparkSession, warehouse: str, gap: int, min_run: int
) -> None:
    """First writer persists (gap, min_run) next to the state; later
    writers must match — CEP thresholds are warehouse-level constants,
    not per-batch knobs (ADVICE r8: a reader with a different min_run
    silently mixed thresholds). Overwrite is idempotent under replay.
    After one successful check the validated pair is cached per
    warehouse path (driver-local) so later batches skip the parquet
    read; a LOCAL warehouse (plain path or ``file:`` URI — the scheme
    is stripped before the isdir probe, ADVICE r10: probing the raw
    ``file:/...`` string is always False, which evicted the cache
    every batch and the optimization never took effect) whose params
    record disappeared (deleted / recreated between runs) drops its
    stale cache entry and re-validates from storage. REMOTE warehouses
    have no driver-visible staleness probe, so their cache entry lives
    for the driver's lifetime: a remote warehouse deleted and
    recreated under the same URI within one driver run will NOT be
    re-validated — restart the driver (or clear ``_PARAMS_CACHE``)
    after such maintenance."""
    cached = _PARAMS_CACHE.get(warehouse)
    if cached is not None:
        if warehouse.startswith("file:"):
            from urllib.parse import urlparse

            probe_root = urlparse(warehouse).path
            local = True
        else:
            probe_root = warehouse
            local = "://" not in warehouse
        if local and not os.path.isdir(os.path.join(probe_root, "cep_params")):
            del _PARAMS_CACHE[warehouse]  # stale: path reused, re-check
        elif cached != (gap, min_run):
            raise CepParamsMismatchError(
                f"warehouse was written with (gap, min_run)={cached}, "
                f"got ({gap}, {min_run})"
            )
        else:
            return
    stored = _read_params(spark, warehouse)
    if stored is None:
        spark.createDataFrame(
            [(gap, min_run)], _PARAMS_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(warehouse, "cep_params")
        )
    elif stored != (gap, min_run):
        raise CepParamsMismatchError(
            f"warehouse was written with (gap, min_run)={stored}, "
            f"got ({gap}, {min_run})"
        )
    _PARAMS_CACHE[warehouse] = (gap, min_run)


def _latest_state(spark: SparkSession, state_dir: str, before_batch: int) -> DataFrame:
    """Latest committed (last_id, start_id, run) per source: batches
    write only touched sources, so the live state for a source is its
    row with the highest committed ``batch_id``."""
    hist = _read_state(
        spark, state_dir, _CEP_STATE_SCHEMA, before_batch, keep_batch_id=True
    )
    w = Window.partitionBy("source").orderBy(F.col("batch_id").desc())
    return (
        hist.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id")
    )


def dup_burst_batch(
    rejected: DataFrame,
    warehouse: str,
    batch_id: int,
    gap: int = 5,
    min_run: int = 3,
    source_col: str = "source",
) -> None:
    """One micro-batch of dup-flood CEP over ``rejected`` (the batch's
    rejected duplicates, carrying ``(source_col, doc_id)``).

    Islands within the batch via one source-partitioned lag/cumsum
    pass; the first island per source merges with the stored state when
    it continues the stored burst; the last island per source becomes
    the new stored state. Writes are the two idempotent ``batch_id=N``
    partitions described in the module docstring.

    Cross-batch continuation requires ``0 <= i_start - last_id <= gap``:
    a backward id (a source whose doc_ids are NOT monotone across
    micro-batches) starts a NEW burst instead of silently merging into
    the stored one, preserving the documented equality with the
    one-pass gaps-and-islands over the id-sorted full stream (ADVICE
    r8: the unsigned check admitted any out-of-order id). ``gap`` and
    ``min_run`` are persisted on first write and later batches must
    match (:class:`CepParamsMismatchError` otherwise)."""
    spark = rejected.sparkSession
    state_dir = os.path.join(warehouse, "cep_state")
    alerts_dir = os.path.join(warehouse, "alerts")
    _ensure_params(spark, warehouse, gap, min_run)

    r = rejected.select(
        F.col(source_col).cast("string").alias("source"),
        F.col("doc_id").cast("long").alias("doc_id"),
    ).dropDuplicates(["source", "doc_id"])
    if r.isEmpty():
        # nothing rejected: no sources touched, state stands as-is (a
        # replayed empty batch also writes nothing — still idempotent)
        return

    w_ord = Window.partitionBy("source").orderBy("doc_id")
    islands = (
        r.withColumn("__prev", F.lag("doc_id").over(w_ord))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull()
                | ((F.col("doc_id") - F.col("__prev")) > gap),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("__brk").over(w_ord))
        .groupBy("source", "island")
        .agg(
            F.min("doc_id").alias("i_start"),
            F.max("doc_id").alias("i_end"),
            F.count(F.lit(1)).alias("i_n"),
        )
        .withColumn("n_islands", F.max("island").over(Window.partitionBy("source")))
    )

    prior = _latest_state(spark, state_dir, batch_id)
    # first-island continuation check needs the prior state; islands>1
    # never continue (a same-batch earlier island already broke the gap)
    cont = (
        (F.col("island") == 1)
        & F.col("last_id").isNotNull()
        & ((F.col("i_start") - F.col("last_id")) >= 0)
        & ((F.col("i_start") - F.col("last_id")) <= gap)
    )
    adj = caching.checkpoint(  # three consumers below; also freezes the state read
        islands.join(prior, "source", "left").select(
            "source",
            "island",
            "n_islands",
            "i_end",
            F.when(cont, F.col("run") + F.col("i_n"))
            .otherwise(F.col("i_n"))
            .alias("b_run"),
            F.when(cont, F.col("start_id")).otherwise(F.col("i_start")).alias("b_start"),
            # a prior burst is CLOSED by this batch iff the source has
            # batch rows and island 1 does not continue it
            ((F.col("island") == 1) & F.col("last_id").isNotNull() & ~cont).alias(
                "closes_prior"
            ),
            F.col("start_id").alias("p_start"),
            F.col("run").alias("p_run"),
        )
    )

    closed_prior = adj.filter(F.col("closes_prior") & (F.col("p_run") >= min_run)).select(
        "source",
        F.col("p_start").alias("burst_start"),
        F.col("p_run").alias("n_dups"),
        F.lit("closed").alias("status"),
    )
    closed_batch = adj.filter(
        (F.col("island") < F.col("n_islands")) & (F.col("b_run") >= min_run)
    ).select(
        "source",
        F.col("b_start").alias("burst_start"),
        F.col("b_run").alias("n_dups"),
        F.lit("closed").alias("status"),
    )
    open_alerts = adj.filter(
        (F.col("island") == F.col("n_islands")) & (F.col("b_run") >= min_run)
    ).select(
        "source",
        F.col("b_start").alias("burst_start"),
        F.col("b_run").alias("n_dups"),
        F.lit("open").alias("status"),
    )
    new_state = adj.filter(F.col("island") == F.col("n_islands")).select(
        "source",
        F.col("i_end").alias("last_id"),
        F.col("b_start").alias("start_id"),
        F.col("b_run").alias("run"),
    )

    part = f"batch_id={batch_id}"
    closed_prior.unionByName(closed_batch).unionByName(open_alerts).write.mode(
        "overwrite"
    ).parquet(os.path.join(alerts_dir, part))
    new_state.write.mode("overwrite").parquet(os.path.join(state_dir, part))


def compact_cep_state(
    spark: SparkSession, warehouse: str, before_batch: int | None = None
) -> int:
    """Fold the per-batch CEP state partitions into one base partition
    (``batch_id=-1``), bounding ``_latest_state``'s read fan-in.

    Each batch writes only its touched sources, so the partition count
    grows with batch count and a long-running stream's every batch
    re-reads the whole history. The fold keeps, per source, the row
    with the highest committed ``batch_id`` — exactly what
    ``_latest_state`` computes at read time — written below any real
    batch id so subsequent ``batch_id < N`` pruning and later folds
    stay correct (newer partials always win over the base). Reuses
    :func:`streaming.aggregates.compact_partials`' crash-safe
    temp-dir + manifest swap; run with the stream paused, like any
    file-level maintenance on a non-transactional table — or from
    inside ``foreachBatch`` with ``before_batch`` = the current batch
    id, which restricts the fold to committed batches so a replay of
    the running batch cannot see its own state through the base (see
    ``compact_partials``). Returns the number of partition dirs folded
    (0 = nothing to do)."""
    from airbnb_pyspark_jobs_spark.streaming.aggregates import compact_partials

    def fold(combined: DataFrame) -> DataFrame:
        w = Window.partitionBy("source").orderBy(F.col("batch_id").desc())
        return (
            combined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "batch_id")
        )

    return compact_partials(
        spark,
        os.path.join(warehouse, "cep_state"),
        key_cols=["source"],
        fold=fold,
        before_batch=before_batch,
    )


def read_dup_bursts(
    spark: SparkSession, warehouse: str, min_run: int | None = None
) -> DataFrame:
    """Final burst set after a drained stream: every 'closed' alert
    (emitted exactly once, in its closing batch) plus the still-open
    stored bursts that reached ``min_run``. Equals the one-pass
    gaps-and-islands over the full rejected stream (asserted in
    tests/test_streaming_cep_dim.py).

    ``min_run`` defaults to the value PERSISTED by the writer
    (``{warehouse}/cep_params``) — closed alerts were already filtered
    at the writer's threshold, so a reader using a different one mixes
    thresholds (ADVICE r8); passing it explicitly is allowed only when
    it matches (:class:`CepParamsMismatchError` otherwise). Falls back
    to 3 for a warehouse predating the params record.

    A burst is identified by (source, burst_start); the result folds to
    MAX(n_dups) per burst so a read during a crash window — a batch's
    alerts committed but its state write lost — reports the in-flight
    burst once at its newest size instead of twice (the orphan 'closed'
    alert plus the stale live state). Replay then converges the
    warehouse; at-rest reads are unaffected (distinct bursts never
    share a start)."""
    from pyspark.errors import AnalysisException

    stored = _read_params(spark, warehouse)
    if min_run is None:
        min_run = stored[1] if stored is not None else 3
    elif stored is not None and min_run != stored[1]:
        raise CepParamsMismatchError(
            f"warehouse was written with min_run={stored[1]}, got {min_run}"
        )

    try:
        closed = (
            spark.read.option("basePath", os.path.join(warehouse, "alerts"))
            .schema(_ALERT_SCHEMA + ", batch_id long")
            .parquet(os.path.join(warehouse, "alerts"))
            .filter(F.col("status") == "closed")
            .select("source", "burst_start", "n_dups")
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        closed = spark.createDataFrame(
            [], "source string, burst_start long, n_dups long"
        )
    live = _latest_state(
        spark, os.path.join(warehouse, "cep_state"), 2**62
    ).filter(F.col("run") >= min_run).select(
        "source",
        F.col("start_id").alias("burst_start"),
        F.col("run").alias("n_dups"),
    )
    return (
        closed.unionByName(live)
        .groupBy("source", "burst_start")
        .agg(F.max("n_dups").cast("bigint").alias("n_dups"))
    )
