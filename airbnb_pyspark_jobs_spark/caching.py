"""Query-scoped cache ownership for persisted intermediates.

Operators persist intermediates that feed multiple downstream branches
(shingle tables, candidate pairs, residuals). Those DataFrames must stay
cached until the CALLER materializes the query result — so the operator
cannot unpersist before returning — but in a long-lived session running
many queries back-to-back (the round driver's loop, ``bench.py``),
never-released caches accumulate in the block manager until eviction
pressure sets in.

The contract here makes the lifetime explicit and bounded:

- operators/plans register every internally-persisted DataFrame via
  :func:`owned_persist` instead of calling ``.persist()`` directly;
- the ``@query`` decorator releases ALL registered caches at the START
  of the next query invocation (the previous query's result has been
  materialized by then) — so the driver's loop holds at most one
  query's intermediates at a time;
- callers composing operators directly call
  :func:`release_owned_caches` themselves once results are
  materialized (tests assert the block manager returns to baseline);
- a ``localCheckpoint`` a result still reads is registered the same
  way (:func:`owned_checkpoint`); one nothing reads any more is freed
  on the spot (:func:`release_checkpoint`).

At cluster scale the same discipline applies: executor storage memory
is a shared resource, and ``MEMORY_AND_DISK`` eviction saves you from
OOM but not from evicting a cache another job still wants. Explicit
release beats relying on LRU.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.storagelevel import StorageLevel

#: release callbacks of the registered caches and checkpoints
_OWNED: list[Callable[[], object]] = []

#: serializes :func:`constraint_propagation_off`'s read-toggle-restore of the
#: session-global constraint-propagation conf — two unguarded callers
#: interleaving would each restore the other's ``false`` as the
#: "previous" value and leave propagation off for the whole session
_CONF_LOCK = threading.Lock()


def owned_persist(
    df: DataFrame, storage_level: StorageLevel | None = None
) -> DataFrame:
    """Persist ``df`` and register it for the next
    :func:`release_owned_caches` sweep. Returns the persisted frame."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _OWNED.append(df.unpersist)
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``'ed frame now
    (non-blocking). ``DataFrame.unpersist`` does not: the blocks belong
    to the RDD under the frame's ``LogicalRDD``, not to the cache
    manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def owned_checkpoint(df: DataFrame) -> DataFrame:
    """Register a ``localCheckpoint``'ed frame for the next
    :func:`release_owned_caches` sweep. Returns the frame."""
    _OWNED.append(lambda: release_checkpoint(df))
    return df


def collect_bounded(df: DataFrame, cap: int) -> list[Row] | None:
    """The rows of ``df`` if it has at most ``cap`` of them, else
    ``None``. Reads at most ``cap + 1`` rows, so a frame far past the
    cap never reaches the driver whole — the one bounded collect behind
    every driver-side fixed point."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


@contextmanager
def constraint_propagation_off(spark: SparkSession) -> Iterator[None]:
    """Plan with constraint propagation disabled inside the block.

    Spark 4.x derives the OPTIMIZED plan's full constraint closure
    (``QueryPlanConstraints.validConstraints``) when it optimizes a
    plan — and again when a checkpoint's ``LogicalRDD`` is built via
    ``rewriteStatsAndConstraints``. That closure is exponential on
    self-join/union shapes with many equality predicates — measured:
    checkpointing the q146 perceptual-hash pair frame (8 equated band
    columns, banded self-join, union of both edge orientations) hangs
    for >4 minutes at sf0.001 burning CPU in
    ``Aggregate.validConstraints``, while the same checkpoint with
    propagation off completes in milliseconds; persisting and
    collecting q166's dup-graph edge list hangs the same way. The
    toggle only skips constraint DERIVATION for the plans built in the
    block (a checkpoint's LogicalRDD carries no inferred constraints —
    same as any fresh scan); every other plan is untouched. The
    session-global conf is held under a module-level lock, so
    concurrent callers never observe (or restore) each other's value.
    """
    key = "spark.sql.constraintPropagation.enabled"
    with _CONF_LOCK:
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with constraint propagation
    disabled around the call (:func:`constraint_propagation_off`)."""
    with constraint_propagation_off(df.sparkSession):
        return df.localCheckpoint(eager=True)


def release_owned_caches() -> int:
    """Unpersist every registered intermediate (non-blocking); returns
    how many were released. Safe to call at any time — a released cache
    only costs recomputation if its query is re-materialized later."""
    n = 0
    while _OWNED:
        try:
            _OWNED.pop()()
        except Exception:
            pass  # session already stopped; nothing to release
        n += 1
    return n
