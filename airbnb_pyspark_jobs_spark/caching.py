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
  materialized (tests assert the block manager returns to baseline).

At cluster scale the same discipline applies: executor storage memory
is a shared resource, and ``MEMORY_AND_DISK`` eviction saves you from
OOM but not from evicting a cache another job still wants. Explicit
release beats relying on LRU.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_OWNED: list[DataFrame] = []

#: serializes :func:`flat_checkpoint`'s read-toggle-restore of the
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
    _OWNED.append(df)
    return df


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with constraint propagation
    disabled around the call.

    Spark 4.x builds the checkpoint's ``LogicalRDD`` via
    ``rewriteStatsAndConstraints``, which forces the OPTIMIZED plan's
    full constraint closure (``QueryPlanConstraints.validConstraints``).
    That closure is exponential on self-join/union shapes with many
    equality predicates — measured: checkpointing the q146 perceptual-
    hash pair frame (8 equated band columns, banded self-join, union of
    both edge orientations) hangs for >4 minutes at sf0.001 burning CPU
    in ``Aggregate.validConstraints``, while the same checkpoint with
    propagation off completes in milliseconds. The toggle only skips
    constraint DERIVATION for the plan being checkpointed (the
    resulting LogicalRDD carries no inferred constraints — same as any
    fresh scan); session-level optimization of every other plan is
    untouched. The toggle is held under a module-level lock, so
    concurrent callers never observe (or restore) each other's value.
    """
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    with _CONF_LOCK:
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def release_owned_caches() -> int:
    """Unpersist every registered intermediate (non-blocking); returns
    how many were released. Safe to call at any time — a released cache
    only costs recomputation if its query is re-materialized later."""
    n = 0
    while _OWNED:
        try:
            _OWNED.pop().unpersist()
        except Exception:
            pass  # session already stopped; nothing to release
        n += 1
    return n
