"""Query-scoped ownership of persisted intermediates and checkpoints.

Operators persist intermediates that feed multiple downstream branches
(shingle tables, candidate pairs, residuals), and cut the lineage of
fixed-point loops and multi-consumer stream batches with
checkpoints. Both must outlive the operator — the CALLER materializes
the query result — but in a long-lived session running many queries
back-to-back (the round driver's loop, ``bench.py``, a stream's
micro-batches), never-released blocks accumulate in the block manager
until eviction pressure sets in.

The contract here makes the lifetime explicit and bounded:

- operators/plans register every internally-persisted DataFrame via
  :func:`owned_persist` instead of calling ``.persist()`` directly;
- every lineage cut goes through :func:`checkpoint` — the package's
  one ``localCheckpoint`` call — which registers the result the same
  way;
- the ``@query`` decorator releases ALL registered caches at the START
  of the next query invocation (the previous query's result has been
  materialized by then) — so the driver's loop holds at most one
  query's intermediates at a time; stream batches release theirs at
  batch end;
- callers composing operators directly call
  :func:`release_owned_caches` themselves once results are
  materialized (tests assert the block manager returns to baseline);
- a loop frees a checkpoint nothing reads any more on the spot
  (:func:`release_checkpoint`), so its live blocks stay O(1) rounds.

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
    """Free the blocks of a :func:`checkpoint`'ed frame now
    (non-blocking), once nothing reads it any more.
    ``DataFrame.unpersist`` does not: the blocks belong to the RDD
    under the frame's ``LogicalRDD``, not to the cache manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


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


def checkpoint(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: ``localCheckpoint(eager=True)`` planned
    with constraint propagation off (:func:`constraint_propagation_off`),
    registered for the next :func:`release_owned_caches` sweep. The
    package's only ``localCheckpoint`` call; never call it inside a
    :func:`constraint_propagation_off` block (its lock is not
    reentrant)."""
    with constraint_propagation_off(df.sparkSession):
        df = df.localCheckpoint(eager=True)
    _OWNED.append(lambda: release_checkpoint(df))
    return df


def release_owned_caches() -> int:
    """Unpersist every registered intermediate (non-blocking); returns
    how many were released. Call it once the results that read them are
    materialized: a released cache only costs recomputation if its
    query is re-materialized later, but a frame that reads a released
    checkpoint can no longer be computed."""
    n = 0
    while _OWNED:
        try:
            _OWNED.pop()()
        except Exception:
            pass  # session already stopped; nothing to release
        n += 1
    return n
