"""Cache-ownership hygiene: persisting and checkpointing code must not
leak blocks.

Operators persist intermediates that multiple downstream branches read
(shingle tables, candidate pairs, CMS term frequencies) and checkpoint
loop state. The contract (`caching.owned_persist`,
`caching.checkpoint`) is that those blocks are registered and released
by the next `@query` invocation / an explicit `release_owned_caches()`
— so a long-lived session running the whole registry (the driver's
loop, bench.py) holds at most one query's intermediates at a time
instead of accumulating them until eviction.
"""

from __future__ import annotations

import os

import pytest

from airbnb_pyspark_jobs_spark.caching import release_owned_caches
from airbnb_pyspark_jobs_spark.operators import dedupe as DD
from airbnb_pyspark_jobs_spark.operators import similarity as SIM

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.mark.parametrize(
    "qname",
    [
        "q44_ngram_jaccard_pairs",   # owned shingle-table persist
        "q103_dup_span_coverage",    # owned positioned-shingle persist
        "q99_cms_token_counts",      # owned term-frequency persist
    ],
)
def test_persisting_query_releases_blocks(spark, qname):
    """Materialize a persisting query, release owned caches, and assert
    the block manager is back to its pre-query persistent-RDD count."""
    from airbnb_pyspark_jobs_spark.plans import QUERIES

    release_owned_caches()  # clean slate (earlier tests may own caches)
    before = _persistent_rdd_count(spark)
    QUERIES[qname](spark, SF_DIR).collect()
    release_owned_caches()
    # <= not ==: earlier tests' localCheckpoint blocks are freed
    # ASYNCHRONOUSLY by the ContextCleaner, so the ambient count can
    # drop mid-test; the hygiene claim is only "this query left no
    # NET-NEW blocks behind".
    assert _persistent_rdd_count(spark) <= before


def test_query_loop_holds_at_most_one_querys_caches(spark):
    """Back-to-back @query invocations: entering query N+1 releases
    query N's owned caches automatically (the driver-loop contract)."""
    from airbnb_pyspark_jobs_spark.plans import QUERIES

    release_owned_caches()
    base = _persistent_rdd_count(spark)
    loop = [
        "q44_ngram_jaccard_pairs",
        "q103_dup_span_coverage",
        "q99_cms_token_counts",
    ]
    for qname in loop:
        QUERIES[qname](spark, SF_DIR).collect()
        # while a query's result was just materialized its own caches may
        # still be registered — but never more than ONE query's worth:
        # the wrapper released everything owned before this invocation.
    QUERIES["q01_pricing_summary"](spark, SF_DIR).collect()  # releases last
    assert _persistent_rdd_count(spark) <= base


def test_nested_query_invocation_keeps_composers_caches(spark):
    """A composite query that owned_persist()s a shared frame and then
    calls OTHER registered queries must keep its cache: the release
    sweep fires only at top-level invocations (reentrancy depth 0),
    never inside a composition (q172 -> q156/q169 -> q147)."""
    from pyspark.sql import functions as F

    from airbnb_pyspark_jobs_spark.caching import owned_persist
    from airbnb_pyspark_jobs_spark.plans.queries import query

    seen = {}

    @query("qtest_inner_noop")
    def _inner(spark, sf_dir):
        return spark.range(1).select(F.lit(1).alias("one"))

    @query("qtest_outer_composite")
    def _outer(spark, sf_dir):
        shared = owned_persist(spark.range(10).select(F.col("id").alias("k")))
        shared.count()  # materialize the cache
        _inner(spark, sf_dir).collect()  # nested registered-query call
        seen["cached_after_nested"] = shared.storageLevel.useMemory
        return shared

    from airbnb_pyspark_jobs_spark.plans.queries import ORACLES, QUERIES

    try:
        QUERIES["qtest_outer_composite"](spark, SF_DIR).collect()
        assert seen["cached_after_nested"] is True
    finally:
        from airbnb_pyspark_jobs_spark.plans.queries import QUERY_FAMILIES

        for name in ("qtest_inner_noop", "qtest_outer_composite"):
            QUERIES.pop(name, None)
            ORACLES.pop(name, None)
            QUERY_FAMILIES.pop(name, None)
        release_owned_caches()


def test_checkpoint_concurrent_callers_restore_conf(spark):
    """`checkpoint` toggles the session-global constraint-
    propagation conf; concurrent callers must not interleave the
    read-toggle-restore (a thread reading another's ``false`` as its
    "previous" value would leave propagation off for the session)."""
    import threading

    from airbnb_pyspark_jobs_spark.caching import checkpoint

    key = "spark.sql.constraintPropagation.enabled"
    original = spark.conf.get(key)
    n_threads = 6
    barrier = threading.Barrier(n_threads)
    counts: list[int] = []
    errors: list[BaseException] = []

    def worker(i: int) -> None:
        try:
            barrier.wait()
            for r in range(3):
                df = spark.range(10 + i + r)
                counts.append(checkpoint(df).count())
        except BaseException as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(counts) == sorted(
        10 + i + r for i in range(n_threads) for r in range(3)
    )
    assert spark.conf.get(key) == original


def test_package_has_one_local_checkpoint_call():
    """Every lineage cut in the package goes through
    ``caching.checkpoint``: exactly one ``.localCheckpoint(`` call in
    the package, inside that function."""
    import ast
    import pathlib

    import airbnb_pyspark_jobs_spark

    root = pathlib.Path(airbnb_pyspark_jobs_spark.__file__).parent
    owners = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    name = getattr(fn, "name", type(fn).__name__)
                    owners.append(f"{path.relative_to(root)}:{name}")
    assert owners == ["caching.py:checkpoint"]


def _leaked_rdd_ids(spark, run) -> set[int]:
    """Persistent RDD ids created by ``run()`` that survive
    ``release_owned_caches()``."""
    jsc = spark.sparkContext._jsc
    release_owned_caches()
    before = set(jsc.getPersistentRDDs().keys())
    run()
    release_owned_caches()
    return set(jsc.getPersistentRDDs().keys()) - before


@pytest.mark.parametrize(
    "qname",
    ["q89_bpe_merges", "q265_kcore_peeling", "q311_unigram_tokenizer_em"],
)
def test_checkpointing_query_leaks_no_rdd(spark, qname):
    """The merge loop, the k-core peel rounds and the Viterbi DP
    checkpoint every round; none outlives the release sweep."""
    from airbnb_pyspark_jobs_spark.plans import QUERIES

    run = lambda: QUERIES[qname](spark, SF_DIR).collect()  # noqa: E731
    assert _leaked_rdd_ids(spark, run) == set()


def _vectors(spark):
    return spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5) + 1.0, float(i % 7)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )


@pytest.mark.parametrize(
    "run",
    [
        lambda spark: SIM.kcenter_coreset(_vectors(spark), k=4).collect(),
        lambda spark: SIM.mmr_topk(_vectors(spark), k=4).collect(),
        lambda spark: DD.triangle_counts(
            spark.createDataFrame(
                [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
            )
        ).collect(),
    ],
    ids=["kcenter_coreset", "mmr_topk", "triangle_counts"],
)
def test_checkpointing_operator_leaks_no_rdd(spark, run):
    """Greedy selection loops free each superseded round and hand the
    rest, like the triangle edge list, to the release sweep."""
    assert _leaked_rdd_ids(spark, lambda: run(spark)) == set()
