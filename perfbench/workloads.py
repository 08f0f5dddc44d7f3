"""Workload definitions and their closed-loop runners.

One client runs queries back to back in one driver process, in a fixed
order; a *unit* is one pass over the workload's queries. The traced run
of a workload with staged micro-batches also drains them once through
the composed streaming pipeline.

Every query result is checked against the engine's DuckDB oracle over
the same generated files; the drained streaming state is checked
against the batch composition of the same operators.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from collections import Counter

import numpy as np
import pandas as pd

from gen import TABLES

# ``pass_s``: nominal length of one pass, which turns ``--seconds`` into
# a fixed number of measured passes; ``warm_passes``: discarded passes
# run first, where one fits the run's time budget
WORKLOADS = {
    "warehouse": {
        "data": {"name": "warehouse", "scale": 0.002, "copies": 5},
        "pass_s": 12.0,
        "warm_passes": 1,
        "queries": (
            "q01_pricing_summary", "q03_shipping_priority", "q05_revenue_by_region",
            "q07_nation_trade_flows", "q10_top_customers", "q11_top_orders_per_customer",
            "q13_events_json", "q22_scd2_merge_customer", "q23_scd2_merge_with_deletes",
            "q30_fact_lineitem", "q177_waiting_suppliers", "q179_product_profit",
        ),
        # results written through the parquet warehouse sink
        "sink": ("q22_scd2_merge_customer", "q23_scd2_merge_with_deletes", "q30_fact_lineitem"),
    },
    "iterative": {
        # n_batches x batch_docs: micro-batches the traced run drains
        # through the streaming pipeline after its pass
        "data": {"name": "iterative", "scale": 0.001, "copies": 1, "n_batches": 2, "batch_docs": 50},
        "pass_s": 30.0,
        "warm_passes": 0,
        "queries": (
            "q58_dedup_components", "q138_dup_graph_pagerank", "q245_markov_stationary",
            "q147_quality_classifier_gd", "q53_ann_ivf",
        ),
        "sink": (),
    },
}

# the query every set-up runs once and discards
WARMUP_QUERY = "q01_pricing_summary"

STREAM_SCHEMA = "doc_id long, text string, lang string, source string"
# frozen PSI edges over token counts (10..100 tokens per doc), in cents
PSI_MN_CENTS, PSI_EXT_CENTS = 1000, 9100
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


# ---------------------------------------------------------------- checks

def _norm(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("i", int(v))
    if isinstance(v, (np.floating, float)):
        v = float(v)
        return "NaN" if math.isnan(v) else ("f", v)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _norm_column(col: pd.Series) -> list:
    """``_norm`` of every value of one column; numeric columns are
    converted whole, to the same values ``_norm`` gives one by one."""
    # pandas extension dtypes (nullable ints, ...) go value by value
    kind = col.dtype.kind if isinstance(col.dtype, np.dtype) else "O"
    if kind in "iu":
        return [("i", v) for v in col.tolist()]
    if kind == "f":
        return ["NaN" if math.isnan(v) else ("f", v) for v in col.tolist()]
    if kind == "b":
        return [("b", v) for v in col.tolist()]
    if kind == "M":
        us = col.to_numpy("datetime64[us]")
        if (col.to_numpy("datetime64[ns]").astype("int64") % 1000 == 0).all():
            # Timestamp.isoformat(): seconds, then microseconds if any
            text = np.datetime_as_string(us.astype("datetime64[s]")).astype(object)
            frac = us.astype("int64") % 1_000_000
            nat = np.isnat(us)
            return [
                "NULL" if n else (t + ".%06d" % f if f else t)
                for t, f, n in zip(text.tolist(), frac.tolist(), nat.tolist())
            ]
    if kind == "O" and pd.api.types.infer_dtype(col, skipna=True) == "string":
        return [v if isinstance(v, str) else _norm(v) for v in col.tolist()]
    return [_norm(v) for v in col.tolist()]


def canonical(frame: pd.DataFrame) -> tuple:
    """Order-insensitive, type-strict form of a result: the column names
    sorted, and the multiset of rows (values in that column order)."""
    cols = sorted(frame.columns)
    rows = Counter(zip(*(_norm_column(frame[c]) for c in cols))) if cols else Counter()
    return tuple(cols), len(frame), rows


class Oracle:
    """The engine's DuckDB oracle SQL over one ``sf_dir``. Every expected
    result is computed when the oracle is made, before any timing."""

    def __init__(self, sf_dir: str, sql: dict[str, str], names) -> None:
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            self._expected = {name: canonical(con.execute(sql[name]).fetchdf()) for name in names}
        finally:
            con.close()
        self.seconds = time.perf_counter() - t0

    def matches(self, name: str, result: pd.DataFrame) -> bool:
        return canonical(result) == self._expected[name]


# ---------------------------------------------------------------- batch

# job description of the harness's own Spark reads (sink read-back),
# which the traced run leaves out of its stage figures
CHECK_JOBS = "perfbench-check"


def read_back(spark, path: str) -> pd.DataFrame:
    spark.sparkContext.setJobDescription(CHECK_JOBS)
    try:
        return spark.read.parquet(path).toPandas()
    finally:
        spark.sparkContext.setJobDescription(None)


def run_query(spark, name: str, sf_dir: str, sink, cpu_s, probe=None) -> tuple[dict, pd.DataFrame]:
    """Build, then execute one query. Execute ends when the result is in
    the driver, or written through ``sink`` (then read back untimed).
    ``cpu_s()`` is read just outside the timed span. With a ``probe``,
    also records job counts, plan time and exchanges."""
    from airbnb_pyspark_jobs_spark.plans import QUERIES

    jobs0 = probe.job_count() if probe else 0
    cpu0 = cpu_s()
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    if probe:
        jobs1, execs1 = probe.job_count(), probe.execution_count()
        t1p = time.perf_counter()
    else:
        t1p = t1
    if sink is not None:
        sink.write(df, name)
    else:
        result = df.toPandas()
    t2 = time.perf_counter()
    cpu1 = cpu_s()
    # the probe's reads between build and execute are left out
    op = {"name": name, "build_s": t1 - t0, "exec_s": t2 - t1p, "s": t1 - t0 + t2 - t1p, "cpu_s": cpu1 - cpu0}
    if probe:
        op["build_jobs"] = jobs1 - jobs0
        op["exec_jobs"] = probe.job_count() - jobs1
        op["exchanges"] = probe.exchanges_since(execs1)
        if sink is None:
            # the write runs on a query execution of its own, which this
            # DataFrame cannot reach: sink queries have no plan time
            op["plan_s"] = probe.plan_seconds(df)
    if sink is not None:
        t0 = time.perf_counter()
        result = read_back(spark, os.path.join(sink.root, name))
        op["read_back_s"] = time.perf_counter() - t0
    return op, result


def run_batch(spark, spec: dict, sf_dir: str, sink, oracle: Oracle, passes: int, log, cpu_s, probe=None) -> list[list[dict]]:
    """``passes`` whole passes over the queries. Each op records its
    timings and ``ok``: the query raised nothing and its result equals
    the oracle's."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    out: list[list[dict]] = []
    for _ in range(passes):
        ops: list[dict] = []
        for name in spec["queries"]:
            try:
                op, result = run_query(spark, name, sf_dir, sink if name in spec["sink"] else None, cpu_s, probe)
                t0 = time.perf_counter()
                op["ok"] = oracle.matches(name, result)
                op["check_s"] = time.perf_counter() - t0
                if not op["ok"]:
                    log(f"{name}: result differs from the oracle")
            except Exception as exc:  # a raised query counts as failed
                log(f"{name}: {type(exc).__name__}: {str(exc)[:500]}")
                op = {"name": name, "ok": False}
            if probe:
                # the next query's wrapper would release these first
                release_owned_caches()
                op["blocks_leaked"] = probe.cached_blocks()
            ops.append(op)
        out.append(ops)
    return out


# ---------------------------------------------------------------- stream

def drain(spark, stream_dir: str, work_dir: str) -> dict:
    """Run the composed ingest pipeline over every staged batch file
    (AvailableNow, one file per trigger) into a fresh warehouse."""
    from airbnb_pyspark_jobs_spark.streaming.pipeline import streaming_corpus_pipeline

    wh, ckpt = os.path.join(work_dir, "wh"), os.path.join(work_dir, "ckpt")
    stream = spark.readStream.schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(stream_dir)
    t0 = time.perf_counter()
    q = streaming_corpus_pipeline(
        stream, wh, ckpt,
        psi_mn_cents=PSI_MN_CENTS, psi_ext_cents=PSI_EXT_CENTS,
        min_tokens=5, source_col="source", compact_every_n_batches=1,
    )
    try:
        q.awaitTermination(150)
    finally:
        if q.isActive:
            q.stop()
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return {
        "s": wall,
        "batches": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
        "input_rows": sum(p["numInputRows"] for p in progress),
        "warehouse": wh,
    }


def check_stream(spark, stream_dir: str, wh: str, log) -> bool:
    """The drained state equals the batch composition: accepted docs are
    unique ingested docs with no near-duplicate pair left among them,
    every other doc is in a recorded pair, the gated set is the quality
    gate over the accepted docs, and the shards are the hash split of
    the gated docs."""
    from pyspark.sql import functions as F

    from airbnb_pyspark_jobs_spark.operators.corpus import quality_filter
    from airbnb_pyspark_jobs_spark.operators.dedupe import minhash_lsh_pairs
    from airbnb_pyspark_jobs_spark.operators.sampling import hash_split

    src = {r.doc_id for r in spark.read.parquet(stream_dir).select("doc_id").collect()}
    acc_rows = spark.read.parquet(os.path.join(wh, "accepted")).select("doc_id", "text").collect()
    acc = {r.doc_id for r in acc_rows}
    paired = {
        v for r in spark.read.parquet(os.path.join(wh, "dups")).select("doc_id_a", "doc_id_b").collect()
        for v in (r.doc_id_a, r.doc_id_b)
    }
    acc_df = spark.createDataFrame([(r.doc_id, r.text) for r in acc_rows], "doc_id long, text string")
    gated = {r.doc_id for r in spark.read.parquet(os.path.join(wh, "gated")).select("doc_id").collect()}
    want_gated = {
        r.doc_id for r in quality_filter(acc_df, min_tokens=5).filter(F.col("keep")).select("doc_id").collect()
    }
    shards = sorted(
        (r.doc_id, r.split) for r in spark.read.parquet(os.path.join(wh, "shards")).select("doc_id", "split").collect()
    )
    gated_df = spark.createDataFrame([(d,) for d in sorted(gated)], "doc_id long")
    want_shards = sorted((r.doc_id, r.split) for r in hash_split(gated_df, "doc_id", SPLITS, seed="pipeline").collect())
    checks = {
        "accepted docs are unique": len(acc_rows) == len(acc),
        "accepted docs were ingested": acc <= src,
        "rejected docs are paired": (src - acc) <= paired,
        "no near-duplicates accepted": minhash_lsh_pairs(acc_df, threshold=0.5).isEmpty(),
        "gated equals the gate over accepted": gated == want_gated,
        "shards equal the split of gated": shards == want_shards,
    }
    for what, ok in checks.items():
        if not ok:
            log(f"stream state check failed: {what}")
    return all(checks.values())
