"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, _norm, _norm_column, canonical  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

SMALL = {"name": "t", "scale": 0.0005, "copies": 3, "n_batches": 2, "batch_docs": 20}


def _read(paths: dict) -> dict:
    out = {t: pq.read_table(os.path.join(paths["sf_dir"], f"{t}.parquet")) for t in gen.TABLES}
    for f in sorted(os.listdir(paths["stream_dir"])):
        if f.endswith(".parquet"):
            out[f] = pq.read_table(os.path.join(paths["stream_dir"], f))
    return out


def test_generation_is_deterministic_per_seed(tmp_path):
    a = _read(gen.materialize(SMALL, 7, str(tmp_path / "a")))
    b = _read(gen.materialize(SMALL, 7, str(tmp_path / "b")))
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_generation_differs_across_seeds(tmp_path):
    a = _read(gen.materialize(SMALL, 7, str(tmp_path / "a")))
    b = _read(gen.materialize(SMALL, 8, str(tmp_path / "b")))
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["part-00000.parquet"].equals(b["part-00000.parquet"])


def test_materialize_reuses_its_output(tmp_path):
    paths = gen.materialize(SMALL, 7, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(paths["sf_dir"], "orders.parquet"))
    assert gen.materialize(SMALL, 7, str(tmp_path)) == paths
    assert os.path.getmtime(os.path.join(paths["sf_dir"], "orders.parquet")) == stamp


def test_replica_keeps_foreign_keys_inside_each_copy():
    base = gen.base(SMALL["scale"])
    rep = gen.permute(gen.replicate(base, SMALL["copies"]), 3)
    for name in ("customer", "supplier", "part", "orders"):
        assert rep[name].num_rows == SMALL["copies"] * base[name].num_rows
    for (table, col), (ref, key) in gen.FOREIGN_KEYS.items():
        keys = np.asarray(rep[ref][key])
        assert len(np.unique(keys)) == len(keys), f"{ref}.{key} not unique"
        assert np.isin(np.asarray(rep[table][col]), keys).all(), f"{table}.{col} dangles"
    # copy c of a lineitem points at copy c of its order
    width = base["orders"].num_rows
    li = rep["lineitem"]
    copy_of_order = np.asarray(li["l_orderkey"]) // width
    assert (np.asarray(li["l_partkey"]) // base["part"].num_rows == copy_of_order).all()


def test_permutation_preserves_table_contents():
    base = gen.base(SMALL["scale"])
    perm = gen.permute(base, 5)
    for name in gen.TABLES:
        cols = base[name].column_names
        key = [(c, "ascending") for c in cols if c != "embedding"]
        assert perm[name].sort_by(key).equals(base[name].sort_by(key)), name
        assert perm[name].schema == base[name].schema


def test_stream_batches_split_distinct_documents():
    docs = gen.base(SMALL["scale"])["documents"]
    batches = gen.stream_batches(docs, 9, 3, 25)
    ids = [i for b in batches for i in b["doc_id"].to_pylist()]
    assert [b.num_rows for b in batches] == [25, 25, 25]
    assert [sorted(b["doc_id"].to_pylist()) for b in batches] == [list(range(k, k + 25)) for k in (0, 25, 50)]
    other = gen.stream_batches(gen.permute(gen.base(SMALL["scale"]), 4)["documents"], 10, 3, 25)
    assert [b["doc_id"].to_pylist() for b in other] != [b["doc_id"].to_pylist() for b in batches]


def test_canonical_is_order_insensitive_and_type_strict():
    frame = pd.DataFrame({
        "k": [3, 1, 2],
        "x": [0.5, np.nan, -0.0],
        "s": ["a", None, "b"],
        "t": pd.to_datetime(["2024-01-01", None, "2024-02-01 10:11:12.5"], format="ISO8601"),
    })
    assert canonical(frame.iloc[::-1].reset_index(drop=True)) == canonical(frame)
    assert canonical(frame.assign(k=frame["k"].astype(float))) != canonical(frame)
    assert canonical(frame.assign(x=[0.5, np.nan, 0.0])) == canonical(frame)
    assert canonical(pd.concat([frame, frame.iloc[:1]])) != canonical(frame)
    for col in ("k", "x", "s", "t"):
        assert _norm_column(frame[col]) == [_norm(v) for v in frame[col].tolist()], col
    micros = frame["t"].astype("datetime64[us]")
    assert _norm_column(micros) == _norm_column(frame["t"])


def test_workloads_match_benchmark_json():
    recorded = {w["name"]: w["why"] for w in BENCH["workloads"]}
    assert set(recorded) == set(WORKLOADS)
    for name, why in recorded.items():
        assert why.strip() and "\n" not in why, name


def test_end_to_end_metric_names_match_benchmark_json():
    want = {m["name"] for m in BENCH["end_to_end"]}
    units = run.batch_units([[{"name": "q", "s": 1.0, "cpu_s": 3.0, "ok": True}]])
    printed = run.end_to_end(units, [2.0, 1.0, 1.0], 100.0)
    assert want <= set(printed)
    assert all(printed[name][0] > 0 for name in want)


def test_measured_pass_count_depends_on_seconds_only():
    for spec in WORKLOADS.values():
        assert run.measured_passes(spec, BENCH["run_seconds"]) >= 1
        assert run.measured_passes(spec, 1e-3) == 1
    spec = {"pass_s": 10.0}
    assert [run.measured_passes(spec, s) for s in (5, 20, 31)] == [1, 2, 3]


@pytest.mark.parametrize("drained", [False, True])
def test_per_layer_metric_names_match_benchmark_json(drained, tmp_path):
    want = {m["name"] for m in BENCH["per_layer"]}
    stages = dict.fromkeys(tracing.SparkProbe.STAGE_FIELDS, 0)
    op = {"name": "q", "s": 1.0, "build_s": 0.5, "exec_s": 0.5, "build_jobs": 1, "exec_jobs": 2, "ok": True}
    unit = {"ops": [op], "s": 1.0}
    if drained:
        unit["drain"] = {"batches": [1.0, 2.0], "input_rows": 4, "docs": 2, "warehouse": str(tmp_path)}
    printed = run.layer_figures(unit, tracing.LayerTimer(), stages, 0.1, [1.0])
    assert set(printed) == want
    assert (printed["streaming.source_rows_per_doc"][0] > 0) == drained
    shares = run.trace_shares(unit, printed, 0.05, 4)
    assert shares["build"] == shares["exec"] == 0.5
    assert shares["floor_share"] == {"q": 0.15}
