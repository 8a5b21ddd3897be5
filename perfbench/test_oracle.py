"""The benchmark's own checks, at a small scale.

    python3 -m pytest perfbench -q

The NumPy oracle that produces every workload's expected selection is
re-derived here against the DuckDB oracles the program's correctness gates
use, on inputs from the benchmark's own generators.  The last test runs each
workload's request and check once through Spark on small inputs.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from oracle import bucketize, greedy_select  # noqa: E402


def _duckdb_path(sql: str, views: dict[str, str]) -> list[int]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return [int(r[0]) for r in con.sql(f"SELECT feat FROM ({sql}) ORDER BY step").fetchall()]
    finally:
        con.close()


@pytest.mark.parametrize("seed", [3, 4])
def test_tall_selection_matches_duckdb_oracle(tmp_path, seed):
    from __spark_entry__ import selection_oracle_sql

    path = str(tmp_path / "lineitem.parquet")
    pq.write_table(inputs.lineitem_table(seed, 4000), path)
    cols, label = inputs.feature_matrix(path)
    want = _duckdb_path(selection_oracle_sql(k=5, criterion="mrmr"), {"lineitem": path})
    assert greedy_select(cols, label, 5, "mrmr") == want


def test_sparse_long_holds_the_nonzero_cells(tmp_path):
    rng = np.random.default_rng(0)
    cols = [rng.integers(0, 3, size=50) for _ in range(4)]
    label = rng.integers(0, 2, size=50)
    inputs.write_sparse_long(cols, label, str(tmp_path))
    nz = pq.read_table(tmp_path / "nonzeros.parquet").to_pydict()
    dense = np.zeros((50, 4), dtype=np.int64)
    dense[nz["row_id"], nz["feat"]] = nz["x"]
    assert 0 not in nz["x"]
    assert np.array_equal(dense, np.stack(cols, axis=1))
    assert pq.read_table(tmp_path / "labels.parquet")["y"].to_pylist() == label.tolist()


def test_mim_is_top_k_relevance():
    rng = np.random.default_rng(0)
    label = rng.integers(0, 3, size=5000)
    cols = [np.where(rng.random(5000) < p, label, rng.integers(0, 3, 5000)) for p in (0.1, 0.5, 0.0, 0.3)]
    assert greedy_select(cols, label, 3, "mim") == [1, 3, 0]


def test_bucketize_follows_bucketizer_bounds():
    splits = [-np.inf, 1.0, 2.0, np.inf]
    got = bucketize(np.array([-5.0, 1.0, 1.5, 2.0, 9.0, np.inf]), splits)
    assert got.tolist() == [0, 1, 1, 2, 2, 2]


@pytest.mark.parametrize("name", sorted(inputs.FITS))
def test_workload_output_matches_oracle(tmp_path, name):
    from flink_infotheoretic_feature_selection_spark.session import get_spark
    from workloads import open_workload

    data = inputs.prepare(name, 7, str(tmp_path), rows=20_000)
    workload = open_workload(get_spark("perfbench-test", cpus=2), name, data)
    assert workload.check(workload.request()) is None


def test_splits_check_rejects_wrong_splits():
    from workloads import _splits_check

    rng = np.random.default_rng(1)
    raw = {c: rng.integers(0, 1000, size=4000).astype(np.float64) for c in inputs.RAW_NUMERICS}
    raw["l_tax"] = rng.integers(0, 5, size=4000) / 100.0
    good = {c: [-np.inf, *np.quantile(raw[c], np.arange(1, 8) / 8, method="lower"), np.inf] for c in raw}
    good["l_tax"] = [-np.inf, *np.unique(raw["l_tax"].astype(np.float32)).astype(np.float64), np.inf]
    assert _splits_check(raw, good, 8) is None
    skewed = dict(good, l_orderkey=[-np.inf, *np.quantile(raw["l_orderkey"], np.arange(1, 8) / 40, method="lower"), np.inf])
    assert "equal-frequency" in _splits_check(raw, skewed, 8)
    off = dict(good, l_partkey=[-np.inf, *(np.array(good["l_partkey"][1:-1]) + 0.5), np.inf])
    assert "not a value" in _splits_check(raw, off, 8)
    missing = dict(good, l_tax=good["l_tax"][:3] + [np.inf])
    assert "distinct values" in _splits_check(raw, missing, 8)
