"""local-cluster[2,4,2048] validation lane (r10, VERDICT ask #3).

Every other test runs in one JVM (``local[N]``); this lane runs the
engine's load-bearing paths with TWO separate executor JVMs — real
broadcast shipping, per-executor block managers, out-of-process Python
workers — via ``tools/local_cluster_probe.py`` in a subprocess (one
SparkSession per process; the conftest session owns this one), then
compares every result against the SAME computation under the in-process
``local[*]`` session.  Equality across deployment modes is the claim
the 100 TB story rests on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_infotheoretic_feature_selection_spark.operators.dedup import minhash_lsh_pairs
from flink_infotheoretic_feature_selection_spark.selector import (
    InfoThSelector,
    SparseInfoThSelector,
)

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NF, N_ROWS = 12, 5000
WIDE_NF, WIDE_ROWS = 120, 1500


def _write_matrix(path, nf, n, seed):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 3, size=n)
    cols = {}
    for j in range(nf):
        dim = 2 + j % 6
        vals = np.where(rng.random(n) < 0.5, y % dim, rng.integers(0, dim, n))
        cols[f"f{j}"] = pa.array(vals.astype(np.int32))
    cols["label"] = pa.array(y.astype(np.int32))
    pq.write_table(pa.table(cols), str(path), row_group_size=1024)
    return [f"f{j}" for j in range(nf)]


def _q5_path(model):
    return [[c, round(float(s), 5)] for c, s in model.selection_path]


def _load_probe_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "local_cluster_probe", os.path.join(ROOT, "tools", "local_cluster_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_local_cluster_matches_local_mode(spark, tmp_path):
    matrix = tmp_path / "m.parquet"
    feats = _write_matrix(matrix, NF, N_ROWS, seed=101)
    wide = tmp_path / "w.parquet"
    wide_feats = _write_matrix(wide, WIDE_NF, WIDE_ROWS, seed=102)

    # sparse long-format twin of the dense matrix (implicit zeros)
    mdf = spark.read.parquet(str(matrix))
    from pyspark.sql import functions as F

    base = mdf.select(
        F.monotonically_increasing_id().alias("row_id"), "*"
    ).persist()
    stack = ", ".join(f"{j}, f{j}" for j in range(NF))
    nonzeros = base.selectExpr(
        "row_id", f"stack({NF}, {stack}) AS (feat, x)"
    ).filter("x != 0")
    labels = base.select("row_id", F.col("label").alias("y"))
    nz_path, lab_path = tmp_path / "nz.parquet", tmp_path / "lab.parquet"
    nonzeros.write.parquet(str(nz_path))
    labels.write.parquet(str(lab_path))
    base.unpersist()

    # events with duplicate ids for the streaming-dedup count
    rng = np.random.default_rng(103)
    ev = pa.table(
        {
            "event_id": pa.array(rng.integers(0, 800, size=2000).astype(np.int64)),
            "ts": pa.array(
                np.datetime64("2025-01-01T00:00:00")
                + rng.integers(0, 3600, size=2000).astype("timedelta64[s]")
            ),
        }
    )
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    pq.write_table(ev, str(events_dir / "ev.parquet"))

    # ---- expectations under the in-process local[*] session ------------
    exp_dense = _q5_path(
        InfoThSelector(
            n_to_select=4, criterion="mrmr", feature_cols=feats, emit_f32=False
        ).fit(mdf)
    )
    exp_wide = _q5_path(
        InfoThSelector(
            n_to_select=3, criterion="cmim", feature_cols=wide_feats, emit_f32=False
        ).fit(spark.read.parquet(str(wide)).select(*wide_feats, "label"))
    )
    exp_sparse = _q5_path(
        SparseInfoThSelector(
            n_features=NF, n_to_select=3, criterion="mrmr", emit_f32=False
        ).fit(spark.read.parquet(str(nz_path)), spark.read.parquet(str(lab_path)))
    )
    lsh_rows = minhash_lsh_pairs(spark, SF_DIR).collect()
    _pairs_digest = _load_probe_module()._pairs_digest

    exp_events = (
        spark.read.parquet(str(events_dir)).select("event_id").distinct().count()
    )

    # ---- run the probe on local-cluster[2,4,2048] -----------------------
    cfg = {
        "matrix": str(matrix),
        "feats": feats,
        "wide_matrix": str(wide),
        "wide_feats": wide_feats,
        "sparse_nonzeros": str(nz_path),
        "sparse_labels": str(lab_path),
        "sparse_nf": NF,
        "sf_dir": SF_DIR,
        "events_dir": str(events_dir),
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "local_cluster_probe.py"), str(cfg_path)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    # 2 executor JVMs + the driver
    assert got["n_executors"] == 3, got
    assert got["dense_auto_route"] == "direct"
    assert got["dense_selection"] == exp_dense
    assert got["distmerge_selection"] == exp_dense
    assert got["wide_route"] == "direct"
    assert got["wide_selection"] == exp_wide
    assert got["sparse_route"] == "sql"  # distributed, not collected
    assert got["sparse_selection"] == exp_sparse
    assert got["lsh_pairs"] == len(lsh_rows)
    assert got["lsh_digest"] == _pairs_digest(lsh_rows)
    assert got["stream_dedup_rows"] == exp_events


def test_executor_loss_recomputes_packed_blocks_bit_identically(spark, tmp_path):
    # r11 (VERDICT ask #4): the persisted packed-block RDD must survive
    # executor death — once with the cached blocks already materialized
    # (pure lineage-recompute lane) and once SIGKILLed mid-fit (task
    # retry lane).  Selection must be bit-identical to the undisturbed
    # reference in both.  120k x 48 keeps the reference fit ~5 s on the
    # two 4-core executors so the 40%-mark kill lands inside the loop.
    matrix = tmp_path / "ft.parquet"
    feats = _write_matrix(matrix, nf=48, n=120_000, seed=104)
    cfg = {"matrix": str(matrix), "feats": feats, "k": 8}
    cfg_path = tmp_path / "ftcfg.json"
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "executor_kill_probe.py"), str(cfg_path)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["executors_before"] == 2, got
    assert got["lane1_killed_pid"], got
    assert got["lane1_selection"] == got["ref_selection"], got
    assert got["lane2_selection"] == got["ref_selection"], got
    # the mid-loop lane only proves something if the kill preceded fit end
    assert got["lane2_killed_pid"] and got["lane2_killed_before_fit_end"], got
