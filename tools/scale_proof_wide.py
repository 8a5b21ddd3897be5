"""Reference-shaped WIDE-matrix bench for the greedy selector (round 7).

Every loop bench runs the 32-feature lineitem matrix, but the
reference's own default workload is 631 attributes x ~8k rows
(``InfoSelectorTest.scala:102-103``) — the regime where the greedy
loop's per-iteration cost is linear in the REMAINING features and the
blob volume grows with features x dims^2.  This script builds that
shape (plus the README toy: 100 features x 100k rows), runs mRMR k=10,
and records which loop-pass merge route engages (driver merge vs the
shuffled merge — the decision formula from
``histogram.py::BLOB_DRIVER_MERGE_MAX_BYTES``).

Deterministic synthetic data (seeded numpy): feature j has dim
``2 + j % 7``; a quarter of the features carry label signal (value
correlated with y), the rest are noise — so relevances spread and the
greedy path is non-degenerate.

Usage: python tools/scale_proof_wide.py [out_dir]   (default /tmp/wide)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Generation token baked into cached-matrix filenames: bump whenever
# build_matrix's output changes so stale /tmp caches from older code
# can never be silently benched (r9, advisor find on bench.py's reuse).
# gen 2: 64k-row parquet row groups — Spark splits parquet at row-group
# boundaries only, so the gen-1 single-group layout made any matrix
# over ~64k rows scan (and pack) on ONE task regardless of size.
# Values are unchanged (same seed/rng draw order).
MATRIX_GEN = 2


def matrix_path(out: str, n_rows: int, n_feats: int, seed: int) -> str:
    return f"{out}/matrix_{n_feats}x{n_rows}_s{seed}_g{MATRIX_GEN}.parquet"


def build_matrix(out: str, n_rows: int, n_feats: int, seed: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 2, size=n_rows)
    cols = {}
    for j in range(n_feats):
        dim = 2 + j % 7
        if j % 4 == 0:  # signal feature: leaks y with feature-dependent noise
            noise = rng.integers(0, dim, size=n_rows)
            flip = rng.random(n_rows) < (0.2 + 0.6 * (j % 8) / 8)
            cols[f"f{j}"] = np.where(flip, noise, y % dim).astype(np.int32)
        else:
            cols[f"f{j}"] = rng.integers(0, dim, size=n_rows).astype(np.int32)
    cols["label"] = y.astype(np.int32)
    path = matrix_path(out, n_rows, n_feats, seed)
    os.makedirs(out, exist_ok=True)
    # write-then-rename: an interrupted run must never leave a truncated
    # file at the cached path (readers reuse whatever exists there)
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(pa.table(cols), tmp, row_group_size=65536)
    os.replace(tmp, path)
    return path


def run_case(spark, path: str, n_feats: int, n_rows: int, k: int) -> dict:
    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        BLOB_DRIVER_MERGE_MAX_BYTES,
    )
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

    feats = [f"f{j}" for j in range(n_feats)]
    df = spark.read.parquet(path)
    sel = InfoThSelector(
        n_to_select=k, criterion="mrmr", feature_cols=feats, emit_f32=False
    )
    t0 = time.perf_counter()
    model = sel.fit(df)
    wall = time.perf_counter() - t0

    # replay the merge-route decision for the FIRST loop iteration with
    # the loop's own formula (partitions x sum(xdims) x y_dim x z_dim x 4B)
    dims = {f"f{j}": 2 + j % 7 for j in range(n_feats)}
    sc = spark.sparkContext
    target = max(
        1,
        min(-(-n_rows // InfoThSelector.LOOP_ROWS_PER_PARTITION), sc.defaultParallelism),
    )
    n_parts = df.rdd.getNumPartitions()
    loop_parts = target if n_rows >= 2 * InfoThSelector.LOOP_ROWS_PER_PARTITION else n_parts
    best0 = model.selection_path[0][0]
    xsum = sum(dims[c] for c in feats if c != best0)
    blob_bytes = loop_parts * xsum * dims[best0] * 2 * 4
    return {
        "shape": f"{n_feats} feats x {n_rows} rows",
        "mrmr_k10_sec": round(wall, 2),
        # honest split: setup (pack/stats) vs the loop — wall/k folded
        # setup into "per-iteration" before fit_timings existed
        "fit_timings": model.fit_timings,
        "per_iter_sec": round(
            model.fit_timings["loop_sec"] / max(model.fit_timings["iterations"], 1), 2
        ),
        "loop_partitions": model.fit_timings.get("loop_partitions", loop_parts),
        "iter1_blob_mb": round(blob_bytes / (1 << 20), 2),
        "blob_bound_mb": BLOB_DRIVER_MERGE_MAX_BYTES >> 20,
        "merge_path": "driver" if blob_bytes <= BLOB_DRIVER_MERGE_MAX_BYTES else "distributed",
        "selection_head": [c for c, _ in model.selection_path[:5]],
    }


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/wide"
    from flink_infotheoretic_feature_selection_spark.session import get_spark

    spark = get_spark("scale_proof_wide", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Split the session's ONE-TIME Python-runner spin-up (daemon fork +
    # worker imports, ~2.5 s, schema-independent) out of the pack cost:
    # before r8 the first case's pack_sec absorbed it, reading as a
    # wide-schema penalty it isn't (measured: the width-dependent share
    # of the 631-col first pack is ~1 s plan + ~1.1 s per-pass transit).
    import time as _t

    def _noop(batches):
        yield from batches

    t0 = _t.perf_counter()
    spark.range(3).mapInArrow(_noop, "id long").collect()
    runner_init = round(_t.perf_counter() - t0, 2)

    # default cases: the reference's own test shape (631x8k,
    # InfoSelectorTest.scala:102-105) + a tall-narrow control.  Extra
    # argv pairs override, e.g. `scale_proof_wide.py /tmp/wide 600000 631`
    # = the FULL ECBDL14 shape the reference's dataset actually has
    # (the test file is an 8k subsample of a ~600k-row corpus).
    cases = ((8192, 631), (100_000, 100))
    if len(sys.argv) > 3:
        cases = tuple(
            (int(sys.argv[i]), int(sys.argv[i + 1]))
            for i in range(2, len(sys.argv) - 1, 2)
        )
    results = []
    for n_rows, n_feats in cases:
        path = build_matrix(out, n_rows, n_feats, seed=n_feats)
        cold = run_case(spark, path, n_feats, n_rows, k=10)
        warm = run_case(spark, path, n_feats, n_rows, k=10)
        assert warm["selection_head"] == cold["selection_head"]
        cold["pack_sec_warm_plan"] = warm["fit_timings"]["pack_sec"]
        results.append(cold)
        print(json.dumps(results[-1]), flush=True)
    print(
        json.dumps({"arrow_runner_init_sec": runner_init, "wide_matrix_proof": results}),
        flush=True,
    )


if __name__ == "__main__":
    main()
