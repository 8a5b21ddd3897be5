"""Order-of-magnitude scale proof for the flagship selector (round 5).

Builds a deterministic 10x replica of the sf0.1 lineitem table (~6M
rows, "sf1") and runs the mRMR k=10 greedy fit on it, recording:

- wall time + per-iteration time vs the sf0.1 record (BASELINE.md);
- WHICH loop-pass merge path engaged: the driver merge is used
  only while ``partitions x sum(xdims) x y_dim x z_dim x 4B`` stays
  under BLOB_DRIVER_MERGE_MAX_BYTES (32 MB); at sf1 the loop cache
  re-lays-out to defaultParallelism partitions and the volume crosses
  the bound, so the shuffled merge — the 100 TB path — must take over.  This script computes the exact bound inputs and
  prints the engaged path per iteration shape.
- selection-path invariance: row duplication scales every contingency
  count uniformly, so MI/CMI and therefore the greedy path must be
  IDENTICAL to sf0.1 — a correctness check at scale for free.

Usage: python tools/scale_proof_sf1.py [src_sf_dir] [out_dir] [copies]
       (defaults: /root/testdata/sf0.1 /tmp/sf1 10)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_sf1(src: str, out: str, copies: int) -> int:
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    dst = f"{out}/lineitem.parquet"
    t = pq.read_table(f"{src}/lineitem.parquet")
    writer = pq.ParquetWriter(dst, t.schema)
    for _ in range(copies):
        writer.write_table(t)
    writer.close()
    return t.num_rows * copies


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    n_rows = build_sf1(src, out, copies)
    print(f"built {out}/lineitem.parquet rows={n_rows}", flush=True)

    from flink_infotheoretic_feature_selection_spark.datasets import FEATURE_NAMES, features_dense
    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        BLOB_DRIVER_MERGE_MAX_BYTES,
        feature_dims,
    )
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector
    from flink_infotheoretic_feature_selection_spark.session import get_spark

    spark = get_spark("scale_proof", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # reference selection path at the source SF (cheap: 600k rows)
    ref_model = InfoThSelector(n_to_select=10, criterion="mrmr").fit(
        features_dense(spark, src)
    )

    df = features_dense(spark, out)
    t0 = time.perf_counter()
    model = InfoThSelector(n_to_select=10, criterion="mrmr").fit(df)
    wall = time.perf_counter() - t0

    # replay the merge-path decision with the exact formula the loop uses
    dims = feature_dims(df, FEATURE_NAMES + ["label"])
    sc = spark.sparkContext
    target = max(
        1,
        min(-(-n_rows // InfoThSelector.LOOP_ROWS_PER_PARTITION), sc.defaultParallelism),
    )
    # first iteration: 31 remaining features, y = the first selected
    best0 = model.selection_path[0][0]
    xsum = sum(dims[c] for c in FEATURE_NAMES if c != best0)
    blob_bytes = target * xsum * dims[best0] * dims["label"] * 4
    path = "driver" if blob_bytes <= BLOB_DRIVER_MERGE_MAX_BYTES else "distributed"

    same_path = [
        (c, round(s, 5)) for c, s in model.selection_path
    ] == [(c, round(s, 5)) for c, s in ref_model.selection_path]

    print(
        json.dumps(
            {
                "sf1_rows": n_rows,
                "mrmr_k10_sec": round(wall, 2),
                # honest split: setup (pack/stats) vs the loop — wall/k
                # overstated per-iteration cost by folding setup into it
                "fit_timings": model.fit_timings,
                "per_iter_sec": round(
                    model.fit_timings["loop_sec"]
                    / max(model.fit_timings["iterations"], 1),
                    2,
                ),
                "loop_partitions": model.fit_timings.get("loop_partitions", target),
                "iter1_blob_mb": round(blob_bytes / (1 << 20), 1),
                "blob_bound_mb": BLOB_DRIVER_MERGE_MAX_BYTES >> 20,
                "merge_path": path,
                "selection_path_matches_sf0.1": same_path,
                "selection_path": [(c, round(s, 5)) for c, s in model.selection_path],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
