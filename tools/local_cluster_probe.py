"""Multi-executor (local-cluster) validation probe — VERDICT r9 ask #3.

Every other proof in this repo runs inside ONE JVM (``local[N]``), where
broadcast shipping, block locality and Python-worker memory accounting
are all degenerate.  This probe runs the engine's load-bearing paths on
``local-cluster[2,4,2048]`` — two separate executor JVMs with their own
block managers and Python workers on this host — and prints ONE JSON
line of results for tests/test_local_cluster.py to compare against the
same computations under the in-process ``local[*]`` session.

Covered (the VERDICT's list): dense selector fit on every pack route
(auto→direct / scan), the packed distributed-merge regime
(driver-merge bound forced to 0 so partials flow through combineByKey
across REAL executor boundaries), the sparse selector (zipper-join
co-location check under multi-executor AQE), a wide fit, LSH dedup
pairs, and a streaming op (availableNow dedup with bounded state).

Usage: ``python tools/local_cluster_probe.py <config.json>`` where the
config carries input paths; results go to stdout as the LAST line.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

# run as `python tools/local_cluster_probe.py`: sys.path[0] is tools/,
# so the repo root (the package home) must be added for the DRIVER; the
# executors get it via spark.executorEnv.PYTHONPATH below
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _pairs_digest(rows) -> str:
    payload = sorted(
        (int(r["doc_a"]), int(r["doc_b"]), round(float(r["jaccard"]), 6))
        for r in rows
    )
    return hashlib.md5(json.dumps(payload).encode()).hexdigest()


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)

    from pyspark.sql import SparkSession

    # executor JVMs spawn their own Python workers in their own work
    # dirs — unlike local[N] they do NOT inherit the driver's sys.path,
    # so the repo root must ride along explicitly
    spark = (
        SparkSession.builder.master("local-cluster[2,4,2048]")
        .appName("local_cluster_probe")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "1536m")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    out: dict = {}

    from unittest import mock

    from pyspark.sql import functions as F

    from flink_infotheoretic_feature_selection_spark.operators import histogram
    from flink_infotheoretic_feature_selection_spark.operators.dedup import minhash_lsh_pairs
    from flink_infotheoretic_feature_selection_spark.plans import inspect as plans_inspect
    from flink_infotheoretic_feature_selection_spark.selector import (
        InfoThSelector,
        SparseInfoThSelector,
    )

    def q5_path(model):
        return [[c, round(float(s), 5)] for c, s in model.selection_path]

    # -- dense fit on both pack routes (bit-identity asserted HERE, the
    #    parent compares the auto row against local[*]) ------------------
    matrix = cfg["matrix"]
    feats = cfg["feats"]
    bare = spark.read.parquet(matrix)
    # every fit in this probe is about executor boundaries: the local
    # route would read its small input onto the driver, so it is off
    InfoThSelector.LOCAL_MAX_BYTES = 0

    def dense_fit():
        return InfoThSelector(
            n_to_select=4, criterion="mrmr", feature_cols=feats, emit_f32=False
        ).fit(bare)

    m = dense_fit()
    out["dense_auto_route"] = m.fit_timings.get("pack_route")
    sels = {"auto": q5_path(m)}
    # the scan pack on the same bare matrix: the bare-scan probe patched
    # to find nothing sends fit() down the mapInArrow pack
    with mock.patch.object(plans_inspect, "bare_parquet_scan_files", return_value=None):
        m = dense_fit()
    assert m.fit_timings["pack_route"] == "scan"
    sels["scan"] = q5_path(m)
    assert sels["auto"] == sels["scan"], sels
    out["dense_selection"] = sels["auto"]
    # sampled AFTER real jobs so both executor JVMs have registered
    # (right at startup the status tracker may only know the driver)
    import time as _time

    for _ in range(60):
        n_exec = len(
            spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
        )
        if n_exec >= 3:
            break
        _time.sleep(1)
    out["n_executors"] = n_exec

    # -- distributed-merge regime across real executor boundaries -------
    histogram.BLOB_DRIVER_MERGE_MAX_BYTES = 0
    try:
        with mock.patch.object(plans_inspect, "bare_parquet_scan_files", return_value=None):
            m = dense_fit()
        out["distmerge_selection"] = q5_path(m)
    finally:
        histogram.BLOB_DRIVER_MERGE_MAX_BYTES = 32 << 20

    # -- wide fit (column-count fast path + direct pack) ----------------
    wide = cfg.get("wide_matrix")
    if wide:
        wf = cfg["wide_feats"]
        m = InfoThSelector(
            n_to_select=3, criterion="cmim", feature_cols=wf, emit_f32=False
        ).fit(spark.read.parquet(wide).select(*wf, "label"))
        out["wide_route"] = m.fit_timings.get("pack_route")
        out["wide_selection"] = q5_path(m)

    # -- sparse fit: zipper-join co-location under multi-executor AQE ---
    nz = spark.read.parquet(cfg["sparse_nonzeros"])
    labels = spark.read.parquet(cfg["sparse_labels"])
    m = SparseInfoThSelector(
        n_features=cfg["sparse_nf"], n_to_select=3, criterion="mrmr",
        emit_f32=False,
    ).fit(nz, labels)
    out["sparse_route"] = m.fit_timings["sparse_route"]
    out["sparse_selection"] = q5_path(m)

    # -- LSH dedup pairs over the shared testdata corpus ----------------
    pairs = minhash_lsh_pairs(spark, cfg["sf_dir"]).collect()
    out["lsh_pairs"] = len(pairs)
    out["lsh_digest"] = _pairs_digest(pairs)

    # -- streaming dedup (availableNow, bounded state) ------------------
    from flink_infotheoretic_feature_selection_spark.streaming.ops import streaming_dedup

    events_dir = cfg["events_dir"]
    schema = spark.read.parquet(events_dir).schema
    # pyarrow writes naive timestamps as TIMESTAMP_NTZ; watermarks
    # require TIMESTAMP — cast at the stream head
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("lc_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out["stream_dedup_rows"] = spark.table("lc_dedup").count()

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1])
