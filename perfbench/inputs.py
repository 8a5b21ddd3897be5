"""Seeded benchmark inputs and their expected outputs, cached on disk.

Every workload's input is a pure function of ``(workload, seed)``: the
seed permutes the rows of one fixed base table, ``base/lineitem.parquet``,
a fixed 120,000-row sample of TPC-H sf0.1 ``lineitem`` (see
:func:`make_base`).  Each seed thus asks for the same work — the same
histograms, selection path and number of loop passes — in another physical
row order (which moves partition contents and the discretizer's sample),
so the spread between seeds measures the system rather than the data.
The input is generated once, outside any timed or set-up window, into
``<work>/data/<workload>-s<seed>/`` together with ``expected.json``, the
selection the NumPy oracle derives from the same data.  A directory is
published with an atomic rename, so an interrupted generation never leaves
a partial cache behind.

    python3 perfbench/inputs.py <sf0.1>/lineitem.parquet   # re-make the base table
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import greedy_select

#: Bump when any generator's output changes, so stale caches are never read.
GEN = 3
BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base", "lineitem.parquet")
#: Seed of the row sample :func:`make_base` draws.
BASE_SEED = 20261017
LINEITEM_ROWS = 120_000

#: The lineitem columns the feature spec and the discretize workload read.
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_shipdate",
]
#: The eight raw lineitem numerics the discretize workload buckets.
RAW_NUMERICS = LINEITEM_COLUMNS[:8]
#: Features of the sparse workload: the first 16 derived features.
SPARSE_FEATURES = 16

# (n_to_select, criterion) per workload; the workloads fit exactly these.
FITS = {
    "tall_derived": (10, "mrmr"),
    "discretize_mim": (4, "mim"),
    "sparse_long": (5, "mrmr"),
}


def make_base(source: str, out: str = BASE, rows: int = LINEITEM_ROWS) -> None:
    """Write the base table: ``rows`` rows of ``source`` drawn without
    replacement under :data:`BASE_SEED`, in their original order."""
    t = pq.read_table(source, columns=LINEITEM_COLUMNS)
    idx = np.sort(np.random.default_rng(BASE_SEED).choice(t.num_rows, rows, replace=False))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pq.write_table(t.take(idx), out, compression="zstd", compression_level=19)


def lineitem_table(seed: int, rows: int | None = None) -> pa.Table:
    """The base table's rows (the first ``rows`` of them, if given) in the
    order seed ``seed`` permutes them to."""
    t = pq.read_table(BASE)
    if rows is not None:
        t = t.slice(0, rows)
    return t.take(np.random.default_rng(seed).permutation(t.num_rows))


def feature_matrix(lineitem_path: str) -> tuple[list[np.ndarray], np.ndarray]:
    """The 32 derived features and the label, evaluated by DuckDB from the
    SQL spec the program documents for its ``features_dense`` fixture."""
    import duckdb

    from flink_infotheoretic_feature_selection_spark.datasets import (
        FEATURE_NAMES,
        features_select_duckdb,
    )

    con = duckdb.connect()
    try:
        t = con.sql(
            f"SELECT {features_select_duckdb()} FROM read_parquet('{lineitem_path}')"
        ).arrow()
    finally:
        con.close()
    cols = [t[name].to_numpy().astype(np.int64) for name in FEATURE_NAMES]
    return cols, t["label"].to_numpy().astype(np.int64)


def _label_codes(flag: np.ndarray) -> np.ndarray:
    return np.where(flag == "A", 0, np.where(flag == "N", 1, 2)).astype(np.int64)


def write_sparse_long(cols: list[np.ndarray], label: np.ndarray, out: str) -> None:
    """The long format ``SparseInfoThSelector`` reads: ``nonzeros.parquet``
    (row_id, feat, x) holding the cells with x != 0, ``labels.parquet``
    (row_id, y)."""
    n = len(label)
    x = np.stack(cols, axis=1).astype(np.int32)
    row_id, feat = np.nonzero(x)
    pq.write_table(
        pa.table(
            {
                "row_id": row_id.astype(np.int64),
                "feat": feat.astype(np.int32),
                "x": x[row_id, feat],
            }
        ),
        f"{out}/nonzeros.parquet",
    )
    pq.write_table(
        pa.table({"row_id": np.arange(n, dtype=np.int64), "y": label.astype(np.int32)}),
        f"{out}/labels.parquet",
    )


def _generate(workload: str, seed: int, out: str, rows: int | None) -> None:
    k, criterion = FITS[workload]
    expected: dict = {"n_to_select": k, "criterion": criterion}
    t = lineitem_table(seed, rows)
    # one row group, as in the source file: the program sees a
    # parallelism-starved scan, which is what a single lineitem file
    # looks like to it
    pq.write_table(t, f"{out}/lineitem.parquet", row_group_size=t.num_rows)
    expected["rows"] = t.num_rows
    if workload == "discretize_mim":
        # the expected selection depends on the split points the
        # discretizer learns from its own sample; the check buckets these
        # raw values with those splits (oracle.bucketize)
        np.savez(
            f"{out}/raw.npz",
            label=_label_codes(t["l_returnflag"].to_numpy(zero_copy_only=False)),
            **{c: t[c].to_numpy() for c in RAW_NUMERICS},
        )
    else:
        cols, label = feature_matrix(f"{out}/lineitem.parquet")
        if workload == "sparse_long":
            cols = cols[:SPARSE_FEATURES]
            write_sparse_long(cols, label, out)
            os.remove(f"{out}/lineitem.parquet")
        path = greedy_select(cols, label, k, criterion)
        expected["selection"] = [f"f{j}" for j in path]
    with open(f"{out}/expected.json", "w") as fh:
        json.dump(expected, fh, indent=1)


def prepare(workload: str, seed: int, work: str, rows: int | None = None) -> str:
    """Return the cached input directory for ``(workload, seed)``,
    generating it first if absent.  ``rows`` cuts the base table short
    (the benchmark's own tests run on small inputs)."""
    tag = "" if rows is None else f"-r{rows}"
    out = os.path.join(work, "data", f"{workload}-s{seed}{tag}-g{GEN}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _generate(workload, seed, tmp, rows)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    make_base(sys.argv[1])
