"""Sparse columnar histogram path — implicit zeros done right.

The reference *declares* a sparse path but it is broken: `trainOn` throws
for sparse input (``InfoSelector.scala:378-386``) and its sparse
``getRedundancies`` contains an always-false comparison
(``InfoTheory.scala:252``, Int == DataSet).  We implement the semantics it
*intended* — absent entries are value 0, credited in bulk
(``InfoTheory.scala:296-304`` for 2-D, ``:377-384`` for 3-D) — as pure
DataFrame aggregations, which unlike the reference's
one-dense-vector-per-feature design (``InfoSelector.scala:459-470``)
scales to any row count.

Input layout (long format): one row per *nonzero* cell
``(row_id long, feat int, x tinyint/int)`` plus a per-row label table
``(row_id, y)`` (and optionally the z column for 3-D).

Zero-crediting algebra (per feature):
    count(x=0, y)    = N_y    − Σ_{x≠0} count(x, y)
    count(x=0, y, z) = N_{yz} − Σ_{x≠0} count(x, y, z)
where N_y / N_yz are the label(-pair) histograms over ALL rows — the
reference's broadcast y-histogram trick, here an outer join against the
(tiny) per-feature nonzero aggregate.

Every step is a hash aggregation or a broadcast-able join on small keys;
shuffle volume is O(nonzeros + n_features × dims) — never row count.

For inputs small enough to hold on the driver, :func:`densify_long`
turns the collected long-format cells into the dense byte block the
dense selector's local stages run on (``SparseInfoThSelector``'s local
route); :func:`check_cells` is the cell contract every route enforces.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sparse_hist2d",
    "sparse_hist3d",
    "matrix_to_sparse_long",
    "check_cells",
    "densify_long",
]


def check_cells(
    n_features: int,
    n_null: int,
    feat_lo: int | None,
    feat_hi: int | None,
    x_lo: int | None,
    over: dict[int, int],
) -> None:
    """The sparse cell contract, checked in one order by every route of
    ``SparseInfoThSelector`` from its own aggregates of the cells that
    carry a label: no NULL ``feat``/``x`` (``n_null``), ``feat`` in
    ``[0, n_features)``, no feature dim over 256 (``over`` maps feature
    → ``max(x)+1``; a corrupt cell would otherwise size every table by
    it) and no negative ``x`` (NumPy indexing would wrap it to the end
    of the histogram).  ``None`` bounds mean there were no such cells."""
    if n_null:
        raise ValueError(
            f"sparse nonzeros contain NULL feat or x values ({n_null} cells)"
        )
    if feat_lo is not None and (feat_lo < 0 or feat_hi >= n_features):
        raise ValueError(
            f"sparse feat indices must lie in [0, n_features={n_features}); "
            f"got feat values from {feat_lo} to {feat_hi}"
        )
    if over:
        raise ValueError(
            f"sparse feature values exceed the byte range (dim>256): {over}"
        )
    if x_lo is not None and x_lo < 0:
        raise ValueError("sparse histogram indices must be >= 0")


def _int_array(col) -> np.ndarray:
    """Arrow integer column → int64 NumPy, NULLs as 0 (callers mask them)."""
    return col.fill_null(0).to_numpy().astype(np.int64, copy=False)


def densify_long(
    labels: pa.Table, cells: pa.Table, n_features: int
) -> tuple[np.ndarray, np.ndarray]:
    """Collected long-format input → ``(block, y)``: a ``uint8``
    ``n_features × n`` matrix holding every label row's feature values
    (absent cells are 0) and the ``uint8`` labels of those ``n`` rows.

    Same semantics as the SQL route's inner join on ``row_id``: a cell
    whose ``row_id`` has no label row (or is NULL) is dropped, a cell
    whose ``row_id`` repeats in ``labels`` fills every such row, and a
    label row with no cell is all zeros.  Block rows follow the label
    rows sorted by ``row_id`` (NULL ids last); histograms do not depend
    on row order.  Labels must already satisfy the label contract (the
    selector checks it on its label-histogram job first).

    Cells are scattered one Arrow record batch at a time, so the
    temporaries stay batch-sized.  Raises :func:`check_cells`' errors,
    and the duplicate-cell error when two nonzero cells hit one
    ``(row, feat)`` slot (the block then holds fewer nonzeros than the
    cells)."""
    nf = int(n_features)
    n = labels.num_rows
    ids_col = labels.column("row_id")
    keyed = ids_col.is_valid().to_numpy(zero_copy_only=False)
    ids = _int_array(ids_col)
    order = np.flatnonzero(keyed)
    order = order[np.argsort(ids[order], kind="stable")]
    sorted_ids = ids[order]
    y = _int_array(labels.column("y"))[
        np.concatenate([order, np.flatnonzero(~keyed)])
    ].astype(np.uint8)

    block = np.zeros((nf, n), dtype=np.uint8)
    want = np.zeros(nf, dtype=np.int64)  # nonzero cells per feature
    n_null = 0
    feat_lo = feat_hi = x_lo = None
    over_f: list[np.ndarray] = []
    over_x: list[np.ndarray] = []
    for b in cells.to_batches():
        rid = b.column("row_id")
        r = _int_array(rid)
        lo = np.searchsorted(sorted_ids, r, "left")
        rep = np.searchsorted(sorted_ids, r, "right") - lo
        if rid.null_count:
            rep[~rid.is_valid().to_numpy(zero_copy_only=False)] = 0
        f_col, x_col = b.column("feat"), b.column("x")
        null = np.zeros(len(r), dtype=bool)
        for c in (f_col, x_col):
            if c.null_count:
                null |= ~c.is_valid().to_numpy(zero_copy_only=False)
        n_null += int(np.count_nonzero(null & (rep > 0)))
        # one entry per (cell, label row with its row_id): the join
        tot = int(rep.sum())
        row = np.repeat(lo, rep) + (np.arange(tot) - np.repeat(np.cumsum(rep) - rep, rep))
        keep = ~np.repeat(null, rep)
        f = np.repeat(_int_array(f_col), rep)[keep]
        x = np.repeat(_int_array(x_col), rep)[keep]
        if not f.size:
            continue
        row = row[keep]
        lo_f, hi_f, lo_x = int(f.min()), int(f.max()), int(x.min())
        feat_lo = lo_f if feat_lo is None else min(feat_lo, lo_f)
        feat_hi = hi_f if feat_hi is None else max(feat_hi, hi_f)
        x_lo = lo_x if x_lo is None else min(x_lo, lo_x)
        big = x > 255
        if big.any():
            over_f.append(f[big])
            over_x.append(x[big])
        if n_null or feat_lo < 0 or feat_hi >= nf or x_lo < 0 or over_f:
            continue  # the input is rejected below; stop filling
        nz = x != 0
        want += np.bincount(f[nz], minlength=nf)
        block[f[nz], row[nz]] = x[nz]

    over: dict[int, int] = {}
    if over_f:
        fo, xo = np.concatenate(over_f), np.concatenate(over_x)
        over = {int(g): int(xo[fo == g].max()) + 1 for g in np.unique(fo)}
    check_cells(nf, n_null, feat_lo, feat_hi, x_lo, over)
    dup = np.flatnonzero(np.count_nonzero(block, axis=1) != want)
    if dup.size:
        raise ValueError(
            f"feature {int(dup[0])} has duplicate (row_id, feat) cells: "
            f"{int(want[dup[0]])} nonzero cells fill "
            f"{int(np.count_nonzero(block[dup[0]]))} label rows"
        )
    return block, y


def matrix_to_sparse_long(
    matrix: DataFrame, feats: list[str], label_col: str = "label"
):
    """Derive the sparse long-format input from a wide matrix.

    Returns ``(base, nonzeros, labels)`` where ``base`` is PERSISTED and
    must be unpersisted by the caller after the fit: ``nonzeros`` and
    ``labels`` are two separate subplans over the same
    ``monotonically_increasing_id`` — without the persist each would
    re-evaluate the nondeterministic id assignment independently (task
    retry, partition-layout change) and could pair cells with the wrong
    labels.
    """
    from pyspark.storagelevel import StorageLevel

    base = matrix.select(
        F.monotonically_increasing_id().alias("row_id"),
        *[F.col(c).cast("int").alias(c) for c in feats],
        F.col(label_col).cast("int").alias("y"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nonzeros = base.select(
        "row_id", F.posexplode(F.array(*feats)).alias("feat", "x")
    ).filter(F.col("x") != 0)
    labels = base.select("row_id", "y")
    return base, nonzeros, labels


def sparse_hist2d(nonzeros: DataFrame, labels: DataFrame, n_features: int) -> DataFrame:
    """2-D contingency tables from sparse long format.

    nonzeros: (row_id, feat, x≠0); labels: (row_id, y).
    Returns (feat, x, y, cnt) including the credited x=0 cells,
    for ALL features 0..n_features-1 (features with no nonzeros get
    the full label histogram at x=0).
    """
    spark = nonzeros.sparkSession
    # nonzero cells joined with their row's label — shuffle on row_id,
    # the only data-sized join; Catalyst/AQE picks the strategy.
    nz = (
        nonzeros.join(labels, "row_id")
        .groupBy("feat", "x", "y")
        .agg(F.count("*").alias("cnt"))
    )
    # per-(feat, y) nonzero totals, to subtract from the label histogram
    nz_per_y = nz.groupBy("feat", "y").agg(F.sum("cnt").alias("nz_cnt"))
    y_hist = labels.groupBy("y").agg(F.count("*").alias("n_y"))  # tiny
    feats = spark.range(n_features).select(F.col("id").cast("int").alias("feat"))
    # credited zeros: every (feat, y) cell, minus that feature's nonzeros in y
    zeros = (
        feats.crossJoin(F.broadcast(y_hist))
        .join(nz_per_y, ["feat", "y"], "left")
        .select(
            "feat",
            F.lit(0).alias("x"),
            "y",
            (F.col("n_y") - F.coalesce(F.col("nz_cnt"), F.lit(0))).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    return nz.select("feat", "x", "y", "cnt").unionByName(zeros)


def sparse_hist3d(
    nonzeros: DataFrame, labels: DataFrame, z_col: DataFrame, n_features: int
) -> DataFrame:
    """3-D contingency tables from sparse long format.

    nonzeros: (row_id, feat, x≠0); labels: (row_id, y); z_col: (row_id, z).
    Returns (feat, x, y, z, cnt) with credited x=0 cells
    (``InfoTheory.scala:377-384`` zero-credit semantics).
    """
    spark = nonzeros.sparkSession
    yz = labels.join(z_col, "row_id")  # (row_id, y, z)
    nz = (
        nonzeros.join(yz, "row_id")
        .groupBy("feat", "x", "y", "z")
        .agg(F.count("*").alias("cnt"))
    )
    nz_per_yz = nz.groupBy("feat", "y", "z").agg(F.sum("cnt").alias("nz_cnt"))
    yz_hist = yz.groupBy("y", "z").agg(F.count("*").alias("n_yz"))  # tiny
    feats = spark.range(n_features).select(F.col("id").cast("int").alias("feat"))
    zeros = (
        feats.crossJoin(F.broadcast(yz_hist))
        .join(nz_per_yz, ["feat", "y", "z"], "left")
        .select(
            "feat",
            F.lit(0).alias("x"),
            "y",
            "z",
            (F.col("n_yz") - F.coalesce(F.col("nz_cnt"), F.lit(0))).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    return nz.select("feat", "x", "y", "z", "cnt").unionByName(zeros)
