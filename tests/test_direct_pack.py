"""Direct parquet pack (r9) — `PackedMatrix.pack_parquet` +
`InfoThSelector.fit_parquet`.

The direct route reads row groups with pyarrow straight into NumPy
blocks, skipping the DataFrame scan's JVM row round-trip (the dominant
cost on wide matrices — BASELINE r9).  These tests pin the contract
that makes it safe: bit-identical selection vs `fit` on the same file,
identical dims/NULL/missing-column failure modes, and row-group
chunking that preserves totals across multi-file, multi-group layouts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector


def _write_matrix(path, n=5000, nf=12, seed=7, row_group_size=900, with_null=False):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 3, size=n)
    cols = {}
    for j in range(nf):
        dim = 2 + j % 6
        vals = np.where(rng.random(n) < 0.5, y % dim, rng.integers(0, dim, n))
        cols[f"f{j}"] = pa.array(vals.astype(np.int32))
    if with_null:
        a = vals.astype(np.int32).tolist()
        a[3] = None
        cols[f"f{nf - 1}"] = pa.array(a, pa.int32())
    cols["label"] = pa.array(y.astype(np.int32))
    pq.write_table(pa.table(cols), str(path), row_group_size=row_group_size)
    return [f"f{j}" for j in range(nf)]


def test_fit_parquet_selection_bit_identical_to_fit(spark, tmp_path):
    p = tmp_path / "m.parquet"
    feats = _write_matrix(p)
    sel = lambda: InfoThSelector(n_to_select=4, criterion="mrmr", emit_f32=False)  # noqa: E731
    via_df = sel().fit(spark.read.parquet(str(p)))
    via_direct = sel().fit_parquet(spark, str(p))
    assert via_direct.selection_path == via_df.selection_path
    assert via_direct.relevances == via_df.relevances
    assert via_direct.feature_cols == feats  # schema-order default


def test_pack_parquet_chunks_row_groups_and_matches_totals(spark, tmp_path):
    # 5000 rows in 900-row groups chained into >=2000-row chunks: the
    # greedy chaining must cover every row exactly once
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    packed = PackedMatrix.pack_parquet(
        spark, str(p), ["f0", "f1", "label"], rows_per_partition=2000
    )
    try:
        dims, n = packed.dims_and_count()
        assert n == 5000
        # 900-row groups chain to >=2000: (900+900+900), (900+900+500)
        assert packed.n_partitions == 2
        df = spark.read.parquet(str(p))
        assert dims["f0"] == df.selectExpr("max(f0)").collect()[0][0] + 1
    finally:
        packed.unpersist()


def test_pack_parquet_multifile_dir(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    _write_matrix(d / "a.parquet", n=1200, seed=1)
    _write_matrix(d / "b.parquet", n=800, seed=2)
    packed = PackedMatrix.pack_parquet(spark, str(d), ["f0", "label"])
    try:
        _, n = packed.dims_and_count()
        assert n == 2000
    finally:
        packed.unpersist()


def test_pack_parquet_missing_column_raises(spark, tmp_path):
    p = tmp_path / "m.parquet"
    _write_matrix(p, nf=3)
    with pytest.raises(ValueError, match="missing pack columns.*f9"):
        PackedMatrix.pack_parquet(spark, str(p), ["f0", "f9", "label"])


def test_fit_parquet_null_column_fails_like_fit(spark, tmp_path):
    # NULL-bearing ints promote to NaN floats through the SAME pyarrow
    # to_numpy conversion on both routes -> same dims contract error
    p = tmp_path / "m.parquet"
    _write_matrix(p, with_null=True)
    with pytest.raises(ValueError, match="all-NULL or NULL-bearing"):
        InfoThSelector(n_to_select=2).fit_parquet(spark, str(p))
    with pytest.raises(ValueError, match="all-NULL or NULL-bearing"):
        InfoThSelector(n_to_select=2).fit(spark.read.parquet(str(p)))


# ---------------------------------------------------------------------------
# r10 — pack-route auto-detection (VERDICT ask #1), recursive listing
# (advisor finds), uint8 block compaction (VERDICT ask #4), spill guard.
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F  # noqa: E402

from flink_infotheoretic_feature_selection_spark.operators.packed import (  # noqa: E402
    _compact,
    estimate_packed_bytes,
    list_parquet_files,
)
from flink_infotheoretic_feature_selection_spark.plans.inspect import (  # noqa: E402
    bare_parquet_scan_files,
)


def _sel(k=3):
    return InfoThSelector(n_to_select=k, criterion="mrmr", emit_f32=False)


def _scan_frame(df):
    """``df`` with a value-identical derived label, so ``fit`` takes the
    ``mapInArrow`` scan pack instead of the direct one.  NOTE:
    ``F.col("label") + 0`` does NOT work here — Catalyst's optimizer
    folds the identity away and the plan IS a bare scan again (which the
    probe correctly accepts); ``greatest()`` survives optimization.  The
    column set is unchanged, so the pack's wide fast path still runs."""
    return df.withColumn("label", F.greatest("label", F.lit(0)))


def test_auto_route_direct_packs_bare_scan(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)  # the packs are under test
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    m = _sel().fit(spark.read.parquet(str(p)))
    assert m.fit_timings["pack_route"] == "direct"
    # column-pruned select stays bare (attribute-only Project)
    m2 = InfoThSelector(
        n_to_select=2, feature_cols=["f0", "f1", "f2"], emit_f32=False
    ).fit(spark.read.parquet(str(p)).select("f0", "f1", "f2", "label"))
    assert m2.fit_timings["pack_route"] == "direct"


def test_auto_route_falls_back_to_scan_on_derived_frame(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)  # the packs are under test
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    bare = spark.read.parquet(str(p))
    derived = bare.withColumn("f0", F.greatest("f0", F.lit(0)))
    m = _sel().fit(derived)
    assert m.fit_timings["pack_route"] == "scan"
    # ... with the identical selection as the direct route on the file
    assert m.selection_path == _sel().fit(bare).selection_path


def test_all_pack_routes_bit_identical(spark, tmp_path, monkeypatch):
    # the input picks the route: under the local bound every input is
    # read once as Arrow onto the driver; with the bound at 0 the bare
    # scan direct-packs, the derived frame takes the scan pack and
    # fit_parquet direct-packs the path
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    bare = spark.read.parquet(str(p))

    def fits():
        return {
            "bare": _sel().fit(bare),
            "derived": _sel().fit(_scan_frame(bare)),
            "fit_parquet": _sel().fit_parquet(spark, str(p)),
        }

    local = fits()
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    spark_routes = fits()
    assert {k: m.fit_timings["pack_route"] for k, m in local.items()} == {
        "bare": "local", "derived": "local", "fit_parquet": "local",
    }
    assert {k: m.fit_timings["pack_route"] for k, m in spark_routes.items()} == {
        "bare": "direct", "derived": "scan", "fit_parquet": "direct",
    }
    models = [*local.values(), *spark_routes.values()]
    assert len({tuple(m.selection_path) for m in models}) == 1
    assert len({tuple(m.relevances.items()) for m in models}) == 1


def test_bare_scan_probe_rejects_filters_renames_and_partition_cols(spark, tmp_path):
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    bare = spark.read.parquet(str(p))
    cols = ["f0", "label"]
    assert bare_parquet_scan_files(bare, cols)
    assert bare_parquet_scan_files(bare.filter("f0 >= 0"), cols) is None
    assert (
        bare_parquet_scan_files(bare.withColumnRenamed("f0", "g0"), ["g0", "label"])
        is None
    )
    # Hive-partitioned layout: the partition column lives in dir names,
    # not the files — packing it must be refused
    d = tmp_path / "part"
    df = bare.withColumn("pk", F.col("label") % 2)
    df.write.partitionBy("pk").parquet(str(d))
    pdf = spark.read.parquet(str(d))
    assert bare_parquet_scan_files(pdf, ["f0", "pk"]) is None
    # ... but data-column-only reads of the same layout are eligible
    assert bare_parquet_scan_files(pdf, ["f0", "label"])


def test_auto_route_on_partitioned_layout_matches_scan(spark, tmp_path, monkeypatch):
    # end-to-end over a Spark-partitioned (nested-dir) layout: the
    # recursive lister + inputFiles-driven direct pack must agree with
    # the scan route on the same frame
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)  # the packs are under test
    p = tmp_path / "m.parquet"
    _write_matrix(p)
    d = tmp_path / "bypk"
    spark.read.parquet(str(p)).withColumn("pk", F.col("label") % 2).write.partitionBy(
        "pk"
    ).parquet(str(d))
    pdf = spark.read.parquet(str(d))
    feats = [f"f{j}" for j in range(12)]
    auto = InfoThSelector(
        n_to_select=3, feature_cols=feats, emit_f32=False
    ).fit(pdf)
    assert auto.fit_timings["pack_route"] == "direct"
    scan = InfoThSelector(
        n_to_select=3, feature_cols=feats, emit_f32=False
    ).fit(_scan_frame(pdf))
    assert scan.fit_timings["pack_route"] == "scan"
    assert auto.selection_path == scan.selection_path


def test_list_parquet_files_recursive_and_errors(tmp_path):
    (tmp_path / "a" / "pk=1").mkdir(parents=True)
    _write_matrix(tmp_path / "a" / "top.parquet", n=100)
    _write_matrix(tmp_path / "a" / "pk=1" / "nested.parquet", n=100)
    files = list_parquet_files(str(tmp_path / "a"))
    assert [f.split("/")[-1] for f in files] == ["nested.parquet", "top.parquet"]
    # a symlinked directory is walked too, as the former glob walked it
    (tmp_path / "elsewhere").mkdir()
    _write_matrix(tmp_path / "elsewhere" / "linked.parquet", n=100)
    (tmp_path / "a" / "link").symlink_to(tmp_path / "elsewhere")
    files = list_parquet_files(str(tmp_path / "a"))
    assert [f.split("/")[-1] for f in files] == [
        "linked.parquet", "nested.parquet", "top.parquet"
    ]
    with pytest.raises(ValueError, match="no parquet files"):
        list_parquet_files([])
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        list_parquet_files(str(empty))


def test_fit_parquet_empty_dir_clear_error(spark, tmp_path):
    # advisor r10: used to raise a bare IndexError from sorted(glob)[0]
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        InfoThSelector(n_to_select=2).fit_parquet(spark, str(empty))


def test_pack_parquet_all_empty_row_groups_clear_error(spark, tmp_path):
    # advisor r10: all-empty input used to surface as an opaque
    # dims_and_count failure from an RDD with zero blocks
    import pyarrow.parquet as pqm

    p = tmp_path / "empty_rows.parquet"
    schema = pa.schema([("f0", pa.int32()), ("label", pa.int32())])
    pqm.write_table(pa.table({"f0": [], "label": []}, schema=schema), str(p))
    with pytest.raises(ValueError, match="no non-empty parquet row groups"):
        PackedMatrix.pack_parquet(spark, str(p), ["f0", "label"])


def test_compact_downcasts_without_wrapping():
    a = np.array([0, 7, 255], dtype=np.int64)
    assert _compact(a).dtype == np.uint8
    assert _compact(a).tolist() == [0, 7, 255]
    # out-of-contract values must KEEP a dtype that preserves them so
    # the stats pass still sees the real value (no silent 300 -> 44)
    big = np.array([0, 300], dtype=np.int64)
    assert _compact(big).tolist() == [0, 300]
    neg = np.array([-3, 5], dtype=np.int32)
    assert _compact(neg).tolist() == [-3, 5]
    f = np.array([0.0, np.nan])
    assert _compact(f).dtype.kind == "f"  # floats (NULL promotion) untouched


def test_packed_blocks_are_compacted_and_dims_guard_survives(spark, tmp_path):
    p = tmp_path / "m.parquet"
    _write_matrix(p)  # int32 source columns
    packed = PackedMatrix.pack_parquet(spark, str(p), ["f0", "label"])
    try:
        dtypes = packed.rdd.map(
            lambda blk: {c: blk[c].dtype.kind + str(blk[c].dtype.itemsize) for c in blk}
        ).first()
        assert dtypes == {"f0": "u1", "label": "u1"}
    finally:
        packed.unpersist()
    # a wild cell (dim > 256) still raises the contract error end-to-end
    p2 = tmp_path / "wild.parquet"
    pq.write_table(
        pa.table(
            {
                "f0": pa.array(np.array([0, 1, 300], dtype=np.int32)),
                "label": pa.array(np.array([0, 1, 0], dtype=np.int32)),
            }
        ),
        str(p2),
    )
    packed2 = PackedMatrix.pack_parquet(spark, str(p2), ["f0", "label"])
    try:
        with pytest.raises(ValueError, match="exceed the byte range"):
            packed2.dims_and_count()
    finally:
        packed2.unpersist()


def test_estimate_packed_bytes_and_spill_warning(spark, tmp_path, caplog):
    import logging

    from flink_infotheoretic_feature_selection_spark.operators.packed import (
        _storage_budget_bytes,
        _warn_if_spill_regime,
    )

    assert estimate_packed_bytes(6_000_000, 632) > 3_700_000_000
    budget = _storage_budget_bytes(spark)
    assert budget is None or budget > 0
    with caplog.at_level(logging.WARNING):
        _warn_if_spill_regime(spark, 10**13, 632)  # 6.3 PB estimate
    assert any("exceeds" in r.message for r in caplog.records)


def test_fit_parquet_heterogeneous_object_store_layout(spark, tmp_path):
    # VERDICT r9 ask #5: object-store-shaped input — many files of
    # uneven sizes, wildly mixed row-group sizes, one file with a
    # DIFFERENT physical column order (name-keyed reads must not care),
    # nested subdirectory.  fit_parquet must agree with fit() on the
    # same directory bit-for-bit.
    d = tmp_path / "store"
    (d / "sub").mkdir(parents=True)
    rng = np.random.default_rng(42)

    def write(path, n, rg, reorder=False):
        y = rng.integers(0, 3, size=n)
        cols = {}
        for j in range(6):
            dim = 2 + j % 4
            cols[f"f{j}"] = pa.array(
                np.where(rng.random(n) < 0.5, y % dim, rng.integers(0, dim, n)).astype(
                    np.int32
                )
            )
        cols["label"] = pa.array(y.astype(np.int32))
        names = list(cols)
        if reorder:
            names = names[::-1]
        pq.write_table(
            pa.table({k: cols[k] for k in names}), str(path), row_group_size=rg
        )

    write(d / "tiny_a.parquet", 37, 16)
    write(d / "tiny_b.parquet", 111, 7)
    write(d / "big.parquet", 4000, 1500)
    write(d / "reordered.parquet", 900, 900, reorder=True)
    write(d / "sub" / "nested.parquet", 500, 64)

    feats = [f"f{j}" for j in range(6)]
    direct = InfoThSelector(
        n_to_select=3, feature_cols=feats, emit_f32=False
    ).fit_parquet(spark, str(d))
    # recursive=True is load-bearing: spark.read.parquet("<dir>") does
    # NOT descend into plain subdirs by default, so compare against the
    # explicit file list to keep both engines reading the same rows
    files = sorted(str(p) for p in d.rglob("*.parquet"))
    via_df = InfoThSelector(
        n_to_select=3, feature_cols=feats, emit_f32=False
    ).fit(_scan_frame(spark.read.parquet(*files)))
    assert direct.selection_path == via_df.selection_path
    assert direct.relevances == via_df.relevances


def test_fit_parquet_through_pyarrow_filesystem(spark, tmp_path, monkeypatch):
    # VERDICT r9 ask #5 (non-local storage): the `filesystem` param
    # routes the driver's footer reads, the local route's driver-side
    # row-group reads and, with the local bound at 0, the executors'
    # row-group reads through a pyarrow FileSystem object (pickled into
    # task closures — the same mechanism an S3FileSystem would use).
    # SubTreeFileSystem makes paths meaningless to the local os.path
    # layer, so any code path that bypassed the filesystem would fail.
    from pyarrow import fs as pafs

    d = tmp_path / "store"
    (d / "nested").mkdir(parents=True)
    _write_matrix(d / "a.parquet", n=1200, seed=11, row_group_size=333)
    _write_matrix(d / "nested" / "b.parquet", n=800, seed=12, row_group_size=190)
    subfs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())

    def fit_fs():
        return InfoThSelector(n_to_select=3, emit_f32=False).fit_parquet(
            spark, "store", filesystem=subfs
        )

    via_fs = [fit_fs()]
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    via_fs.append(fit_fs())
    assert [m.fit_timings["pack_route"] for m in via_fs] == ["local", "direct"]
    via_local = InfoThSelector(n_to_select=3, emit_f32=False).fit(
        _scan_frame(
            spark.read.parquet(str(d / "a.parquet"), str(d / "nested" / "b.parquet"))
        )
    )
    for m in via_fs:
        assert m.selection_path == via_local.selection_path
        assert m.relevances == via_local.relevances
    (tmp_path / "void").mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        list_parquet_files("void", subfs)


def test_auto_route_propagates_contract_errors_without_reroute(spark, tmp_path):
    # r10 self-review: the auto route's footer-ineligibility fallback
    # must wrap ONLY the pack — a contract error from the fit itself
    # (dim > 256) propagates once, not after a silent second fit on the
    # scan route.  The wild value errors identically on every route, so
    # the observable difference is doing the work twice; pin the message
    # so the failure class keeps surfacing.
    p = tmp_path / "wild.parquet"
    pq.write_table(
        pa.table(
            {
                "f0": pa.array(np.array([0, 1, 999], dtype=np.int32)),
                "label": pa.array(np.array([0, 1, 0], dtype=np.int32)),
            }
        ),
        str(p),
    )
    with pytest.raises(ValueError, match="exceed the byte range"):
        _sel(k=1).fit(spark.read.parquet(str(p)))


def test_auto_route_footer_ineligible_falls_back_to_scan(spark, tmp_path):
    # a file missing a column under mergeSchema fails the direct pack's
    # footer stage; the fit re-runs the pack on the scan route, whose
    # stats pass re-diagnoses the gap as the NULL-bearing column
    d = tmp_path / "merged"
    d.mkdir()
    _write_matrix(d / "a.parquet", n=200, nf=3)
    _write_matrix(d / "b.parquet", n=200, nf=2)  # no f2
    df = spark.read.option("mergeSchema", "true").parquet(str(d))
    cols = ["f0", "f1", "f2", "label"]
    assert bare_parquet_scan_files(df, cols)
    with pytest.raises(ValueError, match="missing pack columns"):
        PackedMatrix.pack_parquet(spark, bare_parquet_scan_files(df, cols), cols)
    with pytest.raises(ValueError, match=r"NULL-bearing: \['f2'\]"):
        _sel(k=2).fit(df.select(*cols))


def test_rebalance_band_compares_oversplit_to_row_ideal(spark, tmp_path):
    # r10 decade-run find: the over-split coalesce must target the
    # ROW-COUNT-ideal layout (~rows_per_partition rows per block), never
    # the core-clamped target — at 60Mx631 the old band coalesced 901
    # right-sized blocks into 32 blocks of 1.9M rows whose concat
    # OOM-killed the box.  Shrink the row target so a small fixture
    # reproduces the decision geometry.
    class TinySelector(InfoThSelector):
        LOOP_ROWS_PER_PARTITION = 100
        LOCAL_MAX_BYTES = 0  # the Spark-loop layout is under test

    p = tmp_path / "m.parquet"
    _write_matrix(p, n=4000, row_group_size=10)  # 400 row groups
    df = spark.read.parquet(str(p))

    # direct pack chains 10-row groups to ~100-row chunks -> ~40
    # partitions = the ideal layout; with defaultParallelism >= 8 the
    # old band saw 40 > 4*min(40, cores)? keep cores high: ideal=40,
    # cur=40 -> NO rebalance either way (sanity)
    m = TinySelector(n_to_select=2, emit_f32=False).fit(df)
    assert m.fit_timings["pack_route"] == "direct"
    assert "rebalance_sec" not in m.fit_timings
    assert m.fit_timings["loop_partitions"] == 40

    # grossly over-split: 400 single-group chunks (pack at 10-row
    # target) -> the fit must coalesce DOWN TO IDEAL (40), not to the
    # core count
    from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix

    packed = PackedMatrix.pack_parquet(
        spark, str(p), ["f0", "f1", "label"], rows_per_partition=10
    )
    try:
        assert packed.n_partitions == 400
        # r13: the re-layout exists for the LOOP — use a k=2 fit (one
        # loop pass) to exercise the band; k=1/MIM fits skip it (below)
        sel = TinySelector(n_to_select=2, feature_cols=["f0", "f1"], emit_f32=False)
        m2 = sel._fit_from_packed(packed, ["f0", "f1"], "label", {})
        assert m2.fit_timings["loop_partitions"] == 40
        assert "rebalance_sec" in m2.fit_timings
    finally:
        pass  # _fit_from_packed unpersists

    # r13: a fit that never runs a loop pass (k=1 / MIM) must NOT pay
    # the re-layout at all
    packed1 = PackedMatrix.pack_parquet(
        spark, str(p), ["f0", "label"], rows_per_partition=10
    )
    m3 = TinySelector(
        n_to_select=1, feature_cols=["f0"], emit_f32=False
    )._fit_from_packed(packed1, ["f0"], "label", {})
    assert "rebalance_sec" not in m3.fit_timings
    assert m3.fit_timings["loop_partitions"] == 400


def test_list_parquet_files_skips_hidden_paths(tmp_path):
    # advisor r11: Hadoop's hidden-path convention — files under
    # '_'/'.'-prefixed components (e.g. _temporary leftovers from an
    # aborted Spark write) must not be packed as duplicate rows
    d = tmp_path / "tbl"
    (d / "_temporary" / "0").mkdir(parents=True)
    (d / ".stage").mkdir()
    _write_matrix(d / "part-0.parquet", n=100)
    _write_matrix(d / "_temporary" / "0" / "part-0.parquet", n=100)
    _write_matrix(d / ".stage" / "part-1.parquet", n=100)
    _write_matrix(d / "_hidden.parquet", n=100)
    files = list_parquet_files(str(d))
    assert [f.split("/")[-1] for f in files] == ["part-0.parquet"]
    # explicit lists are verbatim — the caller named those files
    explicit = [str(d / "_temporary" / "0" / "part-0.parquet")]
    assert list_parquet_files(explicit) == explicit


def test_list_parquet_files_fs_skips_hidden_paths(tmp_path):
    from pyarrow import fs as pafs

    d = tmp_path / "tbl"
    (d / "_temporary").mkdir(parents=True)
    _write_matrix(d / "part-0.parquet", n=100)
    _write_matrix(d / "_temporary" / "part-0.parquet", n=100)
    subfs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    files = list_parquet_files("tbl", subfs)
    assert [f.split("/")[-1] for f in files] == ["part-0.parquet"]


def test_hidden_temporary_dir_matches_spark_read(spark, tmp_path):
    # end-to-end: fit_parquet over a dir with a _temporary leftover
    # selects identically to fit over spark.read.parquet (which ignores
    # the hidden dir)
    d = tmp_path / "tbl"
    (d / "_temporary").mkdir(parents=True)
    _write_matrix(d / "part-0.parquet", n=2000)
    _write_matrix(d / "_temporary" / "dup.parquet", n=2000)
    via_direct = InfoThSelector(n_to_select=3, emit_f32=False).fit_parquet(
        spark, str(d)
    )
    via_scan = InfoThSelector(n_to_select=3, emit_f32=False).fit(
        _scan_frame(spark.read.parquet(str(d)))
    )
    assert via_direct.selection_path == via_scan.selection_path
    assert via_direct.relevances == via_scan.relevances


def test_bare_scan_probe_rejects_cols_outside_frame(spark, tmp_path):
    # advisor r11: a column dropped by the frame's projection may still
    # exist in the files — the probe must return None so the scan route
    # raises its usual unresolved-column error instead of the direct
    # route silently reading data from outside the user's frame
    p = tmp_path / "m.parquet"
    _write_matrix(p, n=200)
    bare = spark.read.parquet(str(p)).select("f0", "label")
    assert bare_parquet_scan_files(bare, ["f0", "label"])
    assert bare_parquet_scan_files(bare, ["f1", "label"]) is None


def test_storage_budget_bare_local_master(monkeypatch):
    # advisor r11: bare 'local' master must budget from driver memory
    from flink_infotheoretic_feature_selection_spark.operators.packed import (
        _storage_budget_bytes,
    )

    class FakeConf:
        def __init__(self, vals):
            self.vals = vals

        def get(self, k, d=None):
            return self.vals.get(k, d)

    class FakeSC:
        master = "local"

        def getConf(self):
            return FakeConf(
                {"spark.driver.memory": "8g", "spark.executor.memory": "1g"}
            )

    class FakeSpark:
        sparkContext = FakeSC()

    assert _storage_budget_bytes(FakeSpark()) == int(8 * 2**30 * 0.6)


def test_col_to_numpy_zero_copy_and_null_promotion(tmp_path):
    # r11 (VERDICT ask #2): the decode helper must view null-free integer
    # columns zero-copy and keep the NULL -> float64-NaN promotion for
    # nullable ones — bit-identical to the to_numpy route either way
    import pyarrow.parquet as pqm

    from flink_infotheoretic_feature_selection_spark.operators.packed import _col_to_numpy

    p = tmp_path / "m.parquet"
    _write_matrix(p, n=500, row_group_size=120, with_null=True)
    pf = pqm.ParquetFile(str(p))
    tbl = pf.read_row_groups(list(range(pf.metadata.num_row_groups)))

    clean = tbl.column("f0")  # null-free int32, multi-chunk after combine
    got = _col_to_numpy(clean)
    ref = clean.to_numpy(zero_copy_only=False)
    assert got.dtype == ref.dtype and (got == ref).all()
    single = pf.read_row_group(0).column("f0")
    view = _col_to_numpy(single)
    assert np.shares_memory(view, single.chunk(0).to_numpy(zero_copy_only=True))

    nullable = tbl.column("f11")  # carries a NULL -> float64 NaN contract
    gn = _col_to_numpy(nullable)
    rn = nullable.to_numpy(zero_copy_only=False)
    assert gn.dtype == np.float64 and np.isnan(gn).sum() == 1
    assert ((gn == rn) | (np.isnan(gn) & np.isnan(rn))).all()


def test_fit_parquet_over_s3_protocol(spark, tmp_path, monkeypatch):
    # r11 (VERDICT ask #5): fit_parquet through pyarrow's REAL
    # S3FileSystem against a local moto S3 endpoint — the full object-
    # store path: driver footer reads, driver-side row-group reads and
    # executor ones through the pickled filesystem, recursive prefix
    # listing, and the Hadoop hidden-path filter (a _temporary duplicate
    # upload must be ignored).
    pytest.importorskip("moto")
    import io

    import boto3
    from moto.server import ThreadedMotoServer
    from pyarrow import fs as pafs

    p1, p2 = tmp_path / "a.parquet", tmp_path / "b.parquet"
    _write_matrix(p1, n=1500, seed=21, row_group_size=400)
    _write_matrix(p2, n=900, seed=22, row_group_size=250)

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        port = server._server.socket.getsockname()[1]
        endpoint = f"http://127.0.0.1:{port}"
        c = boto3.client(
            "s3", endpoint_url=endpoint, aws_access_key_id="test",
            aws_secret_access_key="test", region_name="us-east-1",
        )
        c.create_bucket(Bucket="bkt")
        c.put_object(Bucket="bkt", Key="data/a.parquet", Body=p1.read_bytes())
        c.put_object(Bucket="bkt", Key="data/nested/b.parquet", Body=p2.read_bytes())
        # an aborted-write leftover: same bytes again under _temporary —
        # packing it would duplicate rows and change the selection
        c.put_object(
            Bucket="bkt", Key="data/_temporary/a.parquet", Body=p1.read_bytes()
        )
        s3 = pafs.S3FileSystem(
            endpoint_override=endpoint, access_key="test", secret_key="test",
            region="us-east-1",
        )

        def fit_s3():
            return InfoThSelector(n_to_select=3, emit_f32=False).fit_parquet(
                spark, "bkt/data", filesystem=s3
            )

        # the driver-side read, then the executors' (local bound at 0)
        via_s3 = [fit_s3()]
        monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
        via_s3.append(fit_s3())
    finally:
        server.stop()
    assert [m.fit_timings["pack_route"] for m in via_s3] == ["local", "direct"]
    via_local = InfoThSelector(n_to_select=3, emit_f32=False).fit(
        _scan_frame(spark.read.parquet(str(p1), str(p2)))
    )
    for m in via_s3:
        assert m.selection_path == via_local.selection_path
        assert m.relevances == via_local.relevances
