"""PackedMatrix (operators/packed.py) — bit-equality against the
DataFrame histogram routes and NumPy ``bincount`` oracles in both merge
regimes, plus the fit's layout decisions.

The packed substrate is the selector's one dense engine; these tests pin
that its passes change NOTHING about the numbers — exact integer merges,
the same MI/CMI floats, the same selection paths — whatever the merge
regime, batch width or partition layout.
"""

from __future__ import annotations

import numpy as np
import pytest

from flink_infotheoretic_feature_selection_spark import InfoThSelector
from flink_infotheoretic_feature_selection_spark.datasets import features_dense
from flink_infotheoretic_feature_selection_spark.operators import histogram
from flink_infotheoretic_feature_selection_spark.operators.histogram import (
    collect_hist2d,
    feature_dims_and_count,
    hist2d,
)
from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
from flink_infotheoretic_feature_selection_spark.functions.infotheory import (
    mi_and_cmi,
    mutual_info,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def matrix(spark):
    df = features_dense(spark, SF_DIR).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def packed(matrix):
    feats = [c for c in matrix.columns if c != "label"]
    pm = PackedMatrix.pack(matrix.repartition(4), feats + ["label"])
    yield pm
    pm.unpersist()


def _dims_n(matrix):
    cols = list(matrix.columns)
    return feature_dims_and_count(matrix, cols)


def test_relevances_bit_equal_hist2d_route(matrix, packed):
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    y_dim = dims["label"]
    h2 = collect_hist2d(hist2d(matrix, feats, "label", dims, y_dim), feats, dims, y_dim)
    want = {c: mutual_info(h2[c], n, emit_f32=True) for c in feats}
    got = packed.relevances(feats, "label", dims, n, emit_f32=True)
    assert got == want  # exact float equality, not approx


@pytest.mark.parametrize("forced_regime", ["driver", "distributed"])
def test_hist3d_mi_cmi_bit_equal_both_regimes(matrix, packed, forced_regime, monkeypatch):
    """The loop pass (width 1) in BOTH merge regimes equals ``mi_and_cmi``
    on ``np.bincount`` tables built straight from the pandas matrix —
    an oracle that shares no code with the packed merge."""
    pdf = matrix.toPandas()
    feats = [c for c in matrix.columns if c != "label"]
    dims = {c: int(pdf[c].max()) + 1 for c in pdf.columns}
    n = len(pdf)
    best, remaining = feats[3], [c for c in feats if c != feats[3]]
    yd, zd = dims[best], dims["label"]
    yz = pdf[best].to_numpy(np.int64) * zd + pdf["label"].to_numpy(np.int64)
    want = {
        c: mi_and_cmi(
            np.bincount(
                pdf[c].to_numpy(np.int64) * yd * zd + yz, minlength=dims[c] * yd * zd
            ).reshape(dims[c], yd, zd),
            n,
            emit_f32=True,
        )
        for c in remaining
    }
    if forced_regime == "distributed":
        # force the shuffled merge with executor-side MI/CMI on tiny data
        monkeypatch.setattr(histogram, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    got = packed.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n, emit_f32=True)
    assert got == {best: want}  # exact float equality in BOTH regimes


def test_loop_engine_validated():
    """Both selectors have one loop engine, and the dense one picks its
    pack route from the input: the removed options are rejected, not
    silently ignored."""
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    with pytest.raises(TypeError, match="loop_engine"):
        InfoThSelector(loop_engine="packed")
    with pytest.raises(TypeError, match="loop_engine"):
        SparseInfoThSelector(n_features=2, loop_engine="packed")
    with pytest.raises(TypeError, match="spill_dir"):
        InfoThSelector(spill_dir="/tmp")
    for route in ("spill", "scan", "auto"):
        with pytest.raises(TypeError, match="pack_route"):
            InfoThSelector(pack_route=route)


def test_dims_and_count_matches_catalyst_route(matrix, packed):
    want = feature_dims_and_count(matrix, list(matrix.columns))
    assert packed.dims_and_count() == want


def test_dims_and_count_raises_on_empty(spark, matrix):
    empty = matrix.limit(0)
    pm = PackedMatrix.pack(empty, list(matrix.columns))
    try:
        with pytest.raises(ValueError, match="empty or .*all-NULL"):
            pm.dims_and_count()
    finally:
        pm.unpersist()


def test_rebalance_preserves_histograms(matrix, packed):
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    best, remaining = feats[0], feats[1:6]
    want = packed.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n)
    pm2 = PackedMatrix.pack(matrix.repartition(2), feats + ["label"])
    try:
        pm3 = pm2.rebalance(6, rows_per_partition=max(1, n // 6))
        assert pm3.n_partitions >= 2  # actually re-laid-out
        assert pm3.dims_and_count() == (dims, n)
        assert pm3.hist3d_mi_cmi_multi(remaining, [best], "label", dims, n) == want
        pm3.unpersist()
    finally:
        pm2.unpersist()


def test_pack_keeps_layout_when_target_none(matrix):
    feats = [c for c in matrix.columns if c != "label"]
    pm = PackedMatrix.pack(matrix, feats + ["label"])
    try:
        assert pm.n_partitions == matrix.rdd.getNumPartitions()
        blocks = pm.rdd.collect()
        assert sum(len(b["label"]) for b in blocks) == matrix.count()
        assert list(blocks[0].keys()) == feats + ["label"]
    finally:
        pm.unpersist()


def test_relevances_bit_equal_distributed_regime(matrix, packed, monkeypatch):
    # r8 advisor fix: relevances used to collect un-merged per-partition
    # partials unconditionally (n_partitions × Σxd × y_dim driver bytes,
    # unbounded in partition count); it now shares the loop pass's
    # two-regime merge (_merge_partials). Forcing the shuffled regime
    # must change NOTHING about the floats.
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    want = packed.relevances(feats, "label", dims, n, emit_f32=True)
    monkeypatch.setattr(histogram, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    got = packed.relevances(feats, "label", dims, n, emit_f32=True)
    assert got == want


def test_dims_and_count_raises_on_partial_nulls(spark):
    # A column NULL in only SOME partitions arrives as float-with-NaN via
    # Arrow; folding partials with Python max() was order-dependent
    # (max(1.0, nan)=1.0 but max(nan, 1.0)=nan). Any NaN partial is a
    # contract violation and must error deterministically.
    clean = [(i % 3, 1) for i in range(8)]
    dirty = [(None, 1)] + [(i % 3, 1) for i in range(7)]
    df = (
        spark.createDataFrame(clean, "f0 int, label int")
        .repartition(1)
        .unionAll(spark.createDataFrame(dirty, "f0 int, label int").repartition(1))
    )
    pm = PackedMatrix.pack(df, ["f0", "label"])
    try:
        with pytest.raises(ValueError, match="NULL"):
            pm.dims_and_count()
    finally:
        pm.unpersist()


def test_pack_rejects_duplicate_column_names(spark):
    # the wide-schema fast path must NOT engage on duplicate names —
    # name-keyed block resolution would silently read the last
    # occurrence for both; Catalyst's ambiguity error must surface
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 2, 0)], "f0 int, f1 int, label int").select(
        F.col("f0").alias("a"), F.col("f1").alias("a"), "label"
    )
    with pytest.raises(Exception, match="AMBIGUOUS|ambiguous"):
        PackedMatrix.pack(df, ["a", "label"])


def test_rebalance_cost_gate(spark, matrix, monkeypatch):
    """r12: the parallelism-starved re-layout fires only when a partition
    holds >= REBALANCE_MIN_CELLS_PER_PART cells; the selection is
    identical with and without it (partition-agnostic integer merges)."""
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector as Sel

    few = matrix.coalesce(1)
    # the Spark-loop layout rules, not the local regime, are under test
    monkeypatch.setattr(Sel, "LOCAL_MAX_BYTES", 0)

    # small data: starved layout (1 partition) must NOT re-layout
    m_skip = Sel(n_to_select=3, criterion="mrmr").fit(few)
    assert "rebalance_sec" not in m_skip.fit_timings
    assert m_skip.fit_timings["loop_partitions"] == 1

    # forcing the threshold to zero re-enables the starved re-layout
    # (when the row count clears the 2x LOOP_ROWS_PER_PARTITION band it
    # splits; at sf0.001 it stays under the band, so instead pin that
    # the gate itself is the only thing that changed) and the selection
    # is bit-identical either way
    monkeypatch.setattr(Sel, "REBALANCE_MIN_CELLS_PER_PART", 0)
    monkeypatch.setattr(Sel, "LOOP_ROWS_PER_PARTITION", 64)
    m_reb = Sel(n_to_select=3, criterion="mrmr").fit(few)
    assert "rebalance_sec" in m_reb.fit_timings
    assert m_reb.fit_timings["loop_partitions"] > 1
    assert m_reb.selection_path == m_skip.selection_path
    assert m_reb.relevances == m_skip.relevances


def test_dims_count_hist2d_fused_matches_separate_passes(spark, matrix, packed):
    """r12: the fused dims+hist2d pass returns the same dims/count as
    dims_and_count and bit-identical tables to the hist2d route."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = packed.dims_and_count()
    fdims, fn, h2 = packed.dims_count_hist2d("label")
    assert (fdims, fn) == (dims, n)
    assert h2 is not None
    want = collect_hist2d(
        hist2d(matrix, feats, "label", dims, dims["label"]),
        feats, dims, dims["label"],
    )
    for c in feats:
        assert (h2[c] == want[c]).all()
        assert h2[c].dtype == want[c].dtype


def test_dims_count_hist2d_budget_fallback_and_errors(spark, matrix, packed, monkeypatch):
    # shrinking the driver-merge budget makes every block decline to
    # histogram -> h2 None, dims/count still exact (the caller's
    # fallback contract)
    import flink_infotheoretic_feature_selection_spark.operators.packed as packed_mod
    monkeypatch.setattr(histogram, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    dims, n = packed.dims_and_count()
    fdims, fn, h2 = packed.dims_count_hist2d("label")
    assert (fdims, fn, h2) == (dims, n, None)
    monkeypatch.undo()

    # out-of-contract values raise the dims_and_count error text, never
    # a raw bincount failure
    import numpy as np
    wild = spark.createDataFrame(
        [(0, 300), (1, 0)], "label int, f0 int"
    )
    pm = PackedMatrix.pack(wild, ["f0", "label"])
    try:
        with pytest.raises(ValueError, match="exceed the byte range"):
            pm.dims_count_hist2d("label")
    finally:
        pm.unpersist()


@pytest.mark.parametrize("forced_regime", ["driver", "distributed"])
def test_hist3d_mi_cmi_multi_bit_equal_single(matrix, packed, forced_regime, monkeypatch):
    """r13: the speculative batch pass returns, for every conditioning
    column, exactly the pairs a width-1 pass returns — in BOTH merge
    regimes."""
    feats = [c for c in matrix.columns if c != "label"]
    dims, n = _dims_n(matrix)
    conds = [feats[3], feats[0], feats[5]]
    if forced_regime == "distributed":
        monkeypatch.setattr(histogram, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    remaining = [c for c in feats if c != feats[3]]
    got = packed.hist3d_mi_cmi_multi(remaining, conds, "label", dims, n, emit_f32=True)
    assert sorted(got) == sorted(conds)
    for s in conds:
        want = packed.hist3d_mi_cmi_multi(remaining, [s], "label", dims, n, emit_f32=True)
        assert got[s] == want[s]  # exact float equality


@pytest.mark.parametrize("criterion", ["mrmr", "jmi", "cmim", "icap", "mifs"])
def test_fit_identical_across_speculation_widths(matrix, packed, criterion):
    """r13: speculation is a pure prefetch — the greedy loop driven by the
    real packed pass selects the same path with the same scores at every
    width (updates replay in selection order from the same
    integer-merged histograms)."""
    from flink_infotheoretic_feature_selection_spark.selector import greedy_path

    feats = [c for c in matrix.columns if c != "label"]
    dims, n = packed.dims_and_count()
    relevances = packed.relevances(feats, "label", dims, n)

    def fit(width):
        return greedy_path(
            feats, relevances, criterion, 1.0, 6, 5,
            lambda remaining, conds: packed.hist3d_mi_cmi_multi(
                remaining, conds, "label", dims, n
            ),
            width,
        )

    base, passes, hits = fit(0)
    assert (passes, hits) == (5, 0)
    for width in (2, "auto", 16):
        path, passes, hits = fit(width)
        assert path == base
        assert passes + hits == 5


def test_speculation_param_validated():
    """The speculation width and the opt-in validate pass are gone from
    the constructor (the byte contract is always enforced): passing
    either is rejected, not silently ignored."""
    with pytest.raises(TypeError, match="speculation"):
        InfoThSelector(speculation=0)
    with pytest.raises(TypeError, match="validate"):
        InfoThSelector(validate=True)


# forced layout -> (input partitions, the plan _plan_relayout returns,
# the loop's partitions); "local" reads the matrix onto the driver, so
# no plan is made
_RELAYOUT_ORDER = {
    "keep": (4, None, 4),
    "local": (4, None, 1),
    "split": (1, ("split", 2), 2),
    "coalesce": (4, ("coalesce", 2), 2),
}


@pytest.mark.parametrize("criterion", ["mrmr", "jmi"])
@pytest.mark.parametrize("layout", list(_RELAYOUT_ORDER))
def test_relayout_order_table(matrix, monkeypatch, layout, criterion):
    """The fit applies its one layout decision before any pass reads the
    blocks: whatever the plan, the stats pass runs once over the final
    layout and builds the relevance tables, so no relevances pass runs,
    and the selection and relevances are bit-identical to the local fit
    (ADVICE r12: a starved input must not run the tables serially inside
    the partitions a split is about to spread).  The local route's one
    driver-held block has no layout to plan."""
    parts, plan, loop_parts = _RELAYOUT_ORDER[layout]
    df = matrix.repartition(parts)
    want = InfoThSelector(n_to_select=4, criterion=criterion).fit(df)
    assert want.fit_timings["pack_route"] == "local"
    assert want.fit_timings["relayout"] is None

    # small split chunks, so the split really spreads the rows
    monkeypatch.setattr(InfoThSelector, "LOOP_ROWS_PER_PARTITION", 1024)
    if layout == "local":
        monkeypatch.setattr(InfoThSelector, "_plan_relayout", None)
    else:
        monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
        monkeypatch.setattr(
            InfoThSelector, "_plan_relayout", classmethod(lambda cls, *a: plan)
        )
    calls = []
    for name in ("dims_count_hist2d", "dims_and_count", "relevances"):
        orig = getattr(PackedMatrix, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            calls.append((_name, self.n_partitions))
            return _orig(self, *a, **kw)

        monkeypatch.setattr(PackedMatrix, name, spy)
    m = InfoThSelector(n_to_select=4, criterion=criterion).fit(df)
    assert m.fit_timings["pack_route"] == ("local" if layout == "local" else "scan")
    assert m.fit_timings["relayout"] == plan
    assert m.fit_timings["stats_fused"] is True
    assert calls == [("dims_count_hist2d", m.fit_timings["loop_partitions"])]
    assert m.fit_timings["loop_partitions"] == loop_parts
    assert ("rebalance_sec" in m.fit_timings) == (layout in ("split", "coalesce"))
    assert m.selection_path == want.selection_path
    assert m.relevances == want.relevances


def test_tree_fold_fit_runs_relevances_pass(matrix, monkeypatch):
    """A stats pass that builds no tables (the tree fold past
    DRIVER_STATS_MAX_BYTES) leaves the relevances to their own pass,
    with a bit-identical selection."""
    df = matrix.repartition(4)
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    want = InfoThSelector(n_to_select=4).fit(df)
    monkeypatch.setattr(PackedMatrix, "DRIVER_STATS_MAX_BYTES", 0)
    calls = []
    orig = PackedMatrix.relevances

    def spy(self, *a, **kw):
        calls.append(self.n_partitions)
        return orig(self, *a, **kw)

    monkeypatch.setattr(PackedMatrix, "relevances", spy)
    m = InfoThSelector(n_to_select=4).fit(df)
    assert want.fit_timings["stats_fused"] is True
    assert m.fit_timings["stats_fused"] is False
    assert calls == [4]
    assert m.selection_path == want.selection_path
    assert m.relevances == want.relevances


@pytest.mark.parametrize("criterion, k", [("mim", 3), ("mrmr", 1)])
def test_no_loop_fit_keeps_fused_stats_on_starved_input(matrix, monkeypatch, criterion, k):
    """ADVICE r13 (medium): a fit that runs no loop pass (MIM, k=1) never
    re-lays out, even on a starved input that a k>=2 fit would split:
    the fused dims+hist2d pass runs over the pack's own layout."""
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector as Sel

    few = matrix.coalesce(1)
    monkeypatch.setattr(Sel, "LOCAL_MAX_BYTES", 0)
    want = Sel(n_to_select=k, criterion=criterion).fit(few)

    # the forcing that makes a k>=2 fit split this input
    monkeypatch.setattr(Sel, "REBALANCE_MIN_CELLS_PER_PART", 0)
    monkeypatch.setattr(Sel, "LOOP_ROWS_PER_PARTITION", 64)
    calls = []
    fused = PackedMatrix.dims_count_hist2d

    def spy(self, *a, **kw):
        calls.append(self.n_partitions)
        return fused(self, *a, **kw)

    def no_rebalance(self, *a, **kw):  # pragma: no cover - failure path
        raise AssertionError("a fit without loop passes must not re-lay out")

    monkeypatch.setattr(PackedMatrix, "dims_count_hist2d", spy)
    monkeypatch.setattr(PackedMatrix, "rebalance", no_rebalance)
    m = Sel(n_to_select=k, criterion=criterion).fit(few)
    assert calls == [1]
    assert m.fit_timings["relayout"] is None
    assert m.fit_timings["stats_fused"] is True
    assert "rebalance_sec" not in m.fit_timings
    assert m.selection_path == want.selection_path
    assert m.relevances == want.relevances


# (n_rows, n_cols, n_partitions, parallelism) -> plan when the fit runs
# loop passes (these rows pin the Spark-loop rules); a fit without loop
# passes (MIM, k=1) never re-lays out
_LAYOUTS = [
    # starved: one unsplit 6M-row file on 32 cores, far above the cost gate
    ((6_000_000, 33, 1, 32), ("split", 32)),
    # starved but cheap: sf0.1's 3 splits hold ~6.6M cells each (< 32M)
    ((600_000, 33, 3, 32), None),
    # starved on a small box: the core clamp sets the split target
    ((6_000_000, 33, 1, 4), ("split", 4)),
    # over-split: 32 blocks for a 10-block ideal -> coalesce to IDEAL
    ((600_000, 33, 32, 32), ("coalesce", 10)),
    # over-split 100 TB shape: 901 right-sized blocks stay (r10 OOM find)
    ((60_000_000, 632, 901, 32), None),
    # near-ideal, and exactly at the 2x band edge
    ((600_000, 33, 10, 32), None),
    ((600_000, 33, 20, 32), None),
    # small data (< 2x LOOP_ROWS_PER_PARTITION rows) is never re-laid out
    ((100_000, 33, 100, 32), None),
]
# shapes at or under the default local bound plan like any Spark-packed
# matrix: the bound picks the route before the pack, never the layout
_UNDER_BOUND_LAYOUTS = [
    # sf0.1's 600k x 33 (19.8 MB), over-split -> coalesce to IDEAL
    ((600_000, 33, 32, 32), ("coalesce", 10)),
    ((262_144, 33, 64, 32), ("coalesce", 4)),
    ((100_000, 33, 4, 32), None),
    ((1_000_000, 33, 40, 32), ("coalesce", 16)),
    # one block holding exactly LOCAL_MAX_BYTES cells is also exactly at
    # the split's cost gate
    ((1_048_576, 32, 1, 32), ("split", 16)),
    ((1_048_576, 32, 1, 4), ("split", 4)),
    ((2_000_000, 17, 1, 8), ("split", 8)),
]


@pytest.mark.parametrize("needs_loop", [True, False])
@pytest.mark.parametrize("layout, plan", _LAYOUTS + _UNDER_BOUND_LAYOUTS)
def test_plan_relayout_table(layout, plan, needs_loop):
    got = InfoThSelector._plan_relayout(*layout, needs_loop)
    assert got == (plan if needs_loop else None)


_B = InfoThSelector.LOCAL_MAX_BYTES
_T, _I4, _I8 = 1, 4, 8  # Arrow byte widths: TINYINT, INT, BIGINT


# (n_rows, widths, bound) -> route for a frame; a parquet input
# (direct=True) routes "direct" wherever a frame routes "scan"
@pytest.mark.parametrize(
    "n_rows, widths, bound, route",
    [
        # Arrow bytes below, at and one row past the bound
        (1_000_000, [_T] * 33, _B, "local"),
        (1_048_576, [_T] * 32, _B, "local"),
        (1_048_577, [_T] * 32, _B, "scan"),
        # the same rows at wider Arrow types
        (250_000, [_T] * 33, _B, "local"),
        (250_000, [_I4] * 33, _B, "local"),
        (250_000, [_I8] * 33, _B, "scan"),
        (600_000, [_T] * 33, _B, "local"),
        (600_000, [_I4] * 33, _B, "scan"),
        # a mixed frame sums its own widths
        (100_000, [_T] * 32 + [_I8], _B, "local"),
        # a variable-width column never goes local
        (10, [_T, None], _B, "scan"),
        # an empty input reads nothing onto the driver
        (0, [_T] * 33, _B, "local"),
        # bound 0 keeps every non-empty input off the driver, -1 every one
        (1, [_T], 0, "scan"),
        (0, [_T], 0, "local"),
        (0, [_T], -1, "scan"),
    ],
)
def test_plan_pack_route_table(n_rows, widths, bound, route, monkeypatch):
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", bound)
    assert _B == 32 * 1024 * 1024
    assert InfoThSelector._plan_pack_route(n_rows, widths, False) == route
    direct = "direct" if route == "scan" else route
    assert InfoThSelector._plan_pack_route(n_rows, widths, True) == direct


@pytest.mark.parametrize("criterion, k", [("mrmr", 4), ("mim", 4), ("mrmr", 1)])
def test_every_fit_under_the_bound_goes_local(matrix, criterion, k):
    """The route does not depend on the criterion or k: MIM and k=1
    fits, which run no loop pass, read the matrix onto the driver too
    and run no Spark job after the collect."""
    m = InfoThSelector(n_to_select=k, criterion=criterion).fit(matrix)
    assert m.fit_timings["pack_route"] == "local"
    assert m.fit_timings["relayout"] is None
    assert m.fit_timings["loop_partitions"] == 1
    assert m.fit_timings["loop_jobs"] == 0


@pytest.mark.parametrize(
    "criterion", ["mim", "mifs", "jmi", "mrmr", "cmim", "if", "icap"]
)
def test_fit_identical_across_local_driver_and_shuffled_regimes(
    matrix, criterion, monkeypatch
):
    """The local route (one Arrow collect, every pass on the driver)
    selects exactly what the Spark loop selects in both merge regimes:
    the same integer tables reach the same finalize.  Every criterion,
    MIM included, goes local."""
    def fit():
        return InfoThSelector(n_to_select=6, criterion=criterion).fit(matrix)

    local = fit()
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    driver = fit()
    monkeypatch.setattr(histogram, "BLOB_DRIVER_MERGE_MAX_BYTES", 0)
    shuffled = fit()
    assert local.fit_timings["pack_route"] == "local"
    assert local.fit_timings["relayout"] is None
    assert local.fit_timings["loop_partitions"] == 1
    assert local.fit_timings["loop_jobs"] == 0
    assert driver.fit_timings["pack_route"] == "scan"
    assert (driver.fit_timings["loop_jobs"] > 0) == (criterion != "mim")
    for other in (driver, shuffled):
        assert other.selection_path == local.selection_path
        assert other.relevances == local.relevances


def test_pack_records_n_rows(matrix, packed):
    assert packed.n_rows == matrix.count()
    # rebalance must carry the count through (it unpersists its input,
    # so use a private pack)
    own = PackedMatrix.pack(matrix.repartition(4), list(matrix.columns))
    re = own.rebalance(2, 1 << 16)
    try:
        assert re.n_rows == packed.n_rows
    finally:
        re.unpersist()


# fault -> (rows, schema, the ValueError text every regime must raise)
_FAULTS = {
    "null_feature": (
        [(1, 0, 0), (None, 1, 1), (2, 0, 1)], "f0 int, f1 int, label int",
        r"NULL-bearing: \['f0'\]",
    ),
    "null_label": (
        [(1, 0, 0), (2, 1, None), (2, 0, 1)], "f0 int, f1 int, label int",
        r"NULL-bearing: \['label'\]",
    ),
    "negative": (
        [(1, 200, 0), (2, -3, 1), (0, 5, 0)], "f0 int, f1 int, label int",
        r"non-null integers.*\['f1'\]",
    ),
    "fractional": (
        [(1, 0.5, 0), (2, 1.0, 1), (0, 1.5, 0)], "f0 int, f1 double, label int",
        r"non-null integers.*\['f1'\]",
    ),
    "over_255": (
        [(300, 0, 0), (1, 1, 1)], "f0 int, f1 int, label int",
        r"exceed the byte range \(dim>256\): \{'f0': 301\}",
    ),
    "empty": ([], "f0 int, f1 int, label int", "input is empty"),
    # two faults at once: the NULL check runs first and names only the
    # NULL-bearing column
    "null_and_over_255": (
        [(1, None, 0), (0, 300, 1), (2, 1, 1)], "f0 int, f1 int, label int",
        r"NULL-bearing: \['f1'\]",
    ),
    "null_and_negative": (
        [(None, -3, 0), (1, 1, 1), (2, 0, 1)], "f0 int, f1 int, label int",
        r"NULL-bearing: \['f0'\]",
    ),
}


@pytest.mark.parametrize("fault", list(_FAULTS))
def test_byte_contract_table(spark, monkeypatch, tmp_path, fault):
    """Every fit checks the byte contract in its one stats pass, and each
    fault raises the same ValueError text on every route: local (one
    Arrow read — a frame's ``toArrow()``, a bare scan's or
    ``fit_parquet``'s files through pyarrow — and stats on the driver),
    Spark fused (stats + relevance tables in one pass) and Spark unfused
    (the executor-side tree fold past ``DRIVER_STATS_MAX_BYTES``, which
    builds no tables)."""
    rows, schema, match = _FAULTS[fault]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "m")
    df.write.parquet(path)
    calls = []
    for name in ("dims_count_hist2d", "dims_and_count"):
        orig = getattr(PackedMatrix, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            calls.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(PackedMatrix, name, spy)
    from_arrow = PackedMatrix.from_arrow

    def arrow_spy(*a, **kw):
        calls.append("from_arrow")
        return from_arrow(*a, **kw)

    monkeypatch.setattr(PackedMatrix, "from_arrow", arrow_spy)

    def fit_error(fit):
        calls.clear()
        sel = InfoThSelector(n_to_select=2, feature_cols=["f0", "f1"])
        with pytest.raises(ValueError, match=match) as err:
            fit(sel)
        return str(err.value)

    derived = fit_error(lambda sel: sel.fit(df))
    assert calls == ["from_arrow", "dims_count_hist2d"]
    for fit in (
        lambda sel: sel.fit(spark.read.parquet(path)),
        lambda sel: sel.fit_parquet(spark, path),
    ):
        assert fit_error(fit) == derived
        assert calls == ["from_arrow", "dims_count_hist2d"]
    # Spark routes: -1 keeps even an empty input off the driver
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", -1)
    assert fit_error(lambda sel: sel.fit(df)) == derived
    assert calls == ["dims_count_hist2d"]
    monkeypatch.setattr(PackedMatrix, "DRIVER_STATS_MAX_BYTES", 0)
    assert fit_error(lambda sel: sel.fit(df)) == derived
    assert calls == ["dims_count_hist2d"]


# ---- SparseInfoThSelector routes -------------------------------------------

_I, _L = "int", "bigint"


@pytest.mark.parametrize(
    "n_rows, n_features, cell_bytes, route",
    [
        # sparse_long's shape: 120k labels × 16 features × 16 B = 30.7 MB
        (120_000, 16, 16, "local"),
        # exactly at the 32 MiB bound, and one label row past it
        (131_072, 16, 16, "local"),
        (131_073, 16, 16, "sql"),
        # wider cells cross the bound sooner
        (120_000, 16, 24, "sql"),
        # a non-integer column never goes local
        (10, 2, None, "sql"),
    ],
)
def test_sparse_route_table(n_rows, n_features, cell_bytes, route):
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    assert InfoThSelector.LOCAL_MAX_BYTES == 32 * 1024 * 1024
    assert SparseInfoThSelector._plan_route(n_rows, n_features, cell_bytes) == route


def test_sparse_route_bound_zero_takes_sql(monkeypatch):
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    assert SparseInfoThSelector._plan_route(1, 1, 3) == "sql"


@pytest.mark.parametrize(
    "nonzeros, labels, width",
    [
        ((_L, _I, _I), (_L, _I), 16),
        ((_L, _L, _L), (_L, _I), 24),
        ((_I, "smallint", "tinyint"), (_I, "tinyint"), 7),
        ((_L, _I, "double"), (_L, _I), None),
        (("string", _I, _I), ("string", _I), None),
        ((_L, _I, _I), ("string", _I), None),
        ((_L, _I, _I), (_L, "double"), None),
    ],
)
def test_sparse_cell_bytes(nonzeros, labels, width):
    from pyspark.sql import types as T

    from flink_infotheoretic_feature_selection_spark.selector import _cell_bytes

    kinds = {
        "tinyint": T.ByteType(), "smallint": T.ShortType(), "int": T.IntegerType(),
        "bigint": T.LongType(), "double": T.DoubleType(), "string": T.StringType(),
    }

    def schema(names, types):
        return T.StructType([T.StructField(c, kinds[t]) for c, t in zip(names, types)])

    nz = schema(["row_id", "feat", "x"], nonzeros)
    lab = schema(["row_id", "y"], labels)
    assert _cell_bytes(nz, lab) == width


@pytest.fixture(scope="module")
def sparse_input(spark):
    """Long-format input with every join corner: sparse, permuted
    row_ids; orphan cells (no label row, one duplicated); label rows
    with no cells; a repeated label row_id and a NULL one; explicit x=0
    cells; an all-zero feature."""
    rng = np.random.default_rng(11)
    n, nf = 600, 8
    X = rng.integers(0, 5, (n, nf))
    X[rng.random(X.shape) < 0.55] = 0
    X[:, 3] = 0
    X[:40] = 0  # label rows with no cells
    y = (X[:, 0] + X[:, 1] + rng.integers(0, 2, n)) % 3
    ids = rng.permutation(50 * n)[:n].astype(np.int64) * 7 + 3
    r, f = np.nonzero(X)
    cells = [(int(ids[a]), int(b), int(X[a, b])) for a, b in zip(r, f)]
    # orphans (ids are ≡ 3 (mod 7)), one of them duplicated
    cells += [(1, 2, 4), (1, 2, 4), (2, 5, 1)]
    cells += [(int(ids[50]), 3, 0)]  # explicit zero
    cells = [cells[i] for i in rng.permutation(len(cells))]
    lab = [(int(ids[i]), int(y[i])) for i in range(n)]
    lab += [(int(ids[60]), 2), (None, 1)]
    nz = spark.createDataFrame(cells, "row_id long, feat int, x int").persist()
    labels = spark.createDataFrame(lab, "row_id long, y int").persist()
    nz.count(), labels.count()
    yield nz, labels, nf
    nz.unpersist()
    labels.unpersist()


@pytest.mark.parametrize(
    "criterion", ["mim", "mifs", "jmi", "mrmr", "cmim", "if", "icap"]
)
def test_sparse_fit_identical_across_local_and_sql_routes(
    sparse_input, criterion, monkeypatch
):
    """The local route (two Arrow collects, the dense local stages)
    selects exactly what the SQL route selects, with the same
    relevances: the densified block yields the same integer tables."""
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    nz, labels, nf = sparse_input

    def fit():
        return SparseInfoThSelector(
            n_features=nf, n_to_select=6, criterion=criterion
        ).fit(nz, labels)

    local = fit()
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    sql = fit()
    assert local.fit_timings["sparse_route"] == "local"
    assert local.fit_timings["relayout"] is None
    assert local.fit_timings["loop_jobs"] == 0
    assert sql.fit_timings["sparse_route"] == "sql"
    assert sql.selection_path == local.selection_path
    assert sql.relevances == local.relevances
