"""End-to-end selector tests vs an exact NumPy oracle (SURVEY.md §5 item 3)."""

import numpy as np
import pytest

from flink_infotheoretic_feature_selection_spark.datasets import FEATURE_NAMES, features_dense
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector


# ---------------------------------------------------------------------------
# Exact NumPy oracle: same algorithm, independently implemented over the
# full (small) dataset.
# ---------------------------------------------------------------------------
def np_mi(x, y):
    xs, ys = x.max() + 1, y.max() + 1
    joint = np.zeros((xs, ys))
    np.add.at(joint, (x, y), 1)
    p = joint / len(x)
    px = p.sum(1, keepdims=True)
    py = p.sum(0, keepdims=True)
    mask = p > 0
    return (p[mask] * np.log2(p[mask] / (px * py)[mask])).sum()


def np_cmi(x, y, z):
    """CMI(X;Y|Z)"""
    xs, ys, zs = x.max() + 1, y.max() + 1, z.max() + 1
    joint = np.zeros((xs, ys, zs))
    np.add.at(joint, (x, y, z), 1)
    c = joint / len(x)
    pz = c.sum((0, 1))
    pxz = c.sum(1)
    pyz = c.sum(0)
    total = 0.0
    for zi in range(zs):
        for xi in range(xs):
            for yi in range(ys):
                pxyz = c[xi, yi, zi]
                if pxyz > 0 and pxz[xi, zi] > 0 and pyz[yi, zi] > 0:
                    total += pxyz * np.log2(pz[zi] * pxyz / (pxz[xi, zi] * pyz[yi, zi]))
    return total


def np_greedy(X, y, k, criterion):
    nf = X.shape[1]
    rel = [np_mi(X[:, i], y) for i in range(nf)]
    if criterion == "mim":
        return sorted(range(nf), key=lambda i: (-rel[i], i))[:k]
    red = np.zeros(nf)
    cred = np.zeros(nf)
    mod = np.zeros(nf)
    cnt = 0
    selected = []
    remaining = list(range(nf))
    while len(selected) < k:
        if criterion == "mrmr":
            scores = {i: rel[i] - (red[i] / cnt if cnt else 0.0) for i in remaining}
        elif criterion == "jmi":
            scores = {
                i: rel[i] - (red[i] / cnt if cnt else 0.0) + (cred[i] / cnt if cnt else 0.0)
                for i in remaining
            }
        elif criterion in ("cmim", "if", "icap"):
            scores = {i: rel[i] - mod[i] for i in remaining}
        elif criterion == "mifs":
            scores = {i: rel[i] - red[i] for i in remaining}
        best = max(remaining, key=lambda i: (scores[i], -i))
        selected.append(best)
        remaining.remove(best)
        if len(selected) >= k or not remaining:
            break
        cnt += 1
        for i in remaining:
            mi = np_mi(X[:, i], X[:, best])
            cmi = np_cmi(X[:, i], X[:, best], y)
            red[i] += mi
            cred[i] += cmi
            if criterion in ("cmim", "if"):
                mod[i] = max(mod[i], mi - cmi)
            elif criterion == "icap":
                mod[i] += max(0.0, mi - cmi)
    return selected


@pytest.fixture(scope="module")
def data(spark, sf_dir):
    df = features_dense(spark, sf_dir)
    pdf = df.toPandas()
    X = pdf[FEATURE_NAMES].to_numpy(dtype=np.int64)
    y = pdf["label"].to_numpy(dtype=np.int64)
    return df, X, y


@pytest.mark.parametrize("criterion", ["mim", "mrmr", "jmi", "cmim", "icap", "mifs"])
def test_selection_matches_numpy_oracle(data, criterion):
    df, X, y = data
    # greedy paths are prefix-consistent, so one k=6 oracle run checks
    # both fits; k=6 runs several speculative loop passes
    expect = np_greedy(X, y, 6, criterion)
    for k in (4, 6):
        model = InfoThSelector(n_to_select=k, criterion=criterion, emit_f32=False).fit(df)
        got = [FEATURE_NAMES.index(c) for c, _ in model.selection_path]
        assert got == expect[:k], f"{criterion} k={k}: {got} != {expect[:k]}"


def test_relevances_match_numpy(data):
    df, X, y = data
    model = InfoThSelector(n_to_select=2, criterion="mim", emit_f32=False).fit(df)
    for i, c in enumerate(FEATURE_NAMES):
        assert model.relevances[c] == pytest.approx(np_mi(X[:, i], y), rel=1e-9)


def test_mim_equals_topk_by_mi(data):
    df, X, y = data
    model = InfoThSelector(n_to_select=5, criterion="mim", emit_f32=False).fit(df)
    ranked = sorted(FEATURE_NAMES, key=lambda c: (-model.relevances[c], FEATURE_NAMES.index(c)))
    assert [c for c, _ in model.selection_path] == ranked[:5]


def test_transform_projects_selected(data):
    df, _, _ = data
    model = InfoThSelector(n_to_select=3, criterion="mrmr").fit(df)
    out = model.transform(df)
    assert out.columns == model.selected_cols + ["label"]
    assert out.count() == df.count()
    assert len(model.selected_cols) == 3
    # ascending order like the reference (InfoSelector.scala:491)
    idx = [FEATURE_NAMES.index(c) for c in model.selected_cols]
    assert idx == sorted(idx)


def test_tie_key_quantization_is_engine_identical():
    # r6 advisor finding: Python round() (half-to-even on the binary
    # double) and DuckDB round() (half-away-from-zero on the decimal
    # rendering) disagree near x.xxxxx5 boundaries — round(0.123455, 5)
    # is 0.12345 in Python, 0.12346 in DuckDB.  The floor-quantization
    # must agree with DuckDB's spelling on exactly those inputs.
    import duckdb

    from flink_infotheoretic_feature_selection_spark.selector import _tie_key

    duck = duckdb.connect()
    boundary = [0.123455, 0.123465, -0.123455, 0.999995, 1e-06, 0.0,
                0.5 / 1e5, 1.5 / 1e5, 0.728115, -0.000005]
    for x in boundary:
        d = duck.execute(
            "SELECT CAST(floor(CAST(? AS DOUBLE) * 100000.0 + 0.5) AS BIGINT)",
            [x],
        ).fetchone()[0]
        assert _tie_key(x, 5) == d, x
    # sanity: the engines' own round() DOES diverge on the motivating
    # input, which is why round() is not the quantizer.
    assert round(0.123455, 5) != duck.execute(
        "SELECT round(CAST(0.123455 AS DOUBLE), 5)"
    ).fetchone()[0]
    # precision=None passes the raw score through.
    assert _tie_key(0.123455, None) == 0.123455


def test_tie_precision_full_mode_still_deterministic(spark):
    # tie_precision=None → full-precision argmax.  f0 and f1 are exact
    # duplicates so every criterion scores them bit-identically at any
    # precision; the id tiebreak must pick the lower index first.  f2 is
    # noise orthogonal to the label.
    rows = [(i % 3, i % 3, (i * 7) % 4, i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "f0 int, f1 int, f2 int, label int")
    for tp in (None, 5):
        model = InfoThSelector(
            n_to_select=2,
            criterion="mrmr",
            feature_cols=["f0", "f1", "f2"],
            emit_f32=False,
            tie_precision=tp,
        ).fit(df)
        assert [c for c, _ in model.selection_path] == ["f0", "f1"], tp


def test_n_to_select_too_large_raises(data):
    df, _, _ = data
    with pytest.raises(ValueError):
        InfoThSelector(n_to_select=99).fit(df)


@pytest.mark.parametrize("n_to_select", [0, -1])
def test_constructor_rejects_non_positive_n_to_select(n_to_select):
    # -1 used to slice the MIM ranking from the end (all but one feature)
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    with pytest.raises(ValueError, match="n_to_select"):
        InfoThSelector(n_to_select=n_to_select, criterion="mim")
    with pytest.raises(ValueError, match="n_to_select"):
        SparseInfoThSelector(n_features=4, n_to_select=n_to_select)


def test_constructor_rejects_unknown_criterion():
    # used to surface only after the pack, stats and relevance jobs ran
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    with pytest.raises(ValueError, match="unknown criterion"):
        InfoThSelector(criterion="mrnr")
    with pytest.raises(ValueError, match="unknown criterion"):
        SparseInfoThSelector(n_features=4, criterion="mrnr")
    # names are case-insensitive, as in criterion_factory
    assert InfoThSelector(criterion="MRMR").criterion == "MRMR"


def test_validate_rejects_null_features(spark):
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector
    import pytest

    df = spark.createDataFrame(
        [(1, 0, 0), (None, 1, 1), (2, 0, 1)], "f0 int, f1 int, label int"
    )
    with pytest.raises(ValueError, match=r"NULL-bearing: \['f0'\]"):
        InfoThSelector(n_to_select=1, feature_cols=["f0", "f1"]).fit(df)


# SparseInfoThSelector routes: the local route (default bound) and the
# SQL route with the local bound at 0
SPARSE_REGIMES = ["local", "sql"]


def _sparse_selector(regime, monkeypatch, **kw):
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    if regime != "local":
        monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    return SparseInfoThSelector(**kw)


@pytest.mark.parametrize("regime", SPARSE_REGIMES)
def test_sparse_fit_rejects_negative_values_and_oversized_dims(spark, regime, monkeypatch):
    # numpy fancy indexing would silently WRAP a negative x to the end of
    # the histogram; and an uncapped dim would size driver ndarrays by a
    # single corrupt cell. Both must be loud errors like the dense path.
    import pytest

    sel = _sparse_selector(regime, monkeypatch, n_features=2, n_to_select=1)
    labels = spark.createDataFrame(
        [(r, r % 2) for r in range(6)], "row_id long, y int"
    )
    neg = spark.createDataFrame(
        [(0, 0, -1), (1, 1, 2), (2, 0, 1)], "row_id long, feat int, x int"
    )
    with pytest.raises(ValueError, match=">= 0"):
        sel.fit(neg, labels)

    huge = spark.createDataFrame(
        [(0, 0, 1_000_000), (1, 1, 2)], "row_id long, feat int, x int"
    )
    with pytest.raises(ValueError, match=r"dim>256\): \{0: 1000001\}"):
        sel.fit(huge, labels)


@pytest.mark.parametrize("regime", SPARSE_REGIMES)
def test_sparse_fit_rejects_bad_feat_and_null_cells(spark, regime, monkeypatch):
    # an out-of-range feat used to surface as a bare KeyError (SQL) or be
    # silently dropped (packed); a NULL feat or x as a TypeError or a
    # Python-worker exception — every route now raises one ValueError
    sel = _sparse_selector(regime, monkeypatch, n_features=2, n_to_select=1)
    labels = spark.createDataFrame(
        [(r, r % 2) for r in range(6)], "row_id long, y int"
    )
    cases = [
        ([(0, 0, 1), (1, 2, 1)], r"\[0, n_features=2\)"),
        ([(0, 0, 1), (1, -1, 1)], r"\[0, n_features=2\)"),
        ([(0, 0, 1), (1, 1, None)], "NULL"),
        ([(0, 0, 1), (1, None, 3)], "NULL"),
    ]
    for rows, match in cases:
        nz = spark.createDataFrame(rows, "row_id long, feat int, x int")
        with pytest.raises(ValueError, match=match):
            sel.fit(nz, labels)
    # a faulty cell whose row_id has no label row is dropped by the join
    # semantics in every route, as before
    orphan = spark.createDataFrame(
        [(0, 0, 1), (1, 1, 2), (99, 7, None)], "row_id long, feat int, x int"
    )
    assert sel.fit(orphan, labels).fit_timings["sparse_route"] == regime


def test_empty_input_raises_clear_error(spark):
    import pytest
    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        feature_dims_and_count,
    )

    empty = spark.createDataFrame([], "f0 int, label int")
    with pytest.raises(ValueError, match="empty or columns are all-NULL"):
        feature_dims_and_count(empty, ["f0"])


# ---- r8 review hardening ---------------------------------------------------


def test_feature_dims_raises_instead_of_clamping(spark):
    # silent clamping let out-of-range values ALIAS into neighboring
    # histogram cells in the Arrow bincount routes — over-cap must error
    import pytest
    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        feature_dims_and_count,
    )

    df = spark.createDataFrame([(300, 0), (1, 1)], "f0 int, label int")
    with pytest.raises(ValueError, match="byte range"):
        feature_dims_and_count(df, ["f0", "label"])


def test_check_int32_rows_proof():
    # r9: the hot-path guard is an O(1) row-count proof — a bincount
    # cell can never exceed the number of rows counted, so n_rows at
    # the int32 boundary passes and one past it raises
    import pytest
    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        check_int32_rows,
    )

    check_int32_rows(0)
    check_int32_rows(2**31 - 1)
    with pytest.raises(ValueError, match="int32"):
        check_int32_rows(2**31)


def test_transform_raises_on_missing_selected_column(spark):
    import pytest
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelectorModel

    m = InfoThSelectorModel(
        feature_cols=["f0", "f1"], label_col="label",
        selected_cols=["f0", "f1"], selection_path=[], relevances={},
    )
    df = spark.createDataFrame([(1, 0)], "f0 int, label int")  # f1 missing
    with pytest.raises(ValueError, match="f1"):
        m.transform(df)
    # missing LABEL stays fine (serving data is unlabeled)
    unlabeled = spark.createDataFrame([(1, 2)], "f0 int, f1 int")
    assert m.transform(unlabeled).columns == ["f0", "f1"]


def test_validate_rejects_null_label(spark):
    import pytest
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 1, None), (2, 0, 1)], "f0 int, f1 int, label int"
    )
    with pytest.raises(ValueError, match=r"NULL-bearing: \['label'\]"):
        InfoThSelector(n_to_select=1, feature_cols=["f0", "f1"]).fit(df)


@pytest.mark.parametrize("regime", SPARSE_REGIMES)
def test_sparse_fit_clear_errors_on_bad_labels(spark, regime, monkeypatch):
    import pytest

    sel = _sparse_selector(regime, monkeypatch, n_features=2, n_to_select=1)
    nz = spark.createDataFrame([(0, 0, 1), (1, 1, 2)], "row_id long, feat int, x int")
    empty = spark.createDataFrame([], "row_id long, y int")
    with pytest.raises(ValueError, match="empty"):
        sel.fit(nz, empty)

    nully = spark.createDataFrame([(0, None), (1, 1)], "row_id long, y int")
    with pytest.raises(ValueError, match="NULL"):
        sel.fit(nz, nully)

    bigy = spark.createDataFrame([(0, 1), (1, 50_000_000)], "row_id long, y int")
    with pytest.raises(ValueError, match="byte range"):
        sel.fit(nz, bigy)

    negy = spark.createDataFrame([(0, 1), (1, -1)], "row_id long, y int")
    with pytest.raises(ValueError, match=">= 0"):
        sel.fit(nz, negy)


@pytest.mark.parametrize("regime", SPARSE_REGIMES)
def test_sparse_fit_rejects_duplicate_cells(spark, regime, monkeypatch):
    # duplicate (row_id, feat) cells over-count nonzeros; a labelled
    # duplicate must be a loud error on every route, at any copy count,
    # while duplicates of an orphan cell (no label row) drop with it
    import pytest

    sel = _sparse_selector(regime, monkeypatch, n_features=2, n_to_select=1)
    labels = spark.createDataFrame([(r, r % 2) for r in range(3)], "row_id long, y int")
    for copies in (2, 3):
        dup = spark.createDataFrame(
            [(0, 0, 2)] * copies + [(1, 1, 1)], "row_id long, feat int, x int"
        )
        with pytest.raises(ValueError, match="duplicate"):
            sel.fit(dup, labels)
    orphan = spark.createDataFrame(
        [(0, 0, 2), (1, 1, 1), (9, 0, 2), (9, 0, 2)], "row_id long, feat int, x int"
    )
    assert sel.fit(orphan, labels).fit_timings["sparse_route"] == regime


def test_mim_reports_zero_iterations(spark):
    from flink_infotheoretic_feature_selection_spark.datasets import features_dense
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

    df = features_dense(spark, "/root/testdata/sf0.001")
    m = InfoThSelector(n_to_select=4, criterion="mim").fit(df)
    assert m.fit_timings["iterations"] == 0


@pytest.mark.parametrize("index_cols", [["x", "y"], ["x", "z", "y"]])
def test_sparse_fill_matches_row_loop_and_rejects_negatives(index_cols):
    # the sparse SQL route's collected-histogram fill (2-D relevance
    # tables and the per-iteration 3-D tables, which swap z in front of
    # the class) against the per-row loop it replaced
    import pandas as pd

    from flink_infotheoretic_feature_selection_spark.selector import _scatter_counts

    rng = np.random.default_rng(7)
    shape = {"x": 5, "y": 3, "z": 4}
    dims = [shape[c] for c in index_cols]
    cells = sorted(
        {(int(f), *(int(rng.integers(0, d)) for d in dims)) for f in rng.integers(0, 4, 200)}
    )
    pdf = pd.DataFrame(cells, columns=["feat", *index_cols])
    pdf["cnt"] = rng.integers(1, 1000, len(pdf))
    pdf = pdf.sample(frac=1.0, random_state=3)  # order must not matter

    got = {f: np.zeros(dims, dtype=np.int64) for f in range(4)}
    _scatter_counts(got, pdf, index_cols)
    want = {f: np.zeros(dims, dtype=np.int64) for f in range(4)}
    for row in pdf.itertuples(index=False):
        want[row.feat][tuple(getattr(row, c) for c in index_cols)] = row.cnt
    for f in range(4):
        assert (got[f] == want[f]).all()

    # a negative index would wrap to the end of the table: loud error,
    # whichever index column carries it
    for c in index_cols:
        bad = pdf.copy()
        bad.iloc[0, bad.columns.get_loc(c)] = -1
        with pytest.raises(ValueError, match=">= 0"):
            _scatter_counts({f: np.zeros(dims, dtype=np.int64) for f in range(4)}, bad, index_cols)


# ---- greedy_path: the one selection loop, with a NumPy score pass ----------

_CRITERIA = ["mim", "mifs", "jmi", "mrmr", "cmim", "if", "icap"]


@pytest.fixture(scope="module")
def numpy_scores():
    """Relevances and a counting ``score_pass`` over a small random
    matrix whose pairs come from ``mi_and_cmi`` on ``np.bincount``
    tables — no Spark.  Returns ``(feats, relevances, make_pass)``;
    ``make_pass(calls)`` records each call's ``(n_remaining, conds)``."""
    from flink_infotheoretic_feature_selection_spark.functions.infotheory import (
        mi_and_cmi,
        mutual_info,
    )

    rng = np.random.default_rng(7)
    n, nf = 400, 10
    X = rng.integers(0, 4, (n, nf))
    X[:, 5] = X[:, 2]  # a redundant twin, so redundancy terms matter
    y = (X[:, 0] + X[:, 2] + rng.integers(0, 2, n)) % 3
    feats = [f"f{i}" for i in range(nf)]
    col = dict(zip(feats, X.T))
    relevances = {
        c: mutual_info(np.bincount(col[c] * 3 + y, minlength=12).reshape(4, 3), n)
        for c in feats
    }

    def make_pass(calls):
        def score_pass(remaining, conds):
            calls.append((len(remaining), list(conds)))
            return {
                s: {
                    c: mi_and_cmi(
                        np.bincount(
                            (col[c] * 4 + col[s]) * 3 + y, minlength=48
                        ).reshape(4, 4, 3),
                        n,
                    )
                    for c in remaining
                }
                for s in conds
            }

        return score_pass

    return feats, relevances, make_pass


@pytest.mark.parametrize("criterion", _CRITERIA)
def test_greedy_path_identical_across_speculation_widths(numpy_scores, criterion):
    from flink_infotheoretic_feature_selection_spark.selector import greedy_path

    feats, relevances, make_pass = numpy_scores
    k = 6
    runs = {}
    for width in (0, 1, 3, 7, "auto"):
        calls = []
        path, passes, hits = greedy_path(
            feats, relevances, criterion, 1.0, k, 5, make_pass(calls), width
        )
        runs[width] = path
        assert len(path) == k
        assert passes == len(calls)
        if criterion == "mim":
            assert (passes, hits) == (0, 0)
            continue
        assert passes + hits == k - 1, width
        for n_remaining, conds in calls:
            # the winner plus at most the conds the fit can still use
            still_needed = k - (len(feats) - n_remaining) - 1
            assert 1 <= len(conds) <= 1 + still_needed
            if width != "auto":
                assert len(conds) <= 1 + width
    for width, path in runs.items():
        assert path == runs[0], width  # same features AND scores


@pytest.mark.parametrize("criterion", ["mim", "mrmr"])
def test_greedy_path_tie_rule(criterion):
    """Scores equal at 5 decimals pick the lowest feature index; with
    ``tie_precision=None`` they order by raw score."""
    from flink_infotheoretic_feature_selection_spark.selector import greedy_path

    feats = ["a", "b", "c"]
    relevances = {"a": 0.1000001, "b": 0.1000004, "c": 0.1000002}

    def no_redundancy(remaining, conds):
        return {s: {c: (0.0, 0.0) for c in remaining} for s in conds}

    for precision, order in ((5, ["a", "b", "c"]), (None, ["b", "c", "a"])):
        path, _, _ = greedy_path(
            feats, relevances, criterion, 1.0, 3, precision, no_redundancy, 0
        )
        assert [c for c, _ in path] == order, precision
