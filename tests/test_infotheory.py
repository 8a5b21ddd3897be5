"""Unit tests for MI/CMI/entropy against closed-form values (SURVEY.md §5)."""

import numpy as np
import pytest

from flink_infotheoretic_feature_selection_spark.functions.infotheory import entropy, mi_and_cmi, mutual_info


def test_mi_independent_is_zero():
    # p(x,y) = p(x)p(y) exactly → MI = 0
    counts = np.array([[10, 30], [20, 60]])
    assert mutual_info(counts, counts.sum()) == pytest.approx(0.0, abs=1e-12)


def test_mi_identical_equals_entropy():
    # Y == X → MI(X;Y) = H(X)
    counts = np.diag([25, 25, 50])
    n = counts.sum()
    h = entropy(np.array([25, 25, 50]), n)
    assert mutual_info(counts, n) == pytest.approx(h, rel=1e-12)
    assert h == pytest.approx(1.5)  # 2·(.25·2) + .5·1


def test_mi_hand_computed():
    # joint [[1/2, 1/4], [0, 1/4]]
    counts = np.array([[2, 1], [0, 1]])
    px = [0.75, 0.25]
    py = [0.5, 0.5]
    p = counts / 4
    expect = sum(
        p[i][j] * np.log2(p[i][j] / (px[i] * py[j]))
        for i in range(2)
        for j in range(2)
        if p[i][j] > 0
    )
    assert mutual_info(counts, 4) == pytest.approx(expect, rel=1e-12)


def test_cmi_conditionally_independent():
    # X ⊥ Y | Z: within each z-slice, joint = product of slice marginals
    z0 = np.outer([8, 8], [4, 12]) // 4  # independent within slice
    z1 = np.outer([6, 2], [4, 4]) // 4
    counts = np.stack([z0, z1], axis=2)
    n = counts.sum()
    mi, cmi = mi_and_cmi(counts, n)
    assert cmi == pytest.approx(0.0, abs=1e-12)
    # marginalized over z, X and Y need not be independent
    assert mi >= 0


def test_cmi_hand_computed():
    rng = np.random.default_rng(7)
    counts = rng.integers(0, 20, size=(3, 4, 2))
    n = counts.sum()
    mi, cmi = mi_and_cmi(counts, n)
    # brute-force CMI
    c = counts / n
    expect = 0.0
    for z in range(2):
        pz = c[:, :, z].sum()
        for x in range(3):
            for y in range(4):
                pxyz = c[x, y, z]
                pxz = c[x, :, z].sum()
                pyz = c[:, y, z].sum()
                if pxyz > 0 and pxz > 0 and pyz > 0:
                    expect += pxyz * np.log2(pz * pxyz / (pxz * pyz))
    assert cmi == pytest.approx(expect, rel=1e-10)
    # MI from the 2-D marginal
    assert mi == pytest.approx(mutual_info(counts.sum(axis=2), n), rel=1e-12)


def test_mi_nonnegative_random():
    rng = np.random.default_rng(42)
    for _ in range(20):
        counts = rng.integers(0, 50, size=(5, 3))
        if counts.sum() == 0:
            continue
        assert mutual_info(counts, counts.sum()) >= -1e-12


def test_arrow_hist_routes_handle_y_col_among_features(spark):
    # y_col may also be one of the features: the hist2d cells must still
    # equal np.bincount tables of the input, the y feature's own table
    # included (its cells sit on the diagonal).
    from flink_infotheoretic_feature_selection_spark.operators.histogram import hist2d

    rows = [(0, 1, 0), (1, 0, 1), (1, 1, 1), (0, 0, 0)]
    df = spark.createDataFrame(rows, "f0 int, f1 int, label int")
    dims = {"f0": 2, "f1": 2}
    # y participates as a feature too: y_col == 'f1'
    via_codegen = {
        tuple(r) for r in hist2d(df, ["f0", "f1"], "f1", dims, 2).collect()
    }
    m = np.array(rows)
    want = set()
    for fi in range(2):
        t = np.bincount(m[:, fi] * 2 + m[:, 1], minlength=4).reshape(2, 2)
        want |= {(fi, int(x), int(y), int(t[x, y])) for x, y in zip(*np.nonzero(t))}
    assert via_codegen == want
