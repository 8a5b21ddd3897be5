"""The byte contract every fit enforces (reference semantics) + hypothesis
property tests."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_infotheoretic_feature_selection_spark.functions.criteria import criterion_factory
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector


def test_validate_rejects_out_of_range(spark):
    df = spark.createDataFrame(
        [(1, 200, 0), (2, -3, 1), (0, 5, 0)], "f0 int, f1 int, label int"
    )
    with pytest.raises(ValueError, match=r"non-null integers.*\['f1'\]"):
        InfoThSelector(n_to_select=1).fit(df)


def test_validate_rejects_non_integral(spark):
    df = spark.createDataFrame(
        [(1.0, 0.5, 0), (2.0, 1.0, 1)], "f0 double, f1 double, label int"
    )
    with pytest.raises(ValueError, match=r"non-null integers.*\['f1'\]"):
        InfoThSelector(n_to_select=1).fit(df)


def test_validate_accepts_engine_range(spark):
    # integers 0..255 pass (the range both engines actually index by)
    df = spark.createDataFrame(
        [(0, 255, 0), (0, 1, 1), (5, 128, 0), (3, 2, 1)],
        "f0 int, f1 int, label int",
    )
    model = InfoThSelector(n_to_select=1, emit_f32=False).fit(df)
    assert len(model.selected_cols) == 1


def test_validate_rejects_negative(spark):
    df = spark.createDataFrame([(1, -1, 0), (2, 3, 1)], "f0 int, f1 int, label int")
    with pytest.raises(ValueError, match=r"non-null integers.*\['f1'\]"):
        InfoThSelector(n_to_select=1).fit(df)


# ---------------------------------------------------------------------------
# Criterion algebra properties (SURVEY.md §2.7 exact update table)
# ---------------------------------------------------------------------------
updates = st.lists(
    st.tuples(
        st.floats(0, 5, allow_nan=False, allow_infinity=False),
        st.floats(0, 5, allow_nan=False, allow_infinity=False),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(rel=st.floats(0, 10, allow_nan=False), seq=updates)
def test_mrmr_score_closed_form(rel, seq):
    c = criterion_factory("mrmr").init(rel)
    for mi, cmi in seq:
        c.update(mi, cmi)
    k = len(seq)
    expect = rel - (sum(mi for mi, _ in seq) / k if k else 0.0)
    assert c.score == pytest.approx(expect, rel=1e-12, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(rel=st.floats(0, 10, allow_nan=False), seq=updates)
def test_jmi_score_closed_form(rel, seq):
    c = criterion_factory("jmi").init(rel)
    for mi, cmi in seq:
        c.update(mi, cmi)
    k = len(seq)
    expect = rel + ((sum(c_ for _, c_ in seq) - sum(m for m, _ in seq)) / k if k else 0.0)
    assert c.score == pytest.approx(expect, rel=1e-12, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(rel=st.floats(0, 10, allow_nan=False), seq=updates)
def test_cmim_equals_if_and_is_max_modifier(rel, seq):
    c1 = criterion_factory("cmim").init(rel)
    c2 = criterion_factory("if").init(rel)
    for mi, cmi in seq:
        c1.update(mi, cmi)
        c2.update(mi, cmi)
    assert c1.score == c2.score  # IF ≡ CMIM (InfoCriterion.scala:191-193)
    # modifier = max over updates of (mi − cmi), floored at the initial 0
    expect = rel - max([0.0, *[m - c_ for m, c_ in seq]])
    assert c1.score == pytest.approx(expect, rel=1e-12, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(rel=st.floats(0, 10, allow_nan=False), beta=st.floats(0, 2, allow_nan=False), seq=updates)
def test_mifs_score_closed_form(rel, beta, seq):
    c = criterion_factory("mifs", beta=beta).init(rel)
    for mi, cmi in seq:
        c.update(mi, cmi)
    expect = rel - beta * sum(mi for mi, _ in seq)
    assert c.score == pytest.approx(expect, rel=1e-9, abs=1e-9)


@settings(max_examples=200, deadline=None)
@given(rel=st.floats(0, 10, allow_nan=False), seq=updates)
def test_icap_monotone_nonincreasing_score(rel, seq):
    c = criterion_factory("icap").init(rel)
    prev = c.score
    for mi, cmi in seq:
        c.update(mi, cmi)
        assert c.score <= prev + 1e-12  # modifier only accumulates max(0, ·)
        prev = c.score


def test_collect_hist2d_rejects_negative_values(spark):
    # Without this, numpy fancy indexing would wrap a negative feature
    # value to the last histogram row and silently corrupt MI.
    import pytest as _pytest

    from flink_infotheoretic_feature_selection_spark.operators.histogram import (
        collect_hist2d,
        hist2d,
    )

    df = spark.createDataFrame(
        [(-1, 0), (2, 1), (3, 0)], "f0 tinyint, label tinyint"
    )
    h = hist2d(df, ["f0"], "label", {"f0": 4}, 2)
    with _pytest.raises(ValueError, match="out of range"):
        collect_hist2d(h, ["f0"], {"f0": 4}, 2)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_min_label_union_find_matches_transitive_closure(edges):
    from flink_infotheoretic_feature_selection_spark.operators.dedup import (
        min_label_union_find,
    )

    got = min_label_union_find(edges)
    # brute-force reference: repeatedly propagate min over adjacency
    nodes = {n for e in edges for n in e}
    assert set(got) == nodes
    adj = {n: {n} for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label = {n: n for n in nodes}
    for _ in range(len(nodes) + 1):
        changed = False
        for n in nodes:
            m = min(label[x] for x in adj[n] | {n})
            if m < label[n]:
                label[n] = m
                changed = True
        if not changed:
            break
    assert got == label
