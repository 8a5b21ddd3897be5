"""The benchmark's workloads, one request type each.

``open_workload(spark, name, data_dir)`` returns a :class:`Workload`:
``request()`` issues one request exactly as a user would and returns its
output; ``check(output)`` compares that output with the expected result and
returns ``None`` when it matches, else a one-line reason.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from inputs import RAW_NUMERICS, SPARSE_FEATURES
from oracle import bucketize, greedy_select


@dataclass
class Workload:
    request: Callable[[], Any]
    check: Callable[[Any], str | None]


def _path_of(model) -> list[str]:
    return [c for c, _ in model.selection_path]


def _selection_check(expected: list[str]) -> Callable[[Any], str | None]:
    def check(model) -> str | None:
        got = _path_of(model)
        return None if got == expected else f"selected {got}, expected {expected}"

    return check


def _splits_check(raw, splits: dict[str, list[float]], num_buckets: int) -> str | None:
    """Splits a correct equal-frequency fit can have, judged on the raw
    columns: strictly ascending, ±inf at the ends, every interior split a
    (float32-rounded) value of the column.  A column with fewer distinct
    values than buckets gets one split per value.  On any other column the
    k-th split sits at the k-th equal-frequency target: the share of rows
    at or below it is within 0.025 (five standard errors of the
    discretizer's 10,000-row sample) plus twice the largest share one value
    holds of ``k / num_buckets``."""
    for c in RAW_NUMERICS:
        s = np.asarray(splits[c], dtype=np.float64)
        if not (s[0] == -np.inf and s[-1] == np.inf and np.all(np.diff(s) > 0)):
            return f"{c}: splits {s.tolist()} are not ascending from -inf to +inf"
        values = np.sort(raw[c].astype(np.float32).astype(np.float64))
        uniq, counts = np.unique(values, return_counts=True)
        inner = s[1:-1]
        if not np.isin(inner, uniq).all():
            return f"{c}: a split is not a value of the column"
        if len(uniq) < num_buckets:
            if not np.array_equal(inner, uniq):
                return f"{c}: {len(uniq)} distinct values but splits {s.tolist()}"
            continue
        if len(inner) > num_buckets:  # the walk may emit one split past the last target
            return f"{c}: {len(inner) + 1} buckets, at most {num_buckets + 1} possible"
        at_or_below = np.searchsorted(values, inner, side="right") / len(values)
        target = np.arange(1, len(inner) + 1) / num_buckets
        tol = 0.025 + 2 * counts.max() / len(values)
        if np.abs(at_or_below - target).max() > tol:
            return f"{c}: splits at row shares {at_or_below.round(3).tolist()} are not equal-frequency"
    return None


def serve(model, df) -> tuple[int, list[tuple[int, int]]]:
    """The serving transform as a user runs it: ``model.transform`` and an
    action that reads every selected column, returning the row count and,
    per column, the sum and the sum of squares of its values."""
    from pyspark.sql import functions as F

    out = model.transform(df)
    cols = model.selected_cols
    row = out.agg(
        F.count("*"),
        *[F.sum(F.col(c).cast("long")) for c in cols],
        *[F.sum(F.col(c).cast("long") * F.col(c).cast("long")) for c in cols],
    ).collect()[0]
    return int(row[0]), [(int(row[1 + i]), int(row[1 + len(cols) + i])) for i in range(len(cols))]


def open_workload(spark, name: str, data_dir: str) -> Workload:
    from flink_infotheoretic_feature_selection_spark import (
        EqualFrequencyDiscretizer,
        InfoThSelector,
    )

    with open(f"{data_dir}/expected.json") as fh:
        expected = json.load(fh)
    k, criterion = expected["n_to_select"], expected["criterion"]

    if name == "tall_derived":
        from flink_infotheoretic_feature_selection_spark.datasets import features_dense

        def request():
            df = features_dense(spark, data_dir)
            return InfoThSelector(n_to_select=k, criterion=criterion).fit(df)

        return Workload(request, _selection_check(expected["selection"]))

    if name == "sparse_long":
        from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

        def request():
            nonzeros = spark.read.parquet(f"{data_dir}/nonzeros.parquet")
            labels = spark.read.parquet(f"{data_dir}/labels.parquet")
            return SparseInfoThSelector(
                n_features=SPARSE_FEATURES, n_to_select=k, criterion=criterion
            ).fit(nonzeros, labels)

        return Workload(request, _selection_check(expected["selection"]))

    if name == "discretize_mim":
        num_buckets = 32
        label_sql = (
            "CAST(CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END"
            " AS TINYINT) AS label"
        )
        bucket_cols = [f"{c}_bucket" for c in RAW_NUMERICS]
        raw = np.load(f"{data_dir}/raw.npz")
        oracle_cache: dict[tuple, tuple] = {}

        def request():
            df = spark.read.parquet(f"{data_dir}/lineitem.parquet").selectExpr(
                *RAW_NUMERICS, label_sql
            )
            disc = EqualFrequencyDiscretizer(
                input_cols=RAW_NUMERICS, num_buckets=num_buckets, as_bytes=True
            ).fit(df)
            bucketed = disc.transform(df).select(*bucket_cols, "label")
            model = InfoThSelector(n_to_select=k, criterion=criterion).fit(bucketed)
            return disc.splits, _path_of(model), model.selected_cols, serve(model, bucketed)

        def check(out) -> str | None:
            splits, got, selected, served = out
            key = tuple(tuple(splits[c]) for c in RAW_NUMERICS)
            if key not in oracle_cache:
                bad = _splits_check(raw, splits, num_buckets)
                buckets = {
                    f"{c}_bucket": bucketize(raw[c], splits[c]) for c in RAW_NUMERICS
                }
                path = greedy_select(list(buckets.values()), raw["label"], k, criterion)
                oracle_cache[key] = (bad, [bucket_cols[i] for i in path], buckets)
            bad, want, buckets = oracle_cache[key]
            if bad:
                return bad
            if got != want:
                return f"selected {got}, expected {want}"
            want_served = (
                expected["rows"],
                [(int(buckets[c].sum()), int((buckets[c] ** 2).sum())) for c in selected],
            )
            if served != want_served:
                return f"transform output (rows, sums) {served}, expected {want_served}"
            return None

        return Workload(request, check)

    raise ValueError(f"unknown workload {name!r}")
