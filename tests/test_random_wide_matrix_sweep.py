"""Randomized WIDE-matrix cross-engine sweep (r9).

The `selected_wide` gate (r12 consolidated criterion-column form,
formerly selected_wide_mrmr et al.) pins the wide selection path (pack
column-count fast path + driver-merge regime) on ONE staged 631x2048
fixture; this sweep re-verifies the same path on random wide shapes —
random feature count (150-320), row count, per-feature dims, and
label-leak structure — against the parameterized rid-join DuckDB oracle
(`__spark_entry__.wide_selection_oracle_sql`), so the gate cannot pass
by fixture coincidence.  Scores compare at the 5-decimal gate
quantization (both sides emit through the same IEEE q5 steps).

Two seeds pinned here (suite budget); tools/soak_random_sweeps.py runs
a wider range per round.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector


def _write_wide_matrix(path: str, seed: int) -> tuple[int, int]:
    rng = np.random.default_rng(seed)
    nf = int(rng.integers(150, 321))
    n = int(rng.integers(800, 1600))
    y = rng.integers(0, int(rng.integers(2, 4)), size=n)
    cols: dict = {"rid": pa.array(np.arange(n, dtype=np.int64))}
    leak_mod = int(rng.integers(3, 7))
    for j in range(nf):
        dim = int(rng.integers(2, 10))
        if j % leak_mod == 0:
            noise = rng.integers(0, dim, size=n)
            flip = rng.random(n) < float(rng.uniform(0.15, 0.85))
            vals = np.where(flip, noise, y % dim)
        else:
            vals = rng.integers(0, dim, size=n)
        cols[f"f{j}"] = pa.array(vals.astype(np.int32))
    cols["label"] = pa.array(y.astype(np.int32))
    pq.write_table(pa.table(cols), path)
    return nf, n


# (seed, criterion, route) — r10 extends the sweep across the criterion
# update algebras (VERDICT ask #7) and both pack routes, which the input
# picks: the "scan" rows feed a value-identical derived frame, so the
# fit takes the r9 mapInArrow substrate the staged mRMR gate owns; the
# "auto" rows feed the pruned bare scan, which the fit direct-packs.
# The local bound is set to 0 so that these small matrices take the
# packs; the local route's bit-identity to both is pinned in
# tests/test_direct_pack.py and tests/test_packed.py.
@pytest.mark.parametrize(
    "seed, criterion, route",
    [
        (31, "mrmr", "scan"),
        (32, "mrmr", "auto"),
        (33, "cmim", "auto"),
        (34, "jmi", "scan"),
        (35, "icap", "auto"),
        (36, "mifs", "scan"),
    ],
)
def test_wide_selection_cross_engine_on_random_matrix(
    spark, tmp_path, monkeypatch, seed, criterion, route
):
    monkeypatch.setattr(InfoThSelector, "LOCAL_MAX_BYTES", 0)
    k = 4
    path = str(tmp_path / f"wide_{seed}.parquet")
    nf, n = _write_wide_matrix(path, seed)

    feats = [f"f{j}" for j in range(nf)]
    # select drops rid so the pack column-count fast path arms — the
    # exact route the staged gate pins (see _q_selected_wide)
    df = spark.read.parquet(path).select(*feats, "label")
    if route == "scan":
        # greatest() survives the optimizer (`+ 0` is folded away) and
        # keeps the column set, so the wide fast path still arms
        df = df.withColumn("label", F.greatest("label", F.lit(0)))
    model = InfoThSelector(
        n_to_select=k,
        criterion=criterion,
        feature_cols=feats,
        emit_f32=False,
    ).fit(df)
    assert model.fit_timings["pack_route"] == ("direct" if route == "auto" else route)
    got = [
        (step, int(c[1:]), entry_mod._q5(s))
        for step, (c, s) in enumerate(model.selection_path)
    ]

    sql = entry_mod.wide_selection_oracle_sql(path=path, nf=nf, k=k, criterion=criterion)
    exp = [
        (int(r[0]), int(r[1]), float(r[2]))
        for r in duckdb.connect().execute(sql).fetchall()
    ]
    assert got == sorted(exp), (
        f"seed {seed} ({criterion}/{route}, nf={nf}, n={n}): {got} vs {sorted(exp)}"
    )
