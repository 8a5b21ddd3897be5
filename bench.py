"""Benchmark harness (BASELINE.md B1-B7).

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Every query is timed MIN-OF-N (default 3; `--min-of N` or
$SPARK_GRAFT_MIN_OF overrides, 1 = the old single-shot mode).  One-shot
numbers under host load read up to 4-10x the warm isolated minimum
(BASELINE.md calibration; rounds 3-4 each produced several phantom
"regressions" that judge re-measurement dissolved) — the minimum of
three consecutive runs is the reproducible statistic, and it also
absorbs first-run plan-compile noise (the b6 r4 false alarm).

Output structure (r12, VERDICT r11 ask #1 — r11's single line outgrew
the driver's 2000-char tail capture and BENCH_r11 recorded parsed=null):
TWO JSON lines.  The penultimate line (`metric: bench_full`, also
written to BENCH_FULL.json next to this file) carries everything —
queries, `queries_median` (same reps, median), derived per_iter/per_sec
quotients, `calibration_sec` detail (a fixed seeded single-threaded
NumPy probe, min-of-3 — divide two rounds' calibration numbers to
normalize away host contention), `loadavg` before/after.  The FINAL
line (`metric: bench_total`, what the driver parses) is bounded: the
wall-clock queries dict (so value == sum(queries)), `calibration_sec`,
`b4_mrmr_k10_loop_iter`, and `loop_iter_regression` (true when that
sf0.1 loop_iter exceeds 1.5x the measured BASELINE floor — the one
metric host load barely moves, hence the substrate tripwire).
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest import mock

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_infotheoretic_feature_selection_spark.datasets import FEATURE_NAMES, features_dense
from flink_infotheoretic_feature_selection_spark.discretizer import EqualFrequencyDiscretizer
from flink_infotheoretic_feature_selection_spark.operators.histogram import collect_hist2d, feature_dims, hist2d
from flink_infotheoretic_feature_selection_spark.plans import inspect as plans_inspect
from flink_infotheoretic_feature_selection_spark.functions.infotheory import mutual_info
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector
from flink_infotheoretic_feature_selection_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# Parse BOTH up front: a malformed env value must fail before the
# benchmark runs for minutes, not at print time when every result of
# the finished run would be discarded.
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
N_CPUS = int(CPUS)


def _min_of() -> int:
    argv = sys.argv[1:]
    if "--min-of" in argv:
        return int(argv[argv.index("--min-of") + 1])
    return int(os.environ.get("SPARK_GRAFT_MIN_OF", "3"))


MIN_OF = _min_of()


# min-of-N per query (the headline, round-over-round comparable) plus the
# per-query MEDIAN of the same reps (VERDICT r10 ask #1): when the host is
# noisy the median inflates while the min holds, so the two together tell
# host noise from a real regression without hand re-measurement.
RESULTS: dict[str, float] = {}
MEDIANS: dict[str, float] = {}
# r13 (VERDICT r12 ask #5, additions-only): estimated sequential Spark
# job count per selector/loop-family query, from the fitted model's own
# fit_timings — pack(1) + stats(1) + optional rebalance(1) + the separate
# relevances job when stats were not fused(1) + loop_jobs; a fit on the
# local route (pack_route "local") is 3 on a frame: statusTracker() read
# 3 jobs for each of b3 and b4 (k=5, 10, 25) at sf0.1 on local[4] — the
# route's count() and its one toArrow(), every pass on the driver.  A
# parquet input read on the driver runs none (statusTracker, bare scan
# and fit_parquet), which fit_timings does not show: b16 records 0.
# A sparse fit on its local route is 4: the label histogram (2 under
# AQE, its shuffle stage and its result) plus the two Arrow collects;
# its SQL route is not estimated.
# The full payload emits queries_excess = min_sec − est_jobs × the
# measured job_floor_sec, so the PERF diff can separate substrate time
# from scheduler floor on the job-count-bound queries.
EST_JOBS: dict[str, int] = {}


def _est_fit_jobs(model) -> int | None:
    ft = getattr(model, "fit_timings", None)
    if not ft:
        return None
    if "sparse_route" in ft:
        return 4 if ft["sparse_route"] == "local" else None
    if ft.get("pack_route") == "local":
        return 3
    return (
        2
        + (1 if "rebalance_sec" in ft else 0)
        + (0 if ft.get("stats_fused", True) else 1)
        + int(ft.get("loop_jobs", 0))
    )


def record(name: str, fn, reps: int | None = None):
    """Time ``fn`` min-of-N into RESULTS[name] (+ median into
    MEDIANS[name]); returns (best_sec, last_result) like `timed`."""
    import statistics

    reps = MIN_OF if reps is None else reps
    times, out = [], None
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    best = min(times)
    RESULTS[name] = round(best, 3)
    MEDIANS[name] = round(statistics.median(times), 3)
    return best, out


def calibration_probe(reps: int = 3) -> float:
    """Fixed, seeded, single-threaded NumPy CPU probe (min-of-N sec).

    VERDICT r10 ask #1: three rounds produced phantom wall-clock swings
    (±25-40% on identical code) that only hand re-measurement dissolved —
    the container's loadavg cannot see host neighbors.  This probe does a
    CONSTANT amount of elementwise float work (elementwise NumPy kernels
    are single-threaded, so BLAS thread-count differences can't skew it);
    its min-of-N on this host class reads ~0.5 s idle (measured 2026-08-16) and inflates with
    the same host contention that inflates the Spark queries.  The judge
    normalizes round N vs round M by the calibration ratio instead of
    guessing."""
    import numpy as np

    a0 = np.arange(4_000_000, dtype=np.float64) * 1e-7 + 0.1  # seeded, constant
    best = float("inf")
    for _ in range(max(1, reps)):
        a = a0.copy()
        t0 = time.perf_counter()
        s = 0.0
        for _i in range(48):
            a = np.sqrt(a * 1.0000001 + 0.25)
            s += float(a[::65536].sum())
        best = min(best, time.perf_counter() - t0)
        assert s == s  # keep the work observable
    return best


# BASELINE floor for b4_mrmr_k10_loop_iter at the sf0.1 / 32-feature shape
# (r10 idle close measured 0.23-0.27 s/iter; driver/judge runs under host
# load still read 0.29-0.32).  VERDICT r10 ask #7: per-iteration loop cost
# is the one metric host load barely moves, so >1.5x the floor is a real
# substrate regression, not noise.
LOOP_ITER_FLOOR_SF01 = 0.23

# r12 measurement fix (declared in OPTIMIZATION_r12.md): the 0.23 floor
# embeds the builder box's ~0.12-0.15 s Spark job-launch latency, but that
# latency is a HOST property the calibration probe cannot see (it is
# scheduler/VM wakeup time, not CPU) — an optimization-round box measured
# a 0.25-0.30 s trivial-one-task floor on UNCHANGED code, tripping the
# absolute flag with zero substrate change.  The substrate signal is the
# EXCESS of loop_iter over the measured job floor (builder band: 0.23-0.27
# minus 0.12-0.15 → ~0.10 s of per-iteration substrate work); regression =
# excess > LOOP_ITER_EXCESS_LIMIT (≈2.5× the builder's excess).  The old
# absolute flag is kept in the full payload as loop_iter_regression_abs.
LOOP_ITER_EXCESS_LIMIT = 0.25


def job_floor_probe(sc, reps: int = 5) -> float:
    """Min-of-N seconds for a trivial one-task RDD job — the host's
    Spark job-launch latency, subtracted from loop_iter to isolate the
    substrate's own per-iteration cost."""
    best = float("inf")
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        sc.parallelize([1], 1).count()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    loadavg_before = list(os.getloadavg())
    calibration_before = calibration_probe()
    spark = get_spark("bench", cpus=CPUS)
    results = RESULTS

    # B1 — matrix build + cache materialization.  Each rep re-does the
    # real work (unpersist -> persist -> count); without the reset,
    # reps 2..N would time a cached count instead of materialization.
    df = features_dense(spark, SF_DIR)
    matrix = df.persist(StorageLevel.MEMORY_AND_DISK)

    def b1():
        matrix.unpersist(blocking=True)
        matrix.persist(StorageLevel.MEMORY_AND_DISK)
        return matrix.count()

    t, n = record("b1_cache_materialize", b1)

    # B2 — relevance init: dims + 2-D histograms + MI for all 32 features
    def b2():
        dims = feature_dims(matrix, FEATURE_NAMES + ["label"])
        h2 = collect_hist2d(
            hist2d(matrix, FEATURE_NAMES, "label", dims, dims["label"]),
            FEATURE_NAMES,
            dims,
            dims["label"],
        )
        return {c: mutual_info(h2[c], n) for c in FEATURE_NAMES}

    t, _ = record("b2_relevance_init", b2)

    # B3 — MIM top-k end-to-end fit (includes its own cache+count);
    # the fitted model is reused by B6 below (refitting it there added a
    # redundant untimed full fit to every run)
    t, mim_model = record("b3_mim_k10", lambda: InfoThSelector(n_to_select=10, criterion="mim").fit(df))
    EST_JOBS["b3_mim_k10"] = _est_fit_jobs(mim_model)

    # B4 — mRMR fit at k ∈ {5, 10, 25}.  *_per_iter keeps its historical
    # wall/k meaning for round-over-round comparability; *_loop_iter is
    # the honest loop-only number from model.fit_timings (wall/k folds
    # the one-time pack/stats setup into "per-iteration").
    for k in (5, 10, 25):
        t, m4 = record(
            f"b4_mrmr_k{k}",
            lambda k=k: InfoThSelector(n_to_select=k, criterion="mrmr").fit(df),
        )
        EST_JOBS[f"b4_mrmr_k{k}"] = _est_fit_jobs(m4)
        results[f"b4_mrmr_k{k}_per_iter"] = round(t / k, 3)
        results[f"b4_mrmr_k{k}_loop_iter"] = round(
            m4.fit_timings["loop_sec"] / max(m4.fit_timings["iterations"], 1), 3
        )

    # B5 — JMI / CMIM fit, k=10
    for crit in ("jmi", "cmim"):
        t, m5 = record(f"b5_{crit}_k10", lambda c=crit: InfoThSelector(n_to_select=10, criterion=c).fit(df))
        EST_JOBS[f"b5_{crit}_k10"] = _est_fit_jobs(m5)

    # B6 — projection transform throughput (model from B3)
    model = mim_model
    t, cnt = record("b6_transform", lambda: model.transform(df).count())
    results["b6_transform_rows_per_sec"] = round(cnt / t) if t > 0 else -1

    # B7 — discretizer fit + transform over raw numerics
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    def b7():
        m = EqualFrequencyDiscretizer(
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], num_buckets=32
        ).fit(li)
        return m.transform(li).count()

    t, _ = record("b7_discretizer", b7)

    # B13 — sparse long-format selection (implicit-zero path), k=3 over
    # the first 8 features of the matrix; runs with the other matrix-cache
    # benches, before the documents caches accumulate
    def b13():
        from flink_infotheoretic_feature_selection_spark.operators.sparse import matrix_to_sparse_long
        from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

        nf = 8
        base, nz, labels = matrix_to_sparse_long(matrix, FEATURE_NAMES[:nf])
        try:
            return SparseInfoThSelector(n_features=nf, n_to_select=3).fit(nz, labels)
        finally:
            base.unpersist()

    t, m13 = record("b13_sparse_mrmr_k3", b13)
    EST_JOBS["b13_sparse_mrmr_k3"] = _est_fit_jobs(m13)

    # B8-B12 — extension operators (LLM-data-pipeline surface).
    # The matrix cache is dead weight from here on; drop it so the
    # extension numbers aren't hostage to storage-memory pressure.
    matrix.unpersist()

    from flink_infotheoretic_feature_selection_spark.operators import dedup, multimodal, similarity, text
    from flink_infotheoretic_feature_selection_spark.datasets import load_events

    # minhash_lsh_pairs persists the shared shingle-array table for its
    # own multi-use plan — clear it per rep so each run re-does the real
    # work and the N reps don't stack N persisted copies.
    def b8():
        spark.catalog.clearCache()
        return dedup.minhash_lsh_pairs(spark, SF_DIR).count()

    t, _ = record("b8_minhash_lsh", b8)
    spark.catalog.clearCache()

    t, _ = record("b8b_simhash_pairs", lambda: dedup.simhash_pairs(spark, SF_DIR).count())

    # production 64-bit variant: same plan shape, desaturated buckets —
    # the wall-clock proof that b8b is output-volume-bound, not plan-bound
    t, _ = record("b8d_simhash64_pairs", lambda: dedup.simhash64_pairs(spark, SF_DIR).count())

    # linear-output grouped form (signature graph + union-find)
    t, _ = record("b8f_simhash64_components", lambda: dedup.simhash64_components(spark, SF_DIR).count())

    # Arrow-vectorized signature kernels (bit-identical to the gated
    # expression/SQL routes; forced agg so column pruning can't skip the
    # signature computation the way a bare count() would)
    from pyspark.sql import functions as _F

    t, _ = record("b8g_simhash64_sig_vec", lambda: dedup.simhash64_vectorized(spark, SF_DIR)
        .agg(_F.sum(_F.expr("simhash64 % 1000")))
        .collect())

    t, _ = record("b8h_minhash_sig_vec", lambda: dedup.minhash_signatures_vectorized(spark, SF_DIR)
        .agg(_F.sum("mh0"))
        .collect())

    t, _ = record("b8c_decontaminate", lambda: dedup.decontaminate_query(spark, SF_DIR).count())

    # Bloom-prefiltered twin (r11): identical output, bitmap broadcast +
    # vectorized probe instead of a raw eval-shingle broadcast join
    def b8c2():
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ev = docs.where(_F.expr(dedup.DECONTAMINATE_EVAL_PRED))
        tr = docs.where(~_F.expr(dedup.DECONTAMINATE_EVAL_PRED))
        return dedup.decontaminate_bloom(tr, ev, mode="flag").count()

    t, _ = record("b8c2_decontaminate_bloom", b8c2)

    # incremental ingest check (10% batch vs 90% corpus, xxhash64
    # production default): output linear in the batch by construction
    t, _ = record("b8i_simhash64_incremental", lambda: dedup.simhash64_incremental(spark, SF_DIR).count())

    # character-level exact-substring pass (content-defined anchors)
    t, _ = record("b8e_substring_spans", lambda: dedup.substring_dup_spans(spark, SF_DIR).count())

    t, _ = record("b9_cosine_topk", lambda: similarity.cosine_topk(spark, SF_DIR).count())

    t, _ = record("b9b_ann_multiprobe", lambda: similarity.ivf_multiprobe_topk(spark, SF_DIR).count())

    # bucket-wise Arrow matmul kernel over the same probe geometry (the
    # large-corpus path; per-pair SQL fold is the gated/oracle form)
    t, _ = record("b9b2_ann_multiprobe_vec", lambda: similarity.ivf_multiprobe_vectorized(spark, SF_DIR).count())

    # int8-quantized IVF: same plan over 4x-smaller vectors
    t, _ = record("b9c_ann_q8", lambda: similarity.ivf_topk_q8(spark, SF_DIR).count())

    # learned-coarse-quantizer IVF (distributed k-means fit + probe search)
    t, _ = record("b9d_ann_kmeans", lambda: similarity.ivf_kmeans_topk(spark, SF_DIR).count())

    # frozen-quantizer IVF (the gate form: assignment + probes against
    # the fixture centroids, no fit in the query path)
    t, _ = record("b9e_ann_kmeans_frozen", lambda: similarity.ivf_kmeans_fixture_topk(spark, SF_DIR).count())

    # IVF-PQ: candidates scored from 4-bit codes + integer LUT sums,
    # corpus floats untouched after the encode pass
    t, _ = record("b9f_ann_ivf_pq", lambda: similarity.ann_ivf_pq_topk(spark, SF_DIR).count())

    # bit-identical Arrow LUT-gather twin (4.6x at 1M vectors)
    t, _ = record("b9g_ann_ivf_pq_vec", lambda: similarity.ann_ivf_pq_vectorized(spark, SF_DIR).count())

    t, _ = record("b10_text_stats", lambda: text.text_stats(spark, SF_DIR).count())

    t, _ = record("b10b_corpus_clean", lambda: text.corpus_clean(spark, SF_DIR).count())

    # corpus-trained bigram LM scoring (two count aggs + keyed join)
    t, _ = record("b10c_lm_score", lambda: text.lm_score(spark, SF_DIR).count())

    # exact frozen-BPE tokenization (r11): SQL merge-chain gate route and
    # the Arrow-batched production twin (word-cache amortized).  Forced
    # agg, NOT count(): Catalyst prunes the whole merge chain out of a
    # bare count (measured 0.68 s "tokenizing" 500k docs — it was only
    # scanning); same rule as the b8g/b8h signature benches.
    t, _ = record(
        "b10d_tokenize_bpe",
        lambda: text.tokenize_bpe(spark, SF_DIR).agg(_F.sum("n_bpe_exact")).collect(),
    )
    t, _ = record(
        "b10e_tokenize_bpe_vec",
        lambda: text.tokenize_bpe_vectorized(spark, SF_DIR)
        .agg(_F.sum("n_bpe_exact"))
        .collect(),
    )

    t, _ = record("b11_events_window", lambda: load_events(spark, SF_DIR)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*"), F.sum("value"))
        .count())

    from flink_infotheoretic_feature_selection_spark.operators import sessions

    t, _ = record("b11b_sessionize", lambda: sessions.sessionize(load_events(spark, SF_DIR)).count())

    t, _ = record("b12_media_features", lambda: multimodal.extract_features(
            multimodal.attach_media(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
        ).count())

    from flink_infotheoretic_feature_selection_spark.operators import temporal

    t, _ = record("b14_asof_join", lambda: temporal.asof_join_query(spark, SF_DIR).count())
    t, _ = record("b14b_range_join", lambda: temporal.range_join_query(spark, SF_DIR).count())
    t, _ = record("b14c_hypertable", lambda: temporal.hypertable_rollup(spark, SF_DIR).count())

    from flink_infotheoretic_feature_selection_spark.operators import events as events_ops
    from flink_infotheoretic_feature_selection_spark.operators import pipeline as pipeline_ops

    t, _ = record("b15_funnel", lambda: events_ops.funnel_conversion(spark, SF_DIR).count())
    t, _ = record("b15b_token_mi", lambda: text.token_mi_topk(spark, SF_DIR).count())
    t, _ = record("b15c_curate_split", lambda: pipeline_ops.pipeline_curate_split(spark, SF_DIR).count())

    # B16 — the REFERENCE'S OWN default workload shape: 631 attributes ×
    # 8,192 rows (InfoSelectorTest.scala:102-105, ECBDL14 subsample),
    # mRMR k=10 on the packed substrate.  sf-independent by design (a
    # fixed-shape fit does not scale with sf) — the deterministic
    # synthetic matrix builds once per host into /tmp and is reused.
    import importlib.util as _ilu
    import pathlib as _pl

    _spw = _ilu.spec_from_file_location(
        "scale_proof_wide", _pl.Path(__file__).parent / "tools" / "scale_proof_wide.py"
    )
    _wide_mod = _ilu.module_from_spec(_spw)
    _spw.loader.exec_module(_wide_mod)
    # seed+generation token in the name invalidates stale caches when
    # build_matrix changes; build_matrix itself writes atomically, so an
    # existing file at this path is complete (r9, advisor find)
    wide_path = _wide_mod.matrix_path("/tmp/bench_wide", 8192, 631, seed=631)
    if not os.path.exists(wide_path):  # deterministic (seeded): safe to reuse
        wide_path = _wide_mod.build_matrix("/tmp/bench_wide", 8192, 631, seed=631)
    wide_feats = [f"f{j}" for j in range(631)]
    wide_df = spark.read.parquet(wide_path)

    wide_models = []

    # r10: fit() on this bare scan AUTO-routes by its footers
    # (plans.inspect.bare_parquet_scan_files) — b16 measures what a user
    # actually gets from fit(): at 8192 x 632 int32 (20.7 MB of Arrow
    # bytes, under LOCAL_MAX_BYTES) a pyarrow read on the driver.  Its
    # twins b16s and b16c pin the scan and the direct pack with the
    # local bound at 0, so the substrate regression signal survives.
    # One UNTIMED warmup first: the first wide fit in the process pays
    # one-time JIT/GC/plan machinery that min-of-3 does not fully decay
    # (measured r10: the first-positioned wide bench reads ~1.5 s above
    # the same code re-run later) — without it the route comparison
    # b16 vs b16s vs b16c mostly measures position, not route.
    InfoThSelector(
        n_to_select=2, criterion="mrmr", feature_cols=wide_feats, emit_f32=False
    ).fit(wide_df)
    def b16():
        m = InfoThSelector(
            n_to_select=10, criterion="mrmr", feature_cols=wide_feats, emit_f32=False
        ).fit(wide_df)
        assert m.fit_timings["pack_route"] == "local"
        wide_models.append(m)
        return m

    t, _ = record("b16_wide_mrmr_k10", b16)
    last = wide_models[-1]
    EST_JOBS["b16_wide_mrmr_k10"] = 0  # the bare scan's files are read on the driver
    results["b16_wide_pack_per_iter"] = round(last.fit_timings["pack_sec"], 3)
    results["b16_wide_loop_per_iter"] = round(
        last.fit_timings["loop_sec"] / max(last.fit_timings["iterations"], 1), 3
    )

    def b16s():
        # the scan pack on the same bare matrix: with the bare-scan probe
        # patched to find nothing, fit() takes the mapInArrow pack with
        # no extra projection over the 632 columns
        with mock.patch.object(plans_inspect, "bare_parquet_scan_files", return_value=None), \
                mock.patch.object(InfoThSelector, "LOCAL_MAX_BYTES", 0):
            m = InfoThSelector(
                n_to_select=10, criterion="mrmr", feature_cols=wide_feats,
                emit_f32=False,
            ).fit(wide_df)
        assert m.fit_timings["pack_route"] == "scan"
        wide_models.append(m)
        return m

    t, _ = record("b16s_wide_scan_mrmr_k10", b16s)
    EST_JOBS["b16s_wide_scan_mrmr_k10"] = _est_fit_jobs(wide_models[-1])
    results["b16s_wide_scan_pack_per_iter"] = round(
        wide_models[-1].fit_timings["pack_sec"], 3
    )
    assert len({tuple(c for c, _ in m.selection_path) for m in wide_models}) == 1

    # B16c — the r9 DIRECT row-group pack on the same matrix: pyarrow
    # reads the columns straight into blocks, skipping the DataFrame
    # scan's JVM row round-trip (at 600k×631 that transit is 84% of the
    # fit — BASELINE r9).  Selection must be identical to b16's.
    def b16c():
        with mock.patch.object(InfoThSelector, "LOCAL_MAX_BYTES", 0):
            m = InfoThSelector(
                n_to_select=10, criterion="mrmr", feature_cols=wide_feats, emit_f32=False
            ).fit_parquet(spark, wide_path)
        assert m.fit_timings["pack_route"] == "direct"
        wide_models.append(m)
        return m

    t, _ = record("b16c_wide_direct_mrmr_k10", b16c)
    EST_JOBS["b16c_wide_direct_mrmr_k10"] = _est_fit_jobs(wide_models[-1])
    results["b16c_wide_direct_pack_per_iter"] = round(
        wide_models[-1].fit_timings["pack_sec"], 3
    )
    assert len({tuple(c for c, _ in m.selection_path) for m in wide_models}) == 1

    # r11 review find: the old ("per_iter", "per_sec") filter let the
    # derived b4_*_loop_iter quotients leak ~0.9 s of non-wall-clock
    # values into the headline total.  Totals from r11 on are therefore
    # structurally ~0.9 s lower; round-over-round comparisons should be
    # recomputed from the queries dict anyway (BASELINE note).
    total = round(
        sum(
            v
            for k, v in results.items()
            if not k.endswith(("per_iter", "per_sec", "loop_iter"))
        ),
        3,
    )
    # loud substrate-regression tripwire (VERDICT r10 ask #7): only
    # meaningful at the sf0.1 shape the floor was measured on.  r12:
    # judged on the EXCESS over the host's measured job-launch floor
    # (see LOOP_ITER_EXCESS_LIMIT); the old absolute flag stays in the
    # full payload for round-over-round comparability.
    loop_iter = results.get("b4_mrmr_k10_loop_iter")
    job_floor = round(job_floor_probe(spark.sparkContext), 3)
    loop_excess = (
        round(loop_iter - job_floor, 3)
        if (SF == 0.1 and loop_iter is not None)
        else None
    )
    loop_regressed = (
        bool(loop_excess > LOOP_ITER_EXCESS_LIMIT)
        if loop_excess is not None
        else None
    )
    loop_regressed_abs = (
        bool(loop_iter > 1.5 * LOOP_ITER_FLOOR_SF01)
        if (SF == 0.1 and loop_iter is not None)
        else None
    )
    calibration_sec = round(min(calibration_before, calibration_probe()), 3)
    # r12 (VERDICT r11 ask #1): the r11 single self-adjudicating line
    # outgrew the driver's tail capture and BENCH_r11 recorded
    # parsed=null.  From r12 on the FULL payload (queries + medians +
    # calibration detail) goes to an EARLIER stdout line and to
    # BENCH_FULL.json next to this file; the FINAL line is kept at the
    # r10 size that the driver demonstrably parses — headline total,
    # the spec-required per-query dict, and the three compact
    # self-adjudication scalars.
    full_payload = {
        "metric": "bench_full",
        "value": total,
        "unit": "sec",
        "queries": results,
        "queries_median": MEDIANS,
        "sf": SF,
        "cpus": N_CPUS,
        "min_of": MIN_OF,
        "calibration_sec": calibration_sec,
        "calibration_sec_before": round(calibration_before, 3),
        "loadavg": {
            "before": [round(x, 2) for x in loadavg_before],
            "after": [round(x, 2) for x in os.getloadavg()],
        },
        "job_floor_sec": job_floor,
        "loop_iter_excess": loop_excess,
        "loop_iter_regression": loop_regressed,
        "loop_iter_regression_abs": loop_regressed_abs,
        "loop_iter_floor": LOOP_ITER_FLOOR_SF01 if SF == 0.1 else None,
        "loop_iter_excess_limit": LOOP_ITER_EXCESS_LIMIT if SF == 0.1 else None,
        # r13 (VERDICT r12 ask #5): per-query scheduler-floor split for
        # the job-count-bound selector family — est_jobs from the fitted
        # models' own fit_timings, excess = min_sec − est_jobs × floor.
        "est_jobs": {k: v for k, v in EST_JOBS.items() if v is not None},
        "queries_excess": {
            k: round(results[k] - v * job_floor, 3)
            for k, v in EST_JOBS.items()
            if v is not None and k in results
        },
    }
    full_line = json.dumps(full_payload)
    print(full_line)
    try:
        import pathlib

        (pathlib.Path(__file__).resolve().parent / "BENCH_FULL.json").write_text(
            full_line + "\n"
        )
    except OSError:
        pass  # read-only mount etc. — the stdout line above still has it
    # Final line: wall-clock queries only (the derived per_iter/per_sec/
    # loop_iter quotients stay in the full payload) so `value` ==
    # sum(queries on this line) and the line stays well under the
    # 2000-char tail window with headroom for future queries.
    headline = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": {
            k: v
            for k, v in results.items()
            if not k.endswith(("per_iter", "per_sec", "loop_iter"))
        },
        "sf": SF,
        "cpus": N_CPUS,
        "min_of": MIN_OF,
        "calibration_sec": calibration_sec,
        "b4_mrmr_k10_loop_iter": loop_iter,
        "job_floor_sec": job_floor,
        "loop_iter_regression": loop_regressed,
        "loop_iter_regression_abs": loop_regressed_abs,
    }
    line = json.dumps(headline)
    if len(line) > 1900:  # hard guard: never outgrow the tail capture again
        headline["queries"] = {"see": "BENCH_FULL.json"}
        line = json.dumps(headline)
    print(line)


if __name__ == "__main__":
    main()
    sys.stdout.flush()
