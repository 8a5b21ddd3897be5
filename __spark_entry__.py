"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship mRMR fit; ``queries``/``oracle_sql`` expose
every SQL-expressible operator from SURVEY.md §2 for the DuckDB
correctness gate.  Column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_infotheoretic_feature_selection_spark.datasets import (
    FEATURE_NAMES,
    features_dense,
    features_select_duckdb,
)
from flink_infotheoretic_feature_selection_spark.discretizer import (
    equal_freq_bucket_oracle,
    equal_width_bucket_oracle,
)
from flink_infotheoretic_feature_selection_spark.operators import dedup, multimodal, sessions, similarity, temporal, text
from flink_infotheoretic_feature_selection_spark.operators import events as events_ops
from flink_infotheoretic_feature_selection_spark.operators import pipeline as pipeline_ops
from flink_infotheoretic_feature_selection_spark.operators import profile as profile_ops
from flink_infotheoretic_feature_selection_spark.operators.histogram import feature_dims, hist2d, hist3d
from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

# Engine-identical 5-decimal score emission (the r6 advisor's rounding
# finding): Python round() is half-to-even on the binary double while
# DuckDB round() is half-away-from-zero on the decimal rendering, so a
# score near an x.xxxxx5 boundary EMITS differently per engine even when
# the doubles are bit-equal.  Both sides instead run the same IEEE steps
# — multiply by 1e5, add 0.5, floor, divide — producing bit-identical
# doubles.  _Q5_SQL is the DuckDB spelling; selector._tie_key is the
# comparison-side twin (quantized BIGINT, no divide).
def _q5(x: float) -> float:
    import math

    return math.floor(x * 100000.0 + 0.5) / 100000.0


def _q5_sql(expr: str) -> str:
    return f"floor(({expr}) * 100000.0 + 0.5) / 100000.0"


# DuckDB CTE producing the feature matrix (shared prefix of every oracle).
_FM_CTE = f"fm AS (SELECT {features_select_duckdb()} FROM lineitem)"

# DuckDB long-format (feat, x, y=label) view of the matrix via UNION ALL.
_LONG_CTE = "long AS (" + " UNION ALL ".join(
    f"SELECT {i} AS feat, CAST(f{i} AS INT) AS x, CAST(label AS INT) AS y FROM fm"
    for i in range(len(FEATURE_NAMES))
) + ")"


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------
def _q_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return features_dense(spark, sf_dir)


def _q_class_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 — frequency count of the class column.
    return (
        features_dense(spark, sf_dir)
        .groupBy(F.col("label").cast("int").alias("y"))
        .agg(F.count("*").alias("cnt"))
    )


def _q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 — per-feature distinct-value cap (max+1), as (feat, dim) rows.
    df = features_dense(spark, sf_dir)
    dims = feature_dims(df, FEATURE_NAMES)
    return spark.createDataFrame(
        [(i, dims[c]) for i, c in enumerate(FEATURE_NAMES)], "feat int, dim int"
    )


def _q_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A4 — all per-feature 2-D contingency tables vs the class.
    df = features_dense(spark, sf_dir)
    dims = feature_dims(df, FEATURE_NAMES + ["label"])
    return hist2d(df, FEATURE_NAMES, "label", dims, dims["label"])


def _q_hist3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5 — 3-D conditional histograms vs (y=f0, z=label) for f1..f7.
    df = features_dense(spark, sf_dir)
    dims = feature_dims(df, FEATURE_NAMES + ["label"])
    feats = [c for c in FEATURE_NAMES if c != "f0"]
    return hist3d(df, feats, "f0", "label", dims, dims["f0"], dims["label"])


def _q_relevance_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A10 — MI(feature; class) for every feature, via the engine path.
    df = features_dense(spark, sf_dir)
    model = InfoThSelector(n_to_select=1, criterion="mim", emit_f32=False).fit(df)
    rows = [(i, _q5(model.relevances[c])) for i, c in enumerate(FEATURE_NAMES)]
    return spark.createDataFrame(rows, "feat int, mi double")


def _q_mim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A13 — top-k features by relevance (MIM fast path), k=5.
    # The gate emits 5-decimal MI, so the top-k boundary must be decided
    # on the QUANTIZED value (ties then by feat id) exactly like the
    # oracle — otherwise two features whose raw MIs differ by <5e-6 but
    # quantize equal (f1/f5 at sf0.01) rank differently across engines.
    df = features_dense(spark, sf_dir)
    model = InfoThSelector(n_to_select=5, criterion="mim", emit_f32=False).fit(df)
    rows = sorted(
        ((i, _q5(model.relevances[c])) for i, c in enumerate(FEATURE_NAMES)),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    return spark.createDataFrame(rows, "feat int, mi double")


def _q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 — feature projection transform (fixed indices 2,5,7).
    return features_dense(spark, sf_dir).select("f2", "f5", "f7", "label")


def _q_equal_freq_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P2/M4 — the REAL EqualFrequencyDiscretizer end-to-end: fit on
    # part.p_retailprice (part ≤ the 10k sample floor at sf0.01, so the
    # seeded sample has fraction 1.0 — the whole table, deterministic —
    # and the oracle replays the identical sample→stride walk with a
    # recursive CTE), transform via the JVM Bucketizer, return the
    # bucket histogram.  No global sort anywhere in the plan.
    from flink_infotheoretic_feature_selection_spark.discretizer import EqualFrequencyDiscretizer

    # Deterministic key filter keeps the fit input ≤ 2000 rows at ANY
    # scale factor, so fraction = 1.0 (whole-table sample) and the
    # oracle's walk replay stays valid if the gate ever runs above sf0.01.
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_partkey") <= 2000)
        .select(F.col("p_retailprice").cast("double").alias("p_retailprice"))
    )
    model = EqualFrequencyDiscretizer(["p_retailprice"], num_buckets=8).fit(part)
    out = model.transform(part)
    return out.groupBy(
        F.col("p_retailprice_bucket").cast("int").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def _q_equal_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equal-width twin of the frequency gate: exact min/max fit (no
    # sampling), same Bucketizer transform path, boundary arithmetic
    # pinned to an IEEE order the oracle reproduces bit-for-bit.
    from flink_infotheoretic_feature_selection_spark.discretizer import EqualWidthDiscretizer

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_retailprice").cast("double").alias("p_retailprice")
    )
    model = EqualWidthDiscretizer(["p_retailprice"], num_buckets=8).fit(part)
    out = model.transform(part)
    return out.groupBy(
        F.col("p_retailprice_bucket").cast("int").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


_SPARSE_NF = 8  # first 8 features exercised through the sparse path


def _q_sparse_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M6 — sparse long-format histograms with implicit-zero crediting
    # (operators/sparse.py).  Derived from the dense matrix by dropping
    # zeros; must reproduce the full dense counts.
    from flink_infotheoretic_feature_selection_spark.operators.sparse import (
        matrix_to_sparse_long,
        sparse_hist2d,
    )

    feats = FEATURE_NAMES[:_SPARSE_NF]
    # the canonical long-format derivation (persist-before-branch row-id
    # discipline lives in ONE place; this used to be a 17-line copy)
    base, nonzeros, labels = matrix_to_sparse_long(
        features_dense(spark, sf_dir), feats
    )
    out = sparse_hist2d(nonzeros, labels, _SPARSE_NF)
    # Materialize (dims-bounded: ≤ nf×256×|y| cells) BEFORE releasing the
    # cache — monotonically_increasing_id is only consistent between the
    # nonzeros and labels scans while base is pinned.  try/finally so the
    # gate sweep never leaks a persisted block (round-3 finding).
    try:
        rows = out.collect()
    finally:
        base.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _q_sparse_hist3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7 — sparse 3-D histograms with implicit-zero crediting, conditioned
    # on f3 as the z column; must reproduce the dense (x, y, z) counts.
    from flink_infotheoretic_feature_selection_spark.operators.sparse import (
        matrix_to_sparse_long,
        sparse_hist3d,
    )

    feats = FEATURE_NAMES[:_SPARSE_NF]
    base, nonzeros, labels = matrix_to_sparse_long(
        features_dense(spark, sf_dir), feats
    )
    zcol = base.select("row_id", F.col(feats[3]).alias("z"))
    out = sparse_hist3d(nonzeros, labels, zcol, _SPARSE_NF)
    # same materialize-then-unpersist discipline as _q_sparse_hist2d
    try:
        rows = out.collect()
    finally:
        base.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _selection_query(criterion: str):
    # I1 — greedy selection, k=5.  emit_f32=False so scores stay float64
    # end-to-end and the DuckDB oracle (which unrolls the same greedy
    # recursion) reproduces them bit-close; both sides quantize to 5
    # decimals through the same IEEE steps (_q5 / _q5_sql).
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = features_dense(spark, sf_dir)
        model = InfoThSelector(n_to_select=5, criterion=criterion, emit_f32=False).fit(df)
        rows = [
            (step, FEATURE_NAMES.index(c), _q5(s))
            for step, (c, s) in enumerate(model.selection_path)
        ]
        return spark.createDataFrame(rows, "step int, feat int, score double")

    return q


_q_selected_mrmr = _selection_query("mrmr")
_q_selected_jmi = _selection_query("jmi")
_q_selected_cmim = _selection_query("cmim")
_q_selected_icap = _selection_query("icap")
_q_selected_mifs = _selection_query("mifs")

_SPARSE_SEL_NF = 8
_SPARSE_SEL_K = 3


def _q_selected_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I1 (sparse) — SparseInfoThSelector over long-format implicit-zero
    # input.  Zero-crediting makes its MI identical to the dense path on
    # the same data, so the oracle is the dense greedy recursion
    # restricted to the same feature subset.
    from flink_infotheoretic_feature_selection_spark.operators.sparse import matrix_to_sparse_long
    from flink_infotheoretic_feature_selection_spark.selector import SparseInfoThSelector

    feats = FEATURE_NAMES[:_SPARSE_SEL_NF]
    base, nz, labels = matrix_to_sparse_long(features_dense(spark, sf_dir), feats)
    try:
        model = SparseInfoThSelector(
            n_features=_SPARSE_SEL_NF,
            n_to_select=_SPARSE_SEL_K,
            criterion="mrmr",
            emit_f32=False,
        ).fit(nz, labels)
    finally:
        base.unpersist()
    rows = [
        (step, FEATURE_NAMES.index(c), _q5(s))
        for step, (c, s) in enumerate(model.selection_path)
    ]
    return spark.createDataFrame(rows, "step int, feat int, score double")


def selection_oracle_sql(
    k: int = 5, criterion: str = "mrmr", feat_ids: list[int] | None = None
) -> str:
    """DuckDB oracle for the greedy selection loop (k steps).

    Mirrors ``InfoSelector.scala:353-362`` + the criterion algebra of
    ``InfoThCriterion.scala`` exactly: step 0 picks argmax relevance;
    step t picks argmax of the criterion score over remaining features,
    compared at the 5-decimal quantization ``CAST(floor(score*1e5+0.5)
    AS BIGINT)`` (the engine-identical twin of selector._tie_key — see
    _q5's rationale), ties broken by lowest feature id:

    - mrmr:  rel − (Σ_s MI(c;s)) / |S|                 (:143-164)
    - jmi:   rel − (Σ_s MI(c;s))/|S| + (Σ_s CMI(c;s|Y))/|S|   (:114-137)
    - cmim:  rel − max_s (MI(c;s) − CMI(c;s|Y))        (:169-185)
    - icap:  rel − Σ_s max(0, MI(c;s) − CMI(c;s|Y))    (:199-214)
    - mifs:  rel − β·Σ_s MI(c;s), β = 1.0 (this repo's documented default)  (:92-108)

    (IF is identical to CMIM, :191-193 — covered by the cmim oracle.)

    All MI/CMI terms are float64 (the engine query passes emit_f32=False);
    only the emitted score rounds.  CMI(X;Y|Z) reduces to
    Σ (c3/n)·log2(c3·cz / (cxz·cyz)) over 3-way joint cells, matching
    ``functions/infotheory.py::mi_and_cmi``.

    Shape notes: pairwise joint counts are computed straight off the wide
    matrix (one GROUP BY per (i, j) pair, unioned) — no row-id self-join,
    because the synthetic lineitem has no unique key (duplicate
    (l_orderkey, l_linenumber) rows exist at sf0.01).  The greedy
    recursion is k chained argmax CTE stages over the 32×32 MI/CMI
    matrices — dims-bounded, exactly like the engine's driver loop.
    """
    if criterion not in ("mrmr", "jmi", "cmim", "icap", "mifs"):
        raise ValueError(f"no oracle for criterion {criterion!r}")
    needs_cmi = criterion in ("jmi", "cmim", "icap")
    ids = list(range(len(FEATURE_NAMES))) if feat_ids is None else list(feat_ids)
    lng = " UNION ALL ".join(
        f"SELECT {i} AS feat, CAST(f{i} AS INT) AS x FROM fm" for i in ids
    )
    pair_joint = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, CAST(f{i} AS INT) AS xi,"
        f" CAST(f{j} AS INT) AS xj, count(*) AS c FROM fm GROUP BY xi, xj"
        for i in ids
        for j in ids
        if i < j
    )
    pair_joint3 = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, CAST(f{i} AS INT) AS xi,"
        f" CAST(f{j} AS INT) AS xj, CAST(label AS INT) AS z, count(*) AS c"
        f" FROM fm GROUP BY xi, xj, z"
        for i in ids
        for j in ids
        if i < j
    )
    lab_lng = " UNION ALL ".join(
        f"SELECT {i} AS feat, CAST(f{i} AS INT) AS x, CAST(label AS INT) AS y FROM fm"
        for i in ids
    )
    head = f"""
    WITH fm AS MATERIALIZED (
      SELECT {features_select_duckdb()}
      FROM lineitem),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM fm),
    lng AS MATERIALIZED ({lng}),
    mx AS MATERIALIZED (
      SELECT feat, x, CAST(count(*) AS DOUBLE) AS cx FROM lng GROUP BY feat, x),
    my AS (SELECT CAST(label AS INT) AS y, CAST(count(*) AS DOUBLE) AS cy
           FROM fm GROUP BY 1),
    jl AS MATERIALIZED (
      SELECT feat, x, y, count(*) AS c FROM ({lab_lng}) GROUP BY feat, x, y),
    relv AS MATERIALIZED (
      SELECT jl.feat AS feat,
             sum((CAST(c AS DOUBLE)/n) * log2(CAST(c AS DOUBLE)*n/(cx*cy))) AS rel
      FROM jl JOIN tot ON true
      JOIN mx ON mx.feat = jl.feat AND mx.x = jl.x
      JOIN my ON my.y = jl.y
      GROUP BY jl.feat),
    pj AS MATERIALIZED ({pair_joint}),
    pmi0 AS MATERIALIZED (
      SELECT p.i, p.j,
             sum((CAST(p.c AS DOUBLE)/n) * log2(CAST(p.c AS DOUBLE)*n/(ma.cx*mb.cx))) AS mi
      FROM pj p JOIN tot ON true
      JOIN mx ma ON ma.feat = p.i AND ma.x = p.xi
      JOIN mx mb ON mb.feat = p.j AND mb.x = p.xj
      GROUP BY p.i, p.j),
    {{pmi_ctes}}
    s1 AS (SELECT feat, rel AS score FROM relv
          ORDER BY CAST(floor(rel * 100000.0 + 0.5) AS BIGINT) DESC, feat LIMIT 1),
    sel1 AS (SELECT 0 AS step, feat, score FROM s1)"""
    if needs_cmi:
        head = head.format(
            pmi_ctes=f"""pj3 AS MATERIALIZED ({pair_joint3}),
    pcmi0 AS MATERIALIZED (
      SELECT p.i, p.j,
             sum((CAST(p.c AS DOUBLE)/n)
                 * log2(CAST(p.c AS DOUBLE)*cy/(CAST(ja.c AS DOUBLE)*jb.c))) AS cmi
      FROM pj3 p JOIN tot ON true
      JOIN jl ja ON ja.feat = p.i AND ja.x = p.xi AND ja.y = p.z
      JOIN jl jb ON jb.feat = p.j AND jb.x = p.xj AND jb.y = p.z
      JOIN my ON my.y = p.z
      GROUP BY p.i, p.j),
    red0 AS (SELECT m.i, m.j, m.mi, coalesce(c.cmi, 0.0) AS cmi
             FROM pmi0 m LEFT JOIN pcmi0 c ON c.i = m.i AND c.j = m.j),
    pmi AS MATERIALIZED (
      SELECT i, j, mi, cmi FROM red0
      UNION ALL SELECT j, i, mi, cmi FROM red0),"""
        )
    else:
        head = head.format(
            pmi_ctes="""pmi AS MATERIALIZED (
      SELECT i, j, mi, 0.0 AS cmi FROM pmi0
      UNION ALL SELECT j, i, mi, 0.0 AS cmi FROM pmi0),"""
        )
    score_expr = {
        "mrmr": "r.rel - sum(p.mi) / count(*)",
        "jmi": "r.rel - sum(p.mi) / count(*) + sum(p.cmi) / count(*)",
        "cmim": "r.rel - greatest(0.0, max(p.mi - p.cmi))",
        "icap": "r.rel - sum(greatest(0.0, p.mi - p.cmi))",
        "mifs": "r.rel - 1.0 * sum(p.mi)",
    }[criterion]
    stages = []
    for t in range(2, k + 1):
        prev = f"sel{t - 1}"
        stages.append(f"""
    c{t} AS (
      SELECT r.feat, {score_expr} AS score
      FROM relv r JOIN pmi p ON p.i = r.feat
      WHERE p.j IN (SELECT feat FROM {prev})
        AND r.feat NOT IN (SELECT feat FROM {prev})
      GROUP BY r.feat, r.rel),
    s{t} AS (SELECT feat, score FROM c{t}
            ORDER BY CAST(floor(score * 100000.0 + 0.5) AS BIGINT) DESC, feat LIMIT 1),
    sel{t} AS (SELECT * FROM {prev} UNION ALL SELECT {t - 1}, feat, score FROM s{t})""")
    stage_sql = ("," + ",".join(stages)) if stages else ""
    return (
        head
        + stage_sql
        + f"""
    SELECT CAST(step AS INT) AS step, CAST(feat AS INT) AS feat,
           {_q5_sql("score")} AS score
    FROM sel{k}
    """
    )


def _q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming-shaped agg, batch-checked: 1-day tumbling windows over
    # event time (streaming/ops.py::windowed_event_agg is the same plan
    # with a watermark).
    from flink_infotheoretic_feature_selection_spark.datasets import load_events

    return (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            # date cast: DuckDB date_trunc('day') yields DATE
            F.col("w.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _few_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Clamp spark.sql.shuffle.partitions for the streaming gates.

    A stateful streaming query creates one state-store partition per
    shuffle partition for the LIFETIME of the query — under the driver
    harness's default (200) that is 200 near-empty state tasks per
    microbatch at sf0.01, which is exactly the wall-clock that truncated
    the round-3 gate tail.  Runtime SQL conf: affects task counts only,
    never values; restored on exit.
    """
    from flink_infotheoretic_feature_selection_spark.session import conf_clamp

    return conf_clamp(spark, "spark.sql.shuffle.partitions", str(n))


# availableNow over one sf0.01 file finishes in seconds; 120 s is a
# fail-loudly ceiling, kept small so a wedged stream can't eat the
# driver's whole gate budget (the round-3 truncation failure mode).
_STREAM_BUDGET_MS = 120_000

# One staged source dir per (sf_dir, source file, copy count) per
# PROCESS, shared by every streaming gate in the sweep and removed at
# interpreter exit — replaces the per-call mkdtemp/copy/rmtree cycle.
# Honest sizing note (measured r6, warm session, sf0.01): the five
# stream gates cost ~16 s combined, dominated by the FIRST query's
# one-time codegen/state-store init (~5 s) — the staging copies were
# never the expense; sharing them is hygiene plus a small saving that
# grows with sf (the copy is corpus-sized at sf0.1).
_STAGED_STREAM_DIRS: dict[tuple, str] = {}


def _staged_dir(key: tuple, stage) -> str:
    """Memoized staging dir: ``stage(d)`` runs once per key per process;
    the dir is removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    d = _STAGED_STREAM_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix="stream_stage_")
        stage(d)
        _STAGED_STREAM_DIRS[key] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _staged_stream_dir(sf_dir: str, filename: str, n_copies: int = 1) -> str:
    import shutil

    def stage(d: str) -> None:
        for i in range(n_copies):
            shutil.copy(f"{sf_dir}/{filename}", f"{d}/copy{i}.parquet")

    return _staged_dir((sf_dir, filename, n_copies), stage)


def _q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured Streaming end-to-end in the correctness gate: file-source
    # stream -> watermarked 1-day windows -> memory sink (availableNow);
    # update mode emits every window once for a single batch, so the
    # result must equal the batch/DuckDB aggregation exactly.
    from flink_infotheoretic_feature_selection_spark.streaming import (
        read_events_stream,
        windowed_event_agg,
    )

    d = _staged_stream_dir(sf_dir, "events.parquet")
    with _few_shuffle_partitions(spark):
        agg = windowed_event_agg(read_events_stream(spark, d), window="1 day").select(
            F.col("window_start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("q_stream_window_agg")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # returns False on timeout: STOP the wedged stream before
        # raising (a still-running query would block any retry with
        # 'query ... is already active'); a real raise, not assert,
        # so python -O cannot compile the check away
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_window_agg did not finish in budget")
    return spark.table("q_stream_window_agg")


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming dedup with bounded state — the MULTI-BATCH gate (r6
    # verdict ask #6): three copies of the events file drain through
    # maxFilesPerTrigger=1, so the availableNow run executes >=3 real
    # micro-batches and the hash-green result proves state carryover
    # and watermark advance ACROSS batch boundaries, not just within
    # one drain.  Batch 1 emits every event_id; the copy-2/copy-3
    # duplicates must then vanish either way the boundary semantics
    # cut: keys still inside the 2h watermark horizon hit retained
    # dedup state, older rows are dropped by the late-record filter —
    # both paths land on exactly the original event_ids (the oracle).
    from flink_infotheoretic_feature_selection_spark.streaming import (
        read_events_stream,
        streaming_dedup,
    )

    d = _staged_stream_dir(sf_dir, "events.parquet", n_copies=3)
    with _few_shuffle_partitions(spark):
        dd = streaming_dedup(
            read_events_stream(spark, d, max_files_per_trigger=1)
        ).select("event_id")
        q = (
            dd.writeStream.format("memory")
            .queryName("q_stream_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # returns False on timeout: STOP the wedged stream before
        # raising (a still-running query would block any retry with
        # 'query ... is already active'); a real raise, not assert,
        # so python -O cannot compile the check away
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_dedup did not finish in budget")
        # the multi-batch contract is part of the gate: a Spark that
        # ignored maxFilesPerTrigger under availableNow would silently
        # degrade this back to the single-batch proof
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if n_batches < 3:
            raise RuntimeError(
                f"stream_dedup ran {n_batches} non-empty micro-batches; "
                "the multi-batch gate requires >= 3"
            )
    return spark.table("q_stream_dedup")


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Native session_window sessionization, complete mode; emitted
    # window end = last event + gap, reconciled to the batch twin's
    # convention so the DuckDB sessionize oracle can value-check the
    # streaming operator end-to-end.
    from flink_infotheoretic_feature_selection_spark.operators.sessions import (
        SESSIONIZE_GAP,
        duration_us,
    )
    from flink_infotheoretic_feature_selection_spark.streaming import (
        read_events_stream,
        sessionize_stream,
    )

    d = _staged_stream_dir(sf_dir, "events.parquet")
    with _few_shuffle_partitions(spark):
        s = sessionize_stream(read_events_stream(spark, d), gap=SESSIONIZE_GAP)
        q = (
            s.writeStream.format("memory")
            .queryName("q_stream_sessionize")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        # returns False on timeout: STOP the wedged stream before
        # raising (a still-running query would block any retry with
        # 'query ... is already active'); a real raise, not assert,
        # so python -O cannot compile the check away
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_sessionize did not finish in budget")
    gap_us = duration_us(SESSIONIZE_GAP)
    return spark.table("q_stream_sessionize").select(
        "user_id",
        "session_start_us",
        (F.col("session_end_us") - F.lit(gap_us)).alias("session_end_us"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def _q_stream_neardup_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming ingest near-dup: batch docs (doc_id % 10 = 0) streamed
    # against a STATIC chunk index of the corpus docs, on the xxhash64
    # PRODUCTION hash (oracle reads the frozen signature fixture);
    # append mode, stateless stream-static join.  Oracle is a
    # brute-force batch x corpus Hamming scan — independent of banding
    # and the index entirely.
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stream_neardup_candidates,
    )

    def stage(d: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.where("doc_id % 10 = 0").select("doc_id", "text").write.mode(
            "overwrite"
        ).parquet(d)

    d = _staged_dir((sf_dir, "batch_docs"), stage)
    with _few_shuffle_partitions(spark):
        corpus_sig = (
            dedup.simhash64(spark, sf_dir)
            .where("doc_id % 10 != 0")
            .localCheckpoint(eager=True)
        )
        stream = spark.readStream.schema("doc_id long, text string").parquet(d)
        q = (
            stream_neardup_candidates(stream, corpus_sig)
            .writeStream.format("memory")
            .queryName("q_stream_neardup_cands")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_neardup_cands did not finish in budget")
    return spark.table("q_stream_neardup_cands")


def _tagged_union_oracle(inner, tag_col: str, values, cols: str) -> str:
    """UNION ALL of a per-variant oracle under a discriminator column —
    the one definition every variant-column gate's oracle shares (r12
    review find: five hand-rolled copies).  ``inner`` is the oracle SQL
    string, or a callable value→SQL when the inner query itself varies
    by variant (the wide-selection criterion oracle)."""
    mk = inner if callable(inner) else (lambda _v: inner)
    return "\nUNION ALL\n".join(
        f"SELECT CAST('{v}' AS VARCHAR) AS {tag_col}, {cols}\nFROM ({mk(v)})"
        for v in values
    )


def _q_range_join_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: variant column — the batch bucketed range join (the gated
    # path, unchanged) UNION the stream-stream twin drained through a
    # LIVE availableNow run (watermark-bounded two-sided state,
    # previously only unit-pinned).  The streaming part is the JOIN; the
    # per-interval aggregate runs batch-side on the drained matches so
    # both variants hash against the same per-interval oracle.
    from flink_infotheoretic_feature_selection_spark.operators.temporal import (
        RANGE_WINDOW_SEC,
    )
    from flink_infotheoretic_feature_selection_spark.streaming import (
        read_events_stream,
        stream_range_join,
    )

    batch = temporal.range_join_query(spark, sf_dir).selectExpr(
        "'batch' AS variant", "interval_id", "n_hits", "sum_cents"
    )
    d = _staged_stream_dir(sf_dir, "events.parquet")
    with _few_shuffle_partitions(spark):
        intervals = (
            read_events_stream(spark, d)
            .filter(F.col("event_type") == "error")
            .select(F.col("event_id").alias("interval_id"), F.col("ts").alias("start"))
        )
        probe = (
            read_events_stream(spark, d)
            .filter(F.col("event_type") == "view")
            .select("ts", "value")
        )
        q = (
            stream_range_join(intervals, probe, window_sec=RANGE_WINDOW_SEC)
            .writeStream.format("memory")
            .queryName("q_stream_range_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_range_join did not finish in budget")
    streamed = (
        spark.table("q_stream_range_join")
        .groupBy("interval_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
        )
        .selectExpr("'stream' AS variant", "interval_id", "n_hits", "sum_cents")
    )
    return batch.unionByName(streamed)


def _range_join_both_oracle() -> str:
    return _tagged_union_oracle(
        temporal.RANGE_JOIN_ORACLE,
        "variant",
        ("batch", "stream"),
        "interval_id, n_hits, sum_cents",
    )


def _q_stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (one of the 3 slots freed by the wide consolidation): the
    # CUSTOM STATEFUL operator (applyInPandasWithState, the escape hatch
    # for logic windowed aggs can't express) earns a live multi-batch
    # driver row.  Events split into 3 disjoint files drain through
    # maxFilesPerTrigger=1, so per-user state provably carries across
    # >= 3 real micro-batches; update mode emits a running row per user
    # per batch it appears in, and n_events is strictly monotone per
    # user, so the max-n_events row IS the final state — which must
    # equal the batch aggregate (the oracle).  The staged stream carries
    # value in EXACT CENTS as doubles (integer-valued, so the pandas
    # accumulation order can't produce a last-ulp float divergence —
    # the range_join cents lesson applied to a float column).
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stateful_user_stats,
    )

    def stage(d: str) -> None:
        import glob as _glob
        import shutil as _shutil

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        for i in range(3):
            tmp = f"{d}/_tmp{i}"
            ev.where(f"event_id % 3 = {i}").selectExpr(
                "user_id", "ts", "CAST(round(value * 100) AS DOUBLE) AS value"
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            _shutil.move(_glob.glob(f"{tmp}/part-*.parquet")[0], f"{d}/split{i}.parquet")
            _shutil.rmtree(tmp)

    d = _staged_dir((sf_dir, "user_stats_splits"), stage)
    with _few_shuffle_partitions(spark):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            stateful_user_stats(stream)
            .writeStream.format("memory")
            .queryName("q_stream_user_stats")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_user_stats did not finish in budget")
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if n_batches < 3:
            raise RuntimeError(
                f"stream_user_stats ran {n_batches} non-empty micro-batches; "
                "the state-carryover gate requires >= 3"
            )
    from pyspark.sql import Window as _W

    tbl = spark.table("q_stream_user_stats")
    w = _W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        tbl.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 4).alias("sum_cents"),
            "last_ts_us",
        )
    )


STREAM_USER_STATS_ORACLE = """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(CAST(round(value * 100) AS DOUBLE)), 4) AS sum_cents,
           max(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id
"""


def _q_decontaminate_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the decontaminate gate grows a `route` column — the exact
    # broadcast join (the r10-gated path, unchanged) UNION the bloom
    # bitmap route, previously only unit-pinned.  Both must hash-match
    # the SAME DuckDB oracle (bloom's false positives die in its exact
    # verify join, so equality is the operator's contract, not a
    # statistical claim).  Zero extra registry slots.
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.expr(dedup.DECONTAMINATE_EVAL_PRED))
    tr = docs.where(~F.expr(dedup.DECONTAMINATE_EVAL_PRED))
    exact = dedup.decontaminate(tr, ev, mode="flag").selectExpr(
        "'exact' AS route", "doc_id", "n_hits"
    )
    bloom = dedup.decontaminate(tr, ev, mode="flag", route="bloom").selectExpr(
        "'bloom' AS route", "doc_id", "n_hits"
    )
    return exact.unionByName(bloom)


def _decontaminate_both_oracle() -> str:
    return _tagged_union_oracle(
        dedup.decontaminate_oracle(), "route", ("exact", "bloom"), "doc_id, n_hits"
    )


def _q_source_token_cap_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: variant column — the plain windowed cap (the gated path,
    # unchanged) UNION the bucketed distributed-prefix-sum skew twin,
    # previously only unit-pinned.  Both hash against the same oracle.
    plain = text.source_token_cap(spark, sf_dir).selectExpr(
        "'plain' AS variant", "doc_id", "source", "n_tokens", "cum_tokens"
    )
    skew = text.source_token_cap_skew(spark, sf_dir).selectExpr(
        "'skew' AS variant", "doc_id", "source", "n_tokens", "cum_tokens"
    )
    return plain.unionByName(skew)


def _source_token_cap_both_oracle() -> str:
    return _tagged_union_oracle(
        text.source_token_cap_oracle(),
        "variant",
        ("plain", "skew"),
        "doc_id, source, n_tokens, cum_tokens",
    )


def _q_tokenize_bpe_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (VERDICT r11 ask #7): the tokenize_bpe gate grows a `variant`
    # column — batch (the SQL merge chain, the value-gated source of
    # truth) UNION the previously unit-only stream_tokenize_bpe route
    # drained through a LIVE availableNow file stream.  The operator is
    # stateless (no watermark/state), so both variants must hash-match
    # the same DuckDB oracle; zero extra registry slots (the r11
    # capacity note: 82 was the structural max before the r12 wide
    # consolidation).
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stream_tokenize_bpe,
    )

    batch = text.tokenize_bpe(spark, sf_dir).selectExpr(
        "'batch' AS variant", "doc_id", "n_bpe_exact", "bpe_md5"
    )

    def stage(d: str) -> None:
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        ).write.mode("overwrite").parquet(d)

    d = _staged_dir((sf_dir, "bpe_docs"), stage)
    with _few_shuffle_partitions(spark):
        stream = spark.readStream.schema("doc_id long, text string").parquet(d)
        q = (
            stream_tokenize_bpe(stream)
            .writeStream.format("memory")
            .queryName("q_stream_tokenize_bpe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_tokenize_bpe did not finish in budget")
    streamed = spark.table("q_stream_tokenize_bpe").selectExpr(
        "'stream' AS variant", "doc_id", "n_bpe_exact", "bpe_md5"
    )
    # third variant (r12): the Arrow word-cache PRODUCTION route — the
    # only route above the ~300-merge SQL parse boundary (BASELINE r12)
    # — now value-gated by the driver, not just parity-united
    vec = text.tokenize_bpe_vectorized(spark, sf_dir).selectExpr(
        "'vec' AS variant", "doc_id", "n_bpe_exact", "bpe_md5"
    )
    return batch.unionByName(streamed).unionByName(vec)


def _tokenize_bpe_both_oracle() -> str:
    """Oracle twin of :func:`_q_tokenize_bpe_both` — the SAME per-variant
    DuckDB SQL unioned under the variant tag (the operator is stateless,
    so all three routes must agree by value)."""
    return _tagged_union_oracle(
        text.tokenize_bpe_oracle(),
        "variant",
        ("batch", "stream", "vec"),
        "doc_id, n_bpe_exact, bpe_md5",
    )


def _q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming decontamination flag set: train docs streamed against
    # the STATIC distinct eval shingle set; watermark-bounded per-doc
    # dedup collapses k matching shingles to one flag row.  The gate
    # output drops the synthetic ingest ts (constant by construction).
    from flink_infotheoretic_feature_selection_spark.streaming import (
        stream_decontaminate,
    )

    def stage(d: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.where(f"NOT ({dedup.DECONTAMINATE_EVAL_PRED})").selectExpr(
            "doc_id", "text", "timestamp_micros(1700000000000000) AS ts"
        ).write.mode("overwrite").parquet(d)

    d = _staged_dir((sf_dir, "train_docs"), stage)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _few_shuffle_partitions(spark):
        eval_sh = (
            dedup.doc_shingles(docs.where(dedup.DECONTAMINATE_EVAL_PRED))
            .select("shingle")
            .distinct()
            .localCheckpoint(eager=True)
        )
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(d)
        q = (
            stream_decontaminate(stream, eval_sh)
            .select("doc_id")
            .writeStream.format("memory")
            .queryName("q_stream_decontaminate")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream_decontaminate did not finish in budget")
    return spark.table("q_stream_decontaminate")


def _q_asof_join_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consolidated gate (round-5 50-entry-cap fix): backward + forward
    # as-of in ONE entry, tagged by a `direction` column — each variant
    # keeps its own plan (one exchange, no Join node; plan-pinned in
    # test_plans) and its own unit tests; only the gate slot is shared.
    # Timestamps emit as epoch MICROS (bigint): this entry's first-ever
    # driver row should not double as the first test of raw TIMESTAMP
    # columns in the harness canonicalizer — every r3-green time gate
    # used DATE or epoch-micros (sessionize precedent).
    def to_us(df: DataFrame, direction: str) -> DataFrame:
        return df.select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "value",
            F.unix_micros("ref_ts").alias("ref_ts_us"),
            "ref_value",
            F.lit(direction).alias("direction"),
        )

    return to_us(temporal.asof_join_query(spark, sf_dir), "backward").unionByName(
        to_us(temporal.asof_join_forward_query(spark, sf_dir), "forward")
    )


_ASOF_US = """SELECT event_id, epoch_us(ts) AS ts_us, user_id, value,
       epoch_us(ref_ts) AS ref_ts_us, ref_value, '{d}' AS direction"""
ASOF_JOIN_BOTH_ORACLE = f"""
{_ASOF_US.format(d="backward")} FROM ({temporal.ASOF_JOIN_ORACLE})
UNION ALL
{_ASOF_US.format(d="forward")} FROM ({temporal.ASOF_JOIN_FORWARD_ORACLE})
"""


def _q_hypertable_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    # epoch-micros reshape of the rollup gate output (same rationale as
    # _q_asof_join_both — first driver row, proven column types only).
    return temporal.hypertable_rollup(spark, sf_dir).select(
        "grain",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "event_type",
        "n_events",
        "sum_cents",
    )


HYPERTABLE_US_ORACLE = f"""
SELECT grain, epoch_us(bucket_ts) AS bucket_us, event_type, n_events, sum_cents
FROM ({temporal.HYPERTABLE_ROLLUP_ORACLE})
"""


def _q_sessionize_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consolidated gate: plain + skew-tolerant sessionize produce
    # IDENTICAL output by contract; verify BOTH implementations against
    # the one oracle in a single slot, tagged by `variant`.
    p = sessions.sessionize_query(spark, sf_dir).withColumn("variant", F.lit("plain"))
    s = sessions.sessionize_skew_query(spark, sf_dir).withColumn(
        "variant", F.lit("skew")
    )
    return p.unionByName(s)


SESSIONIZE_BOTH_ORACLE = f"""
SELECT *, 'plain' AS variant FROM ({sessions.SESSIONIZE_ORACLE})
UNION ALL
SELECT *, 'skew' AS variant FROM ({sessions.SESSIONIZE_ORACLE})
"""


def _q_media_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consolidated media gate: byte-histogram features + decode->resize +
    # frame sampling in one long-format entry (kind, doc_id, i, j, v).
    # Each operator keeps its own function, schema and unit tests; the
    # generic (i, j, v) mapping per kind is documented next to the oracle.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = multimodal.attach_media(docs)
    hist = multimodal.extract_features_long(m, dim=16).select(
        F.lit("hist").alias("kind"),
        "doc_id",
        F.col("bin").alias("i"),
        F.col("cnt").cast("int").alias("j"),
        F.col("val").alias("v"),
    )
    rs = multimodal.resize_media(multimodal.fake_decode(m, height=8, width=8), 4, 4).select(
        F.lit("resize").alias("kind"),
        "doc_id",
        F.col("oy").alias("i"),
        F.col("ox").alias("j"),
        F.col("val").alias("v"),
    )
    fr = multimodal.frame_sample(m, every_k=4).select(
        F.lit("frame").alias("kind"),
        "doc_id",
        F.col("frame_idx").alias("i"),
        F.col("frame_len").alias("j"),
        F.col("frame_sum").cast("double").alias("v"),
    )
    return hist.unionByName(rs).unionByName(fr)


# (i, j, v) per kind: hist=(bin, cnt, normalized val), resize=(oy, ox,
# pooled val), frame=(frame_idx, frame_len, frame_sum — exact in double,
# bounded by FRAME_BYTES*255).  j=cnt is an INT reshape of a gate-scale
# count, not a production limit.
MEDIA_PIXELS_ORACLE = f"""
SELECT 'hist' AS kind, doc_id, bin AS i, CAST(cnt AS INT) AS j, val AS v
FROM ({multimodal.MEDIA_FEATURES_ORACLE})
UNION ALL
SELECT 'resize' AS kind, doc_id, oy AS i, ox AS j, val AS v
FROM ({multimodal.MEDIA_RESIZE_ORACLE})
UNION ALL
SELECT 'frame' AS kind, doc_id, frame_idx AS i, frame_len AS j,
       CAST(frame_sum AS DOUBLE) AS v
FROM ({multimodal.FRAME_SAMPLE_ORACLE})
"""


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multimodal: typed metadata over the synthetic binary media column.
    return multimodal.media_meta(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _q_simhash64_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consolidated round 7 (pays the keel_read slot, registry stays 74):
    # the former simhash64_pairs + simhash64_components entries as one
    # tagged long-format slot (kind, a, b, v) — same pattern as
    # _q_simhash_all; both operators stay value-checked per-variant.
    # Gates run the xxhash64 PRODUCTION hash (r6 upgrade from the md5
    # engine-portable twin): the DuckDB oracles resolve signatures from
    # the frozen golden fixture (tools/freeze_simhash64_sigs.py) and
    # brute-force the Hamming mining / recursive-CTE closure from there,
    # so the driver verifies the production signature path, not just
    # its md5 twin (which keeps unit + randomized-sweep coverage).
    pairs = dedup.simhash64_pairs(spark, sf_dir).select(
        F.lit("pair").alias("kind"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("hamming").cast("bigint").alias("v"),
    )
    # vectorized=False: gate stays on the expression route (r9 default
    # flip precedent — see _q_minhash_all)
    comps = dedup.simhash64_components(spark, sf_dir, vectorized=False).select(
        F.lit("comp").alias("kind"),
        F.col("doc_id").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
        F.col("component").cast("bigint").alias("v"),
    )
    return pairs.unionByName(comps)


def _simhash64_mining_oracle() -> str:
    return f"""
    SELECT 'pair' AS kind, doc_a AS a, doc_b AS b, CAST(hamming AS BIGINT) AS v
    FROM ({dedup.simhash64_pairs_oracle()})
    UNION ALL
    SELECT 'comp' AS kind, doc_id AS a, CAST(NULL AS BIGINT) AS b,
           CAST(component AS BIGINT) AS v
    FROM ({dedup.simhash64_components_oracle()})
    """


def _q_simhash64_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end bucketed-corpus path: persist the corpus signature index
    # bucketed on simhash64 (sinks.write_bucketed), then run the ingest
    # check against the CATALOG table — the corpus-side aggregate runs
    # exchange-free (plan-pinned in test_plans).  Same output contract
    # and brute-force oracle as the self-computing variant; the gate now
    # proves the zero-exchange claim on a value-checked operator, not
    # just a synthetic plan test.
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="simhash64_idx_")
    table = "gate_simhash64_corpus_index"
    try:
        dedup.build_simhash64_index(spark, sf_dir, table=table, path=f"{d}/idx")
        # output is eagerly localCheckpoint-ed, so the table and its
        # files can be dropped before the driver collects
        return dedup.simhash64_incremental_vs_index(spark, sf_dir, index_table=table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# KEEL reader gate (S1/S2) — the last SURVEY-§2 operators without a
# driver row (unit-only through r6).  The format PARSER is the unit
# under test, so the gate stages a fixed file covering every body
# dialect the reference's parser handles — dense CSV, Weka-style sparse
# `{idx value}` rows with nominal/numeric defaults, '?' / '<null>'
# missing tokens, @-line and blank-line filtering, @inputs reordering —
# and the oracle re-parses the SAME file through DuckDB's CSV reader
# with the nominal→index map unrolled in SQL.  Reference semantics:
# KeelParser.scala:27-53 (nominal declared-order index, numeric parse),
# InfoSelectorTest.scala:110 (header/comment filter); normalization
# (Attribute.java:600-606) is covered by units (it ships commented-out
# in the reference's parseLabeledPoint).
# ---------------------------------------------------------------------------
_KEEL_GATE_ATTRS = [
    ("color", ["red", "green", "blue"]),  # nominal
    ("cnt", None),                        # integer
    ("ratio", None),                      # real
    ("class", ["neg", "pos"]),            # nominal label
]
_KEEL_GATE_CONTENT = """@relation gate-roundtrip
@attribute color {red, green, blue}
@attribute cnt integer [0, 9]
@attribute ratio real [0.0, 5.0]
@attribute class {neg, pos}
@inputs ratio, color, cnt
@outputs class
@data
red, 3, 1.5, neg
green, 7, 0.25, pos
blue, 0, 4.75, neg
{0 blue, 3 pos}
{1   4}
{}
green, ?, 2.5, pos
red, 5, <null>, neg
  blue , 9 , 0.0 , pos
{2 3.25, 0 green, 3 pos}
"""


def _staged_keel_path() -> str:
    def stage(d: str) -> None:
        with open(f"{d}/gate.dat", "w") as fh:
            fh.write(_KEEL_GATE_CONTENT)

    return _staged_dir(("keel_gate",), stage) + "/gate.dat"


def _q_keel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf-independent by design: a file-format parse does not scale with
    # sf, and oracle_sql() has no sf_dir — the staged fixture is the
    # shared input on both sides.
    from flink_infotheoretic_feature_selection_spark.sources.keel import read_keel

    return read_keel(spark, _staged_keel_path())


def keel_oracle_sql(
    path: str,
    attrs: list[tuple[str, list[str] | None]],
    inputs: list[str],
    label: str,
    label_as: str = "label",
) -> str:
    """DuckDB re-parse of a KEEL file — the oracle twin of
    ``sources.keel.read_keel`` for ANY attribute spec (the gate passes
    the fixed fixture; the randomized KEEL sweep generates specs).

    Cell extraction mirrors sources/keel.py row-for-row: sparse rows
    resolve each attribute index against the `{idx value}` entry list
    (absent -> first nominal value / '0'), dense rows split on commas;
    both trim per cell, then map the missing-value tokens to NULL.
    TRY_CAST, not CAST: the entry list is computed for every row
    (vectorized, no branch short-circuit) and dense cells like 'red'
    must not abort — kcells only READS entries where is_sparse.
    """
    entries = (
        r"list_transform(list_filter(string_split("
        r"regexp_replace(trim(line), '^\{|\}$', '', 'g'), ','),"
        r" t -> trim(t) <> ''),"
        r" t -> {'k': TRY_CAST(string_split_regex(trim(t), '\s+')[1] AS INT),"
        r"       'v': string_split_regex(trim(t), '\s+')[2]})"
    )
    cells = []
    for idx, (name, vals) in enumerate(attrs):
        default = vals[0] if vals else "0"
        cells.append(
            f"CASE WHEN is_sparse THEN coalesce(list_transform("
            f"list_filter(entries, e -> e.k = {idx}), e -> e.v)[1], '{default}')"
            f" ELSE trim(parts[{idx + 1}]) END AS c{idx}"
        )
    by_name = {name: (idx, vals) for idx, (name, vals) in enumerate(attrs)}
    out_cols = [(n, n) for n in inputs if n != label] + [(label, label_as)]
    outs = []
    for name, out_name in out_cols:
        idx, vals = by_name[name]
        cell = f"(CASE WHEN lower(c{idx}) IN ('?', '<null>') THEN NULL ELSE c{idx} END)"
        if vals:  # nominal -> declared-order index (KeelParser.scala:27-32)
            arms = " ".join(f"WHEN '{v}' THEN {i}" for i, v in enumerate(vals))
            outs.append(f"CASE {cell} {arms} END AS {out_name}")
        else:
            outs.append(f"CAST({cell} AS DOUBLE) AS {out_name}")
    return f"""
    WITH klines AS (
      SELECT value AS line
      FROM read_csv('{path}', columns={{'value': 'VARCHAR'}}, header=false,
                    delim=chr(1), quote='')
      WHERE trim(value) <> '' AND substr(trim(value), 1, 1) <> '@'),
    kparsed AS (
      SELECT starts_with(trim(line), '{{') AS is_sparse,
             string_split(line, ',') AS parts,
             {entries} AS entries
      FROM klines),
    kcells AS (SELECT {", ".join(cells)} FROM kparsed)
    SELECT {", ".join(outs)} FROM kcells
    """


def _keel_read_oracle() -> str:
    return keel_oracle_sql(
        _staged_keel_path(),
        _KEEL_GATE_ATTRS,
        inputs=["ratio", "color", "cnt"],
        label="class",
    )


# ---------------------------------------------------------------------------
# libsvm_read gate (S3) — r8: the last §2 operator without a driver row.
# A real user loads LibSVM on day one (InfoSelectorTest.scala:113,
# ErrorTest.scala:49); the staged a1a-style fixture drives Spark's native
# libsvm datasource + the vectors_to_wide bridge end-to-end, oracled by a
# DuckDB token-split re-parse.  sf-independent like keel_read: a file-
# format parse does not scale with sf.
# ---------------------------------------------------------------------------
_LIBSVM_GATE_NF = 12
_LIBSVM_GATE_CONTENT = """+1 3:1 6:1 11:1
-1 1:2 2:1 12:3
+1 4:1 5:2 6:1 10:1
-1 7:1
+1
-1 1:1 3:2 8:1 9:1 11:2
+1 2:3 12:1
-1 5:1 6:1 7:2 8:1
+1 1:1 10:2
-1 2:1 4:3 9:2
"""


def _staged_libsvm_path() -> str:
    def stage(d: str) -> None:
        with open(f"{d}/gate.libsvm", "w") as fh:
            fh.write(_LIBSVM_GATE_CONTENT)

    return _staged_dir(("libsvm_gate",), stage) + "/gate.libsvm"


def _q_libsvm_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_infotheoretic_feature_selection_spark.sources.libsvm import (
        read_libsvm,
        vectors_to_wide,
    )

    raw = read_libsvm(spark, _staged_libsvm_path(), num_features=_LIBSVM_GATE_NF)
    return vectors_to_wide(raw, num_features=_LIBSVM_GATE_NF)


def _libsvm_read_oracle() -> str:
    path = _staged_libsvm_path()
    # `idx:value` pairs after the label token, 1-based file indices
    pairs = (
        "list_transform(list_filter(tokens[2:], t -> trim(t) <> ''),"
        " t -> {'k': CAST(string_split(t, ':')[1] AS INT),"
        "       'v': CAST(string_split(t, ':')[2] AS DOUBLE)})"
    )
    cols = ", ".join(
        f"CAST(coalesce(list_transform(list_filter(pairs, e -> e.k = {i + 1}),"
        f" e -> e.v)[1], 0) AS TINYINT) AS f{i}"
        for i in range(_LIBSVM_GATE_NF)
    )
    # normalize_label maps raw labels to 0..C-1 by ascending value; the
    # fixture's label set is {-1, +1} -> {0, 1}
    return f"""
    WITH llines AS (
      SELECT value AS line
      FROM read_csv('{path}', columns={{'value': 'VARCHAR'}}, header=false,
                    delim=chr(1), quote='')
      WHERE trim(value) <> ''),
    ltok AS (
      SELECT list_filter(string_split_regex(trim(line), '\\s+'), t -> t <> '') AS tokens
      FROM llines),
    lparsed AS (
      SELECT CAST(tokens[1] AS DOUBLE) AS rawlabel, {pairs} AS pairs FROM ltok)
    SELECT {cols},
           CAST(CASE WHEN rawlabel < 0 THEN 0 ELSE 1 END AS TINYINT) AS label
    FROM lparsed
    """


# ---------------------------------------------------------------------------
# jsonl_read gate — r12: the JSONL landing-dir reader (the de-facto LLM
# training-data interchange format) was the last source format with only
# unit coverage.  The staged fixture is a realistic landing dir — mixed
# gzip + plain shards — carrying every hazard class whose PERMISSIVE-mode
# semantics were probe-verified against Spark 4.1: blank lines (skipped,
# not corrupt), missing fields / explicit nulls / empty strings / extra
# fields (NULL or ignored, not corrupt), JSON escapes (\t \" \\ \uXXXX)
# and raw multibyte UTF-8, int64 extremes, duplicate doc_ids (reader does
# not dedup), and the corrupt classes: syntactically invalid lines,
# top-level non-object JSON (42, "str"), and a well-formed object whose
# field fails schema coercion ("doc_id": "abc").  Probe-pinned corrupt
# semantics (Spark 4.1 PERMISSIVE): the quarantine column captures the
# line VERBATIM while every WELL-TYPED field keeps its PARTIAL value —
# only the failing field is NULL (fields before AND after it survive).
# Long fields corrupt on any non-integral json value ("abc", 1.5, true);
# string fields never corrupt (Spark coerces numbers to their text).
# Top-level ARRAYS of objects are excluded: Spark explodes them into
# multiple rows (probe-verified) — a multi-row semantics the single-line
# oracle deliberately leaves out of contract; numeric-valued STRING
# fields are excluded too (Jackson keeps the source lexeme, DuckDB
# normalizes — a text-formatting parity no cross-engine gate should
# depend on).  sf-independent like keel_read / libsvm_read: a
# file-format parse does not scale with sf.
#
# The DuckDB oracle re-parses the same bytes line-by-line (read_csv with
# an unused delimiter, quoting off — the keel_read trick) and mirrors the
# contract PER FIELD via TRY_CAST(line AS JSON) — json_type/json_extract
# THROW on invalid JSON even under CASE (vectorized evaluation does not
# short-circuit), so the NULL-on-failure cast is the only throw-free
# guard.  Each field emits iff its own json_type matches the read schema
# (integer fields BIGINT/UBIGINT, string fields VARCHAR); the record is
# quarantined iff the line is not a JSON object or any integer field's
# present json_type is non-integral.
# ---------------------------------------------------------------------------
_JSONL_GATE_SHARDS: dict[str, list[str]] = {
    # gzip shard 0: happy paths — full row, blank line, missing fields,
    # raw UTF-8 + \u escape + null field + extra field
    "part-00000.jsonl.gz": [
        '{"doc_id": 101, "text": "the quick brown fox", "lang": "en",'
        ' "source": "web", "n_chars": 19}',
        "",
        '{"doc_id": 102, "text": "hallo welt", "lang": "de"}',
        '{"doc_id": 103, "text": "café \\u2014 na\\u00efve", "lang": "fr",'
        ' "source": null, "n_chars": 12, "extra_field": true}',
    ],
    # gzip shard 1: the corrupt classes + JSON escape soup
    "part-00001.jsonl.gz": [
        "{not json at all",
        '{"doc_id": "abc", "text": "type mismatch"}',
        '{"doc_id": 104, "text": "tab\\there \\"quoted\\" back\\\\slash",'
        ' "lang": "en", "source": "books", "n_chars": 29}',
        "42",
        '"just a string"',
    ],
    # plain shard 2: empty object, empty strings, duplicate id, extremes
    "part-00002.jsonl": [
        "{}",
        '{"doc_id": 105, "text": "", "lang": "", "source": "web", "n_chars": 0}',
        '{"doc_id": 105, "text": "duplicate id", "lang": "en", "source": "cc",'
        ' "n_chars": 12}',
        '{"doc_id": -9223372036854775808, "text": "min int64", "lang": "en",'
        ' "source": "cc", "n_chars": 9}',
        '{"doc_id": 9223372036854775807, "text": "max int64", "lang": "en",'
        ' "source": "cc", "n_chars": 9}',
    ],
}


def _staged_jsonl_dir() -> str:
    def stage(d: str) -> None:
        import gzip

        for fname, lines in _JSONL_GATE_SHARDS.items():
            payload = "\n".join(lines) + "\n"
            if fname.endswith(".gz"):
                with gzip.open(f"{d}/{fname}", "wt", encoding="utf-8") as fh:
                    fh.write(payload)
            else:
                with open(f"{d}/{fname}", "w", encoding="utf-8") as fh:
                    fh.write(payload)

    return _staged_dir(("jsonl_gate",), stage)


_JSONL_GATE_COLS = "doc_id, text, lang, source, n_chars, bad_line"


def _q_jsonl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    # variant column: the batch reader UNION the streaming landing-dir
    # ingest twin drained through a LIVE availableNow file stream over
    # the SAME staged shards (each file a micro-batch; stateless, so
    # both variants must hash-match the same line-level oracle).
    from flink_infotheoretic_feature_selection_spark.operators.sinks import (
        read_documents_jsonl,
    )
    from flink_infotheoretic_feature_selection_spark.streaming import (
        read_documents_jsonl_stream,
    )

    d = _staged_jsonl_dir()
    batch = read_documents_jsonl(spark, d, corrupt_col="bad_line").selectExpr(
        "'batch' AS variant", *_JSONL_GATE_COLS.split(", ")
    )
    with _few_shuffle_partitions(spark):
        q = (
            read_documents_jsonl_stream(spark, f"{d}/part-*", corrupt_col="bad_line")
            .writeStream.format("memory")
            .queryName("q_stream_jsonl_read")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_STREAM_BUDGET_MS // 1000):
            q.stop()
            raise RuntimeError("stream jsonl ingest did not finish in budget")
    streamed = spark.table("q_stream_jsonl_read").selectExpr(
        "'stream' AS variant", *_JSONL_GATE_COLS.split(", ")
    )
    return batch.unionByName(streamed)


def jsonl_oracle_sql(glob: str) -> str:
    """DuckDB re-parse of a JSONL landing dir — the oracle twin of
    ``sinks.read_documents_jsonl(corrupt_col="bad_line")`` for ANY file
    set within the probe-verified hazard classes (the gate passes the
    fixed fixture; the randomized JSONL sweep generates landing dirs).

    Out-of-contract inputs (see the gate comment above): top-level JSON
    arrays (Spark explodes them), numeric-valued string fields (lexeme
    formatting differs), integers outside int64 (Jackson overflow vs
    TRY_CAST NULL), and whitespace-only lines.
    """
    int_fields = ["doc_id", "n_chars"]
    str_fields = ["text", "lang", "source"]
    # a record is corrupt iff it is not a JSON object, or an integer
    # field is present with a non-integral value (string fields coerce,
    # never corrupt — probe-pinned)
    type_checks = [
        f"coalesce(json_type(j, '$.{f}'), 'NULL') NOT IN ('BIGINT', 'UBIGINT', 'NULL')"
        for f in int_fields
    ]
    bad = "j IS NULL OR json_type(j) <> 'OBJECT' OR " + " OR ".join(type_checks)
    # per-field emission — partial results survive on corrupt records,
    # so each field keys on ITS OWN json_type, not on the record flag.
    # TRY_CAST in the value branch: the type guard already guarantees an
    # integral lexeme, but vectorized CASE may evaluate the branch on
    # excluded rows too — it must not throw.
    outs = [
        f"CASE WHEN json_type(j, '$.{f}') IN ('BIGINT', 'UBIGINT')"
        f" THEN TRY_CAST(json_extract_string(j, '$.{f}') AS BIGINT) END AS {f}"
        for f in int_fields
    ] + [
        f"CASE WHEN json_type(j, '$.{f}') = 'VARCHAR'"
        f" THEN json_extract_string(j, '$.{f}') END AS {f}"
        for f in str_fields
    ]
    return f"""
    WITH jlines AS (
      SELECT value AS line
      FROM read_csv('{glob}', columns={{'value': 'VARCHAR'}}, header=false,
                    delim=chr(1), quote='')
      WHERE coalesce(value, '') <> ''),
    jparsed AS (
      SELECT line, TRY_CAST(line AS JSON) AS j FROM jlines),
    jflag AS (
      SELECT line, j, ({bad}) AS bad FROM jparsed)
    SELECT {", ".join(outs)},
           CASE WHEN bad THEN line END AS bad_line
    FROM jflag
    """


def _jsonl_read_oracle() -> str:
    return _tagged_union_oracle(
        jsonl_oracle_sql(_staged_jsonl_dir() + "/part-*"),
        "variant",
        ("batch", "stream"),
        _JSONL_GATE_COLS,
    )


# ---------------------------------------------------------------------------
# scrub_pii gate — r8: the one extension op that was unit-only (the
# testdata corpus has no PII, so a corpus oracle would zero-hit-check
# nothing).  The staged parquet fixture carries every pattern class plus
# the overlap case (an email and a digit run INSIDE a url — counted by
# their own censuses, consumed by the email→url→longnum replacement
# order), NULL and empty text.  Oracle builds from the SAME
# _PII_PATTERNS list, so pattern drift breaks the gate loudly.
# ---------------------------------------------------------------------------
_PII_GATE_DOCS = [
    (1, "contact john.doe@example.com for details"),
    (2, "see https://example.com/a?id=1234567&mail=x@y.io now"),
    (3, "card 4111111111111111 leaked and 999999 too"),
    (4, "room 12345 is fine, 99999 as well"),
    (5, None),
    (6, ""),
    (7, "a@b.co and c@d.org wrote http://t.co/xyz"),
    (8, "plain text with no pii at all"),
]


def _staged_pii_path() -> str:
    def stage(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in _PII_GATE_DOCS], pa.int64()),
                    "text": pa.array([t for _, t in _PII_GATE_DOCS], pa.string()),
                }
            ),
            f"{d}/pii_docs.parquet",
        )

    return _staged_dir(("pii_gate",), stage) + "/pii_docs.parquet"


def _q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.scrub_pii(spark.read.parquet(_staged_pii_path()))


def _scrub_pii_oracle() -> str:
    from flink_infotheoretic_feature_selection_spark.operators.text import _PII_PATTERNS

    path = _staged_pii_path()
    scrub = "coalesce(text, '')"
    counts = []
    for name, pat, repl in _PII_PATTERNS:
        # DuckDB SQL strings are escape-free: the pattern embeds verbatim
        counts.append(
            f"CAST(len(regexp_extract_all(coalesce(text, ''), '{pat}')) AS INT)"
            f" AS n_{name}"
        )
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return (
        f"SELECT doc_id, {scrub} AS text, {', '.join(counts)} "
        f"FROM read_parquet('{path}')"
    )


# ---------------------------------------------------------------------------
# selected_wide gate fixture — r9 (verdict ask #3; consolidated r12): the
# WIDE-matrix selection
# path (pack column-count fast path + driver-merge regime, the shape b16
# benches) was pinned only by cross-rep equality and packed-vs-arrow
# parity units, never by value.  This staged 631-attribute fixture (the
# reference's own default attribute count, InfoSelectorTest.scala:102-105)
# drives it end-to-end against a DuckDB oracle.  sf-independent: the wide
# path's distinguishing behavior is column-count-driven, not row-driven.
# ---------------------------------------------------------------------------
_WIDE_GATE_NF = 631
_WIDE_GATE_ROWS = 2048
_WIDE_GATE_K = 5
_WIDE_GATE_SEED = 20631


def _staged_wide_matrix_path() -> str:
    # Same generator family as tools/scale_proof_wide.build_matrix (mixed
    # dims 2..8, every 4th feature leaks the label with index-dependent
    # noise so the greedy path is non-degenerate), plus an explicit `rid`
    # so the oracle can join long-format rows without a synthetic key.
    def stage(d: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(_WIDE_GATE_SEED)
        n, nf = _WIDE_GATE_ROWS, _WIDE_GATE_NF
        y = rng.integers(0, 2, size=n)
        cols: dict = {"rid": pa.array(np.arange(n, dtype=np.int64))}
        for j in range(nf):
            dim = 2 + j % 7
            if j % 4 == 0:
                noise = rng.integers(0, dim, size=n)
                flip = rng.random(n) < (0.2 + 0.6 * (j % 8) / 8)
                vals = np.where(flip, noise, y % dim)
            else:
                vals = rng.integers(0, dim, size=n)
            cols[f"f{j}"] = pa.array(vals.astype(np.int32))
        cols["label"] = pa.array(y.astype(np.int32))
        pq.write_table(pa.table(cols), f"{d}/wide_gate.parquet")

    return _staged_dir(("wide_gate", _WIDE_GATE_SEED), stage) + "/wide_gate.parquet"


def _q_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vectorized=False pins the gate to the expression route (the
    # oracle-checked source of truth) after the r9 library-default flip
    # to the Arrow kernels; bit-equality parity units bridge the two.
    return dedup.neardup_groups(spark, sf_dir, vectorized=False)


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same expression-route pin as _q_neardup_groups (keep_best composes
    # over neardup_groups, so it inherited the r9 default flip — the
    # review caught it running the Arrow route while the contract says
    # gates verify the expression route)
    return dedup.dedup_keep_best(spark, sf_dir, vectorized=False)


# r12 (VERDICT r11 ask #2): the four selected_wide_{mrmr,direct,cmim,jmi}
# slots consolidate into ONE variant-column gate spanning ALL FIVE greedy
# criteria at the 631-attribute width (the sessionize/asof_join precedent)
# — icap/mifs at width previously rode only the randomized sweep's
# deterministic rows.  Each criterion keeps a DESIGNATED pack route, picked
# by the input it is fed, so every substrate stays driver-pinned:
# mrmr→scan (the mapInArrow scan pack), cmim→auto (the bare-scan router
# end-to-end), jmi→fit_parquet (the direct row-group pack, the r11
# two-accumulator × direct cell), mifs→scan, icap→auto.  The gate
# matrix (2048 × 632 int32, 5.2 MB) is under the local bound, so "auto"
# reads it onto the driver with pyarrow and the pack rows pin their pack
# with the local bound at 0 (``_PackOnlySelector``).  Registry
# 82 → 79: breaks the structural 82-gate cap (18 core + 2×32 rotating)
# and frees 3 rotation slots.
_WIDE_GATE_ROUTES: list[tuple[str, str]] = [
    ("mrmr", "scan"),
    ("mifs", "scan"),
    ("jmi", "direct"),
    ("cmim", "auto"),
    ("icap", "auto"),
]


class _PackOnlySelector(InfoThSelector):
    """The selector with the local route off, so a small input takes the
    pack its input picks."""

    LOCAL_MAX_BYTES = 0


def _q_selected_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I1 (wide) — every criterion over 631 features; emit_f32=False so
    # scores stay float64 end-to-end (same contract as the other
    # selected_* gates).  The select drops the oracle-only `rid` BEFORE
    # fit so the input's column set equals feats+label — that is what
    # arms the pack column-count fast path this gate exists to pin (with
    # rid present, pack would take the ordinary select route instead).
    feats = [f"f{j}" for j in range(_WIDE_GATE_NF)]
    path = _staged_wide_matrix_path()
    rows = []
    for crit, route in _WIDE_GATE_ROUTES:
        sel = (InfoThSelector if route == "auto" else _PackOnlySelector)(
            n_to_select=_WIDE_GATE_K,
            criterion=crit,
            feature_cols=feats,
            emit_f32=False,
        )
        if route == "direct":
            # fit_parquet prunes to feats+label at the reader, so the
            # oracle-only rid never packs
            model = sel.fit_parquet(spark, path)
        else:
            # "auto": the fit detects the bare pruned scan and reads its
            # files (plans.inspect.bare_parquet_scan_files); "scan": a
            # value-identical derived label makes the plan non-bare, so the
            # fit takes the mapInArrow scan pack — greatest() survives the
            # optimizer (`+ 0` is folded away) and keeps the column set
            df = spark.read.parquet(path).select(*feats, "label")
            if route == "scan":
                df = df.withColumn("label", F.greatest("label", F.lit(0)))
            model = sel.fit(df)
        rows.extend(
            (crit, step, int(c[1:]), _q5(s))
            for step, (c, s) in enumerate(model.selection_path)
        )
    return spark.createDataFrame(
        rows, "criterion string, step int, feat int, score double"
    )


def wide_selection_all_oracle_sql() -> str:
    """UNION ALL of :func:`wide_selection_oracle_sql` over every greedy
    criterion, tagged by a ``criterion`` column — the oracle twin of the
    consolidated ``selected_wide`` gate."""
    return _tagged_union_oracle(
        lambda crit: wide_selection_oracle_sql(criterion=crit),
        "criterion",
        [crit for crit, _route in _WIDE_GATE_ROUTES],
        "step, feat, score",
    )


def wide_selection_oracle_sql(
    path: str | None = None,
    nf: int | None = None,
    k: int | None = None,
    criterion: str = "mrmr",
) -> str:
    """DuckDB oracle for the wide mRMR greedy loop.

    ``selection_oracle_sql`` unrolls O(nf²) pairwise GROUP-BY CTEs — fine
    at 32 features, unparseable at 631.  This oracle exploits mRMR's
    update structure instead (``InfoThCriterion.scala:143-164``): step t
    only needs MI(c ; s_{t-1}) against the SINGLE feature selected at the
    previous step, folded into a running redundancy sum — the exact
    accumulation order of the engine's criterion state.  The input's
    explicit ``rid`` makes each stage ONE long-format self-join keyed on
    the just-selected feature: O(k · nf · rows) total work.

    Parameterized (r9) so the randomized wide-matrix sweep can oracle
    arbitrary (path, nf, k) shapes; defaults are the staged gate fixture.
    Input contract: parquet with columns ``rid`` (unique), ``f0..f{nf-1}``
    (integer, byte-ranged), ``label`` (integer).

    ``criterion`` (r10, VERDICT ask #7) extends the same staged rid-join
    structure to every greedy criterion's update algebra
    (``InfoThCriterion.scala``): per stage the selected feature's column
    joins once; mRMR/MIFS fold MI into a running sum, JMI additionally
    folds CMI(c; s | Y) (one 3-way rid join per stage), CMIM keeps a
    running ``greatest`` of (MI − CMI) — the max-update accumulator, the
    most divergence-prone — and ICAP a running sum of its positive part.
    """
    path = path or _staged_wide_matrix_path()
    nf = nf if nf is not None else _WIDE_GATE_NF
    k = k if k is not None else _WIDE_GATE_K
    if criterion not in ("mrmr", "mifs", "jmi", "cmim", "icap"):
        raise ValueError(f"no wide oracle for criterion {criterion!r}")
    needs_cmi = criterion in ("jmi", "cmim", "icap")
    fcols = ", ".join(f"f{j}" for j in range(nf))
    head = f"""
    WITH fm AS MATERIALIZED (SELECT * FROM read_parquet('{path}')),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM fm),
    lng AS MATERIALIZED (
      SELECT rid, CAST(substr(name, 2) AS INT) AS feat, CAST(value AS INT) AS x
      FROM (UNPIVOT fm ON {fcols} INTO NAME name VALUE value)),
    mx AS MATERIALIZED (
      SELECT feat, x, CAST(count(*) AS DOUBLE) AS cx FROM lng GROUP BY feat, x),
    my AS (SELECT CAST(label AS INT) AS y, CAST(count(*) AS DOUBLE) AS cy
           FROM fm GROUP BY 1),
    lab AS MATERIALIZED (SELECT rid, CAST(label AS INT) AS y FROM fm),
    jl AS MATERIALIZED (
      SELECT l.feat, l.x, b.y, count(*) AS c FROM lng l JOIN lab b USING (rid)
      GROUP BY 1, 2, 3),
    relv AS MATERIALIZED (
      SELECT jl.feat AS feat,
             sum((CAST(c AS DOUBLE)/n) * log2(CAST(c AS DOUBLE)*n/(cx*cy))) AS rel
      FROM jl JOIN tot ON true
      JOIN mx ON mx.feat = jl.feat AND mx.x = jl.x
      JOIN my ON my.y = jl.y
      GROUP BY jl.feat),
    s1 AS (SELECT feat, rel AS score FROM relv
          ORDER BY CAST(floor(rel * 100000.0 + 0.5) AS BIGINT) DESC, feat LIMIT 1),
    sel1 AS (SELECT 0 AS step, feat, score FROM s1),
    acc1 AS (SELECT feat, 0.0 AS acc_mi, 0.0 AS acc_cmi, 0.0 AS acc_mod,
                    0.0 AS acc_icap FROM relv)"""
    # per-criterion score over the running accumulators ({t1} = |selected|)
    score_expr = {
        "mrmr": "r.rel - a.acc_mi / {t1}.0",
        "mifs": "r.rel - 1.0 * a.acc_mi",
        "jmi": "r.rel - a.acc_mi / {t1}.0 + a.acc_cmi / {t1}.0",
        "cmim": "r.rel - a.acc_mod",
        "icap": "r.rel - a.acc_icap",
    }[criterion]
    stages = []
    for t in range(2, k + 1):
        prev = t - 1
        # bsel{t}: the selected feature's long rows, REDUCED FIRST
        # (a scalar subquery in the rid-join predicate is not pushed
        # below the join by DuckDB — the unfiltered self-join is
        # rows × nf² ≈ 800M intermediates; this shape measured <1 s)
        stages.append(f"""
    bsel{t} AS MATERIALIZED (
      SELECT l.rid, l.x FROM lng l JOIN s{prev} s ON l.feat = s.feat),
    mbsel{t} AS MATERIALIZED (
      SELECT m.x, m.cx FROM mx m JOIN s{prev} s ON m.feat = s.feat),
    mi{t} AS MATERIALIZED (
      SELECT j.feat AS feat,
             sum((CAST(j.c AS DOUBLE)/n)
                 * log2(CAST(j.c AS DOUBLE)*n/(ma.cx*mb.cx))) AS mi
      FROM (
        SELECT a.feat, a.x AS xa, b.x AS xb, count(*) AS c
        FROM lng a JOIN bsel{t} b ON a.rid = b.rid
        GROUP BY 1, 2, 3) j
      JOIN tot ON true
      JOIN mx ma ON ma.feat = j.feat AND ma.x = j.xa
      JOIN mbsel{t} mb ON mb.x = j.xb
      GROUP BY j.feat)""")
        if needs_cmi:
            # CMI(c; s_{prev} | Y) = Σ (c3/n)·log2(c3·cy / (c_xy·c_sy)) —
            # the 3-way rid join reduces to counts once; c_xy is the
            # init-time jl table, c_sy the selected feature's slice of it
            stages.append(f"""
    jbsel{t} AS MATERIALIZED (
      SELECT jj.x, jj.y, CAST(jj.c AS DOUBLE) AS c
      FROM jl jj JOIN s{prev} s ON jj.feat = s.feat),
    cmi{t} AS MATERIALIZED (
      SELECT j.feat AS feat,
             sum((CAST(j.c AS DOUBLE)/n)
                 * log2(CAST(j.c AS DOUBLE)*cy/(CAST(ja.c AS DOUBLE)*jb.c))) AS cmi
      FROM (
        SELECT a.feat, a.x AS xa, b.x AS xb, l.y AS y, count(*) AS c
        FROM lng a JOIN bsel{t} b ON a.rid = b.rid
        JOIN lab l ON a.rid = l.rid
        GROUP BY 1, 2, 3, 4) j
      JOIN tot ON true
      JOIN my ON my.y = j.y
      JOIN jl ja ON ja.feat = j.feat AND ja.x = j.xa AND ja.y = j.y
      JOIN jbsel{t} jb ON jb.x = j.xb AND jb.y = j.y
      GROUP BY j.feat),
    upd{t} AS (
      SELECT m.feat, m.mi, coalesce(c.cmi, 0.0) AS cmi
      FROM mi{t} m LEFT JOIN cmi{t} c ON c.feat = m.feat)""")
        else:
            stages.append(f"""
    upd{t} AS (SELECT feat, mi, 0.0 AS cmi FROM mi{t})""")
        # running criterion state — the exact update algebra of
        # InfoThCriterion.scala (sum / sum+sum / max / positive-part sum)
        stages.append(f"""
    acc{t} AS MATERIALIZED (
      SELECT p.feat,
             p.acc_mi + coalesce(u.mi, 0.0) AS acc_mi,
             p.acc_cmi + coalesce(u.cmi, 0.0) AS acc_cmi,
             greatest(p.acc_mod, coalesce(u.mi - u.cmi, 0.0)) AS acc_mod,
             p.acc_icap + greatest(0.0, coalesce(u.mi - u.cmi, 0.0)) AS acc_icap
      FROM acc{prev} p LEFT JOIN upd{t} u ON u.feat = p.feat),
    c{t} AS (
      SELECT r.feat, {score_expr.format(t1=t - 1)} AS score
      FROM relv r JOIN acc{t} a ON a.feat = r.feat
      WHERE r.feat NOT IN (SELECT feat FROM sel{prev})),
    s{t} AS MATERIALIZED (
      SELECT feat, score FROM c{t}
      ORDER BY CAST(floor(score * 100000.0 + 0.5) AS BIGINT) DESC, feat LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{prev} UNION ALL SELECT {t - 1}, feat, score FROM s{t})""")
    return (
        head
        + ","
        + ",".join(stages)
        + f"""
    SELECT CAST(step AS INT) AS step, CAST(feat AS INT) AS feat,
           {_q5_sql("score")} AS score
    FROM sel{k}
    """
    )


# ---------------------------------------------------------------------------
# Round-6 gate consolidations (registry 81 -> 76 so the 50-row driver cap
# re-verifies every gate within 2 rounds).  Pattern per _q_media_pixels /
# _q_asof_join_both: variants that share an upstream CTE union into ONE
# long-format entry tagged by `kind`; every operator keeps its own public
# function, schema and unit tests — only the gate slot is shared, and the
# oracle unions the SAME per-variant oracle SQL, so nothing loses value-
# level driver verification.
# ---------------------------------------------------------------------------
def _q_simhash_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 28-bit SimHash signatures + Hamming-<=3 pairs (shared signature CTE,
    # dedup.simhash/simhash_pairs) in one slot: (kind, doc_a, doc_b, v).
    sig = dedup.simhash(spark, sf_dir).select(
        F.lit("sig").alias("kind"),
        F.col("doc_id").alias("doc_a"),
        F.lit(None).cast("bigint").alias("doc_b"),
        F.col("simhash").cast("bigint").alias("v"),
    )
    pairs = dedup.simhash_pairs(spark, sf_dir).select(
        F.lit("pair").alias("kind"),
        "doc_a",
        "doc_b",
        F.col("hamming").cast("bigint").alias("v"),
    )
    return sig.unionByName(pairs)


def _simhash_all_oracle() -> str:
    return f"""
    SELECT 'sig' AS kind, doc_id AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(simhash AS BIGINT) AS v
    FROM ({dedup.simhash_oracle()})
    UNION ALL
    SELECT 'pair' AS kind, doc_a, doc_b, CAST(hamming AS BIGINT) AS v
    FROM ({dedup.simhash_pairs_oracle()})
    """


def _q_minhash_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash signatures (long: one row per hash slot) + LSH banded pairs:
    # (kind, doc_a, doc_b, idx, v_int, v_d).
    stack = ", ".join(f"{i}, mh{i}" for i in range(8))
    sig = (
        dedup.minhash_signatures(spark, sf_dir)
        .selectExpr("doc_id", f"stack(8, {stack}) AS (idx, mh)")
        .select(
            F.lit("sig").alias("kind"),
            F.col("doc_id").alias("doc_a"),
            F.lit(None).cast("bigint").alias("doc_b"),
            F.col("idx").cast("int").alias("idx"),
            F.col("mh").cast("bigint").alias("v_int"),
            F.lit(None).cast("double").alias("v_d"),
        )
    )
    # vectorized=False: the gate verifies the expression route (the
    # oracle-checked source of truth); the r9 library default is the
    # vectorized kernel, bridged by bit-equality parity units
    pairs = dedup.minhash_lsh_pairs(spark, sf_dir, vectorized=False).select(
        F.lit("pair").alias("kind"),
        "doc_a",
        "doc_b",
        F.lit(None).cast("int").alias("idx"),
        F.lit(None).cast("bigint").alias("v_int"),
        F.col("jaccard").alias("v_d"),
    )
    return sig.unionByName(pairs)


def _minhash_all_oracle() -> str:
    sig_long = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS idx, mh{i} AS mh FROM sigs" for i in range(8)
    )
    return f"""
    WITH sigs AS ({dedup.minhash_signatures_oracle()})
    SELECT 'sig' AS kind, doc_id AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
           CAST(idx AS INT) AS idx, CAST(mh AS BIGINT) AS v_int,
           CAST(NULL AS DOUBLE) AS v_d
    FROM ({sig_long})
    UNION ALL
    SELECT 'pair' AS kind, doc_a, doc_b, CAST(NULL AS INT) AS idx,
           CAST(NULL AS BIGINT) AS v_int, jaccard AS v_d
    FROM ({dedup.minhash_lsh_pairs_oracle()})
    """


def _q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text_stats + lang_id + doc_repetition share the tokenize CTE; gate
    # them as ONE wide per-doc profile row (left joins from text_stats,
    # which covers every doc).  doc_repetition's dup_frac renames to
    # rep_dup_frac (text_stats has no dup_frac, but keep the name
    # self-describing next to n_grams/n_distinct).
    stats = text.text_stats(spark, sf_dir)
    lang = text.lang_id(spark, sf_dir)
    rep = text.doc_repetition(spark, sf_dir).select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.col("dup_frac").alias("rep_dup_frac"),
        "repetitive",
    )
    return stats.join(lang, "doc_id", "left").join(rep, "doc_id", "left")


def _text_profile_oracle() -> str:
    return f"""
    SELECT s.*, l.lang_pred, r.n_grams, r.n_distinct,
           r.dup_frac AS rep_dup_frac, r.repetitive
    FROM ({text.TEXT_STATS_ORACLE}) s
    LEFT JOIN ({text.LANG_ID_ORACLE}) l USING (doc_id)
    LEFT JOIN ({text.DOC_REPETITION_ORACLE}) r USING (doc_id)
    """


def _q_substring_dup_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc dup-window profile + the exact spans it aggregates:
    # (kind, doc_id, a, b, c, d, v_d); profile=(n_windows, n_dup_windows,
    # -, -, dup_frac), span=(span_id, span_start, span_end, n_windows, -).
    prof = dedup.substring_dup_profile(spark, sf_dir).select(
        F.lit("profile").alias("kind"),
        "doc_id",
        F.col("n_windows").cast("bigint").alias("a"),
        F.col("n_dup_windows").cast("bigint").alias("b"),
        F.lit(None).cast("bigint").alias("c"),
        F.lit(None).cast("bigint").alias("d"),
        F.col("dup_frac").alias("v_d"),
    )
    spans = dedup.substring_dup_spans(spark, sf_dir).select(
        F.lit("span").alias("kind"),
        "doc_id",
        F.col("span_id").cast("bigint").alias("a"),
        F.col("span_start").cast("bigint").alias("b"),
        F.col("span_end").cast("bigint").alias("c"),
        F.col("n_windows").cast("bigint").alias("d"),
        F.lit(None).cast("double").alias("v_d"),
    )
    return prof.unionByName(spans)


def _substring_dup_all_oracle() -> str:
    return f"""
    SELECT 'profile' AS kind, doc_id, CAST(n_windows AS BIGINT) AS a,
           CAST(n_dup_windows AS BIGINT) AS b, CAST(NULL AS BIGINT) AS c,
           CAST(NULL AS BIGINT) AS d, dup_frac AS v_d
    FROM ({dedup.substring_dup_profile_oracle()})
    UNION ALL
    SELECT 'span' AS kind, doc_id, CAST(span_id AS BIGINT) AS a,
           CAST(span_start AS BIGINT) AS b, CAST(span_end AS BIGINT) AS c,
           CAST(n_windows AS BIGINT) AS d, CAST(NULL AS DOUBLE) AS v_d
    FROM ({dedup.substring_dup_spans_oracle()})
    """


def _q_ann_ivf_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The three sign-grid IVF ANN gates share the bucket equi-join and
    # the (query_id, neighbor_id, cos, rank) shape — one slot:
    # kind='ivf' (single bucket), 'probe' (Hamming-1 multiprobe),
    # 'q8' (int8-quantized vectors, same plan).
    parts = [
        ("ivf", similarity.ivf_topk),
        ("probe", similarity.ivf_multiprobe_topk),
        ("q8", similarity.ivf_topk_q8),
    ]
    out = None
    for kind, fn in parts:
        p = fn(spark, sf_dir).select(
            F.lit(kind).alias("kind"), "query_id", "neighbor_id", "cos", "rank"
        )
        out = p if out is None else out.unionByName(p)
    return out


def _ann_ivf_all_oracle() -> str:
    return f"""
    SELECT 'ivf' AS kind, query_id, neighbor_id, cos, rank
    FROM ({similarity.ivf_topk_oracle()})
    UNION ALL
    SELECT 'probe' AS kind, query_id, neighbor_id, cos, rank
    FROM ({similarity.ivf_multiprobe_oracle()})
    UNION ALL
    SELECT 'q8' AS kind, query_id, neighbor_id, cos, rank
    FROM ({similarity.ivf_topk_q8_oracle()})
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: mRMR greedy selection (k=5) on sf0.001."""
    return _q_selected_mrmr(spark, "/root/testdata/sf0.001")


GATE_CAP = 50  # driver gate entry-count cap (observed 50/55 r3 … 50/74 r6)

CORE_GATES = [
    "features_dense", "class_prior", "distinct_counts", "hist2d", "hist3d",
    "relevance_mi", "mim_topk", "projection", "equal_freq_bucket",
    "equal_width_bucket", "sparse_hist2d", "sparse_hist3d", "selected_mrmr",
    "selected_jmi", "selected_cmim", "selected_icap", "selected_mifs",
    "selected_sparse_mrmr",
]


def rotation_history(root: str | None = None) -> dict[int, dict]:
    """All CORRECTNESS_r{N}.json files the driver has dropped, by round."""
    import glob
    import json
    import os
    import re

    root = root or os.path.dirname(os.path.abspath(__file__))
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        # a truncated/corrupt history file must degrade the ORDERING, not
        # crash queries() itself (the driver gate imports through here)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            rounds[int(m.group(1))] = data
    return rounds


# Gates whose GATE BODY (the _q_* wrapper / oracle SQL in THIS file)
# changed this round: promoted into block A even if freshly green, so the
# change itself earns a driver row.  Only gate-body edits need listing by
# hand — churn in the package's .py files is detected automatically by
# :func:`rotation_promote` (git diff since the last round-boundary commit
# mapped through each gate's import closure; the r7 verdict's ask — the
# hand-set under-promoted when a shared module rewrite touched ~17 gates).
# Reset at each round start (r8: r7's stream_dedup entry reset).
# r12 gate-body edits: selected_wide is the new consolidated
# criterion-column gate (never green yet — tier 1 on its own, listed
# for documentation); tokenize_bpe grew the batch/stream variant column.
ROTATION_PROMOTE = frozenset(
    {"selected_wide", "tokenize_bpe", "decontaminate", "source_token_cap",
     "range_join_agg"}
)

_PKG_NAME = "flink_infotheoretic_feature_selection_spark"


def _resolve_module_files(dotted: str, root: str) -> set[str]:
    """Dotted package reference → repo-relative .py files, stripping
    trailing attribute components until something resolves."""
    import os

    parts = dotted.split(".")
    out: set[str] = set()
    while parts:
        rel = "/".join(parts) + ".py"
        ini = "/".join(parts) + "/__init__.py"
        if os.path.exists(os.path.join(root, rel)):
            out.add(rel)
            break
        if os.path.exists(os.path.join(root, ini)):
            out.add(ini)
            break
        parts.pop()
    return out


def _file_import_refs(path: str, root: str) -> set[str]:
    """Repo-relative package files a .py file imports (AST, both
    ``import pkg.m`` and ``from pkg.m import n`` — for the latter each
    ``pkg.m.n`` is also tried, so ``from pkg.operators import dedup``
    resolves to dedup.py, not just operators/__init__.py)."""
    import ast
    import os

    try:
        with open(os.path.join(root, path)) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return set()
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG_NAME):
                    refs |= _resolve_module_files(a.name, root)
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG_NAME):
            refs |= _resolve_module_files(node.module, root)
            for a in node.names:
                refs |= _resolve_module_files(f"{node.module}.{a.name}", root)
    return refs


def _package_import_closure(root: str) -> dict[str, set[str]]:
    """file → {itself + every package file transitively imported}."""
    import glob
    import os

    files = [
        os.path.relpath(p, root).replace(os.sep, "/")
        for p in glob.glob(os.path.join(root, _PKG_NAME, "**", "*.py"), recursive=True)
    ]
    direct = {f: _file_import_refs(f, root) & set(files) for f in files}
    # fixpoint iteration, not recursive memoization: with an import
    # CYCLE, a recursive walk caches the mid-cycle node's incomplete set
    # (its back-edge truncates before the rest of the cycle's deps) and
    # silently under-promotes — the exact failure this feature exists to
    # prevent.  ~40 files make the quadratic fixpoint free.
    closure: dict[str, set[str]] = {f: {f} | direct[f] for f in files}
    changed = True
    while changed:
        changed = False
        for f in files:
            new = set().union(closure[f], *(closure[d] for d in closure[f]))
            if new != closure[f]:
                closure[f] = new
                changed = True
    return closure


def _gate_direct_files(fn, entry_alias_files: dict[str, set[str]], root: str) -> set[str]:
    """Package files a gate callable directly depends on: its defining
    module when it lives in the package, else (an entry-file ``_q_*``
    wrapper) the union of (a) package imports inside its body and (b) the
    entry-file import aliases its body references.  Unresolvable shapes
    fall back to ALL aliased files — over-promotion is the safe error."""
    import ast
    import inspect
    import os

    try:
        src_file = os.path.relpath(inspect.getfile(fn), root).replace(os.sep, "/")
    except (TypeError, OSError):
        return set().union(*entry_alias_files.values(), set())
    if src_file.startswith(_PKG_NAME + "/"):
        return {src_file}
    try:
        tree = ast.parse(inspect.getsource(fn).lstrip())
    except (OSError, SyntaxError, TypeError):
        return set().union(*entry_alias_files.values(), set())
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG_NAME):
                    out |= _resolve_module_files(a.name, root)
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG_NAME):
            out |= _resolve_module_files(node.module, root)
            for a in node.names:
                out |= _resolve_module_files(f"{node.module}.{a.name}", root)
        elif isinstance(node, ast.Name) and node.id in entry_alias_files:
            out |= entry_alias_files[node.id]
    if not out:
        # r9 (advisor): a wrapper that delegates to another ENTRY-FILE
        # helper (whose body holds the package imports) parses fine but
        # yields no refs — returning {} would silently exclude it from
        # churn promotion forever.  Empty == unresolvable: over-promote.
        return set().union(*entry_alias_files.values(), set())
    return out


def _entry_alias_files(root: str) -> dict[str, set[str]]:
    """Top-level ``from pkg... import name [as alias]`` bindings of the
    entry file → the package files each bound name comes from."""
    import ast
    import os

    path = os.path.join(root, os.path.basename(__file__))
    try:
        with open(path) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return {}
    aliases: dict[str, set[str]] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG_NAME):
            for a in node.names:
                files = _resolve_module_files(f"{node.module}.{a.name}", root) or _resolve_module_files(node.module, root)
                aliases[a.asname or a.name] = files
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG_NAME):
                    aliases[a.asname or a.name] = _resolve_module_files(a.name, root)
    return aliases


def changed_files_since_last_round(root: str) -> set[str] | None:
    """Repo-relative files changed since the last round-boundary commit
    (the commit that last touched a CORRECTNESS_r*.json), committed AND
    uncommitted, plus untracked.  None when git can't answer — callers
    must then fall back to the manual promote set, not guess."""
    import subprocess

    def run(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=root, capture_output=True, text=True, timeout=30, check=True
        ).stdout

    try:
        base = run("log", "-1", "--format=%H", "--", "CORRECTNESS_r*.json").strip()
        if not base:
            return None
        changed = set(run("diff", "--name-only", base).splitlines())
        changed |= set(run("ls-files", "--others", "--exclude-standard").splitlines())
        return {c for c in changed if c}
    except Exception:
        return None


_ROTATION_PROMOTE_CACHE: tuple[frozenset[str], frozenset[str]] | None = None


def rotation_promote(gates: dict | None = None, root: str | None = None) -> frozenset[str]:
    """The promote set for this round: the hand-maintained
    :data:`ROTATION_PROMOTE` (gate-body edits in this file) ∪ every gate
    whose import closure intersects the files changed since the last
    round-boundary commit.  Degrades to the manual set alone whenever
    git or source introspection can't answer — the ordering must never
    crash the driver gate."""
    global _ROTATION_PROMOTE_CACHE
    import os

    cache_default = gates is None
    try:
        root = root or os.path.dirname(os.path.abspath(__file__))
        changed = changed_files_since_last_round(root)
        if changed is None:
            # git couldn't answer (e.g. subprocess timeout under load) —
            # degrade for THIS call only, never cache the degraded set:
            # pinning it would silently disable churn promotion for the
            # whole process lifetime
            return ROTATION_PROMOTE
        # r9 (advisor): the cache is keyed on the changed-file set, not
        # process lifetime — package files edited later in a long-lived
        # driver session change `changed` and force a recompute instead
        # of silently reusing the first call's promote set
        changed_key = frozenset(changed)
        if cache_default and _ROTATION_PROMOTE_CACHE is not None:
            key, cached = _ROTATION_PROMOTE_CACHE
            if key == changed_key:
                return cached
        if not changed:
            result = ROTATION_PROMOTE
        else:
            if gates is None:
                gates = _base_queries()
            closure = _package_import_closure(root)
            aliases = _entry_alias_files(root)
            churned = set()
            for name, fn in gates.items():
                direct = _gate_direct_files(fn, aliases, root)
                reach = set().union(*(closure.get(f, {f}) for f in direct), direct)
                if reach & changed:
                    churned.add(name)
            result = ROTATION_PROMOTE | frozenset(churned)
    except Exception:
        # same rule: a transient failure must not poison the cache
        return ROTATION_PROMOTE
    if cache_default:
        _ROTATION_PROMOTE_CACHE = (changed_key, result)
    return result


def rotation_tier(
    name: str,
    names: list[str],
    rounds: dict[int, dict],
    promote: frozenset[str] = ROTATION_PROMOTE,
) -> int:
    """Rotation tier of one gate given the CORRECTNESS history.

      0. the 18 SURVEY-§2 core gates, always first, in CORE order;
      1. never had a green driver row (a gate parked past the cap
         silently never gets one — the r5 verdict's standing debt);
      2. last green row is 1+ rounds old (it sat in block B for the
         latest sweep; missing the NEXT sweep too would break the
         2-round re-verification contract);
      3. in ROTATION_PROMOTE — code changed this round;
      4. green exactly once in a row (earning its 2nd consecutive row);
      5. green in the latest 2+ sweeps — safe to rotate out.
    With no history at all, everything non-core is tier 1.
    """
    if name in CORE_GATES:
        return 0
    latest = max(rounds) if rounds else None
    last_green = None
    for rn in sorted(rounds):
        row = rounds[rn].get(name)
        if isinstance(row, dict) and row.get("hash_match"):
            last_green = rn
    if last_green is None:
        return 1
    if latest - last_green >= 1:
        return 2
    if name in promote:
        return 3

    def green(rn: int) -> bool:
        row = rounds[rn].get(name)
        return isinstance(row, dict) and bool(row.get("hash_match"))

    streak, rn = 0, latest
    while rn in rounds and green(rn):
        streak += 1
        rn -= 1
    return 4 if streak == 1 else 5


def rotation_order(
    names: list[str],
    rounds: dict[int, dict],
    promote: frozenset[str] = ROTATION_PROMOTE,
) -> list[str]:
    """Order the registry so the driver's next sweep (the first
    ``GATE_CAP`` entries) keeps every gate green within a 2-round period.

    Sorted by :func:`rotation_tier`; ties broken non-streams first
    (streams are the most wall-clock-expensive) then the hand-maintained
    base order.  Core gates keep CORE order.
    """

    def key(name: str):
        tier = rotation_tier(name, names, rounds, promote)
        if tier == 0:
            return (0, False, CORE_GATES.index(name))
        return (tier, name.startswith("stream_"), names.index(name))

    return sorted(names, key=key)


def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ---- GATE ROTATION CONTRACT (self-ordering since round 7) -----------
    # The driver gate processes exactly the FIRST 50 entries of this dict
    # (entry-count cap — see GATE_CAP).  Until r7 the ordering was
    # maintained BY HAND each round from tools/plan_gate_rotation.py,
    # which structurally shipped one red pytest per round boundary: the
    # contract test could only pass AFTER the reorder that the just-
    # landed CORRECTNESS file demanded.  The registry now orders ITSELF:
    # the dict below is the stable base order (grouped thematically);
    # ``rotation_order`` re-ranks it from the CORRECTNESS_r*.json history
    # on disk, so whenever the driver (or the judge's pytest) imports
    # this module the first 50 entries are already the right block A for
    # the NEXT sweep.  tools/plan_gate_rotation.py remains as a status
    # viewer; tests/test_registry_contract.py pins the invariants on both
    # the live ordering and synthetic multi-round histories.
    # Round-6 consolidations (registry 81 -> 74 so every gate re-verifies
    # within 2 rounds of the 50-row cap): simhash+simhash_pairs ->
    # simhash_pairs, minhash_signatures+minhash_lsh_pairs ->
    # minhash_lsh_pairs, text_stats+lang_id+doc_repetition ->
    # text_profile, substring_dup_profile+substring_dup_spans ->
    # substring_dup_spans, ann_ivf_topk+ann_ivf_multiprobe+
    # ann_ivf_topk_q8 -> ann_ivf_variants — each consolidated entry
    # unions the SAME per-variant query/oracle SQL (see _q_simhash_all
    # etc.), so every operator stays value-checked; only the slot is
    # shared.
    base = {
        "features_dense": _q_features,
        "class_prior": _q_class_prior,
        "distinct_counts": _q_distinct_counts,
        "hist2d": _q_hist2d,
        "hist3d": _q_hist3d,
        "relevance_mi": _q_relevance_mi,
        "mim_topk": _q_mim_topk,
        "projection": _q_projection,
        "equal_freq_bucket": _q_equal_freq_bucket,
        "equal_width_bucket": _q_equal_width_bucket,
        "sparse_hist2d": _q_sparse_hist2d,
        "sparse_hist3d": _q_sparse_hist3d,
        "selected_mrmr": _q_selected_mrmr,
        "selected_jmi": _q_selected_jmi,
        "selected_cmim": _q_selected_cmim,
        "selected_icap": _q_selected_icap,
        "selected_mifs": _q_selected_mifs,
        "selected_sparse_mrmr": _q_selected_sparse,
        # -- base order below is thematic and only breaks ties WITHIN a
        # rotation tier; rotation_order() computes the actual emission
        # order from the on-disk CORRECTNESS history.
        # events / temporal / pipeline / profile / media extensions:
        "events_props_agg": events_ops.events_props_agg,
        "asof_join": _q_asof_join_both,
        # r12 variant gate: batch bucketed join UNION live stream-stream twin
        "range_join_agg": _q_range_join_both,
        "hypertable_rollup": _q_hypertable_us,
        "funnel_conversion": events_ops.funnel_conversion,
        "dedup_keep_best": _q_dedup_keep_best,
        "mixture_sample": text.mixture_sample,
        "token_mi_topk": text.token_mi_topk,
        "quality_quantile_filter": text.quality_quantile_filter,
        "hash_split": text.hash_split,
        "pipeline_curate_split": pipeline_ops.pipeline_curate_split,
        "key_skew_profile": profile_ops.key_skew_profile_query,
        "media_meta": _q_media_meta,
        "media_pixels": _q_media_pixels,
        "sessionize": _q_sessionize_both,
        "pq_encode": similarity.pq_encode,
        "ann_ivf_pq": similarity.ann_ivf_pq_topk,
        "events_window_agg": _q_events_window_agg,
        "label_centroids": similarity.label_centroids,
        "profile_lineitem": profile_ops.profile_lineitem,
        "pipeline_clean_pack": pipeline_ops.pipeline_clean_pack,
        "corpus_rollup": text.corpus_rollup,
        "lm_score": text.lm_score,
        "scrub_dup_spans": dedup.scrub_dup_spans,
        # keel_read closed the last §2 gap in r7 (S1/S2 were unit-only);
        # simhash64_mining is the r7 consolidation of the former
        # simhash64_pairs + simhash64_components slots (pays for
        # keel_read — registry stays 74), both variants value-checked
        # through the kind column.
        "keel_read": _q_keel_read,
        "simhash64_mining": _q_simhash64_mining,
        # r8: the last two unit-only operators earn value-level rows via
        # staged fixtures (registry 74 -> 76, within the 2-round period)
        "libsvm_read": _q_libsvm_read,
        "scrub_pii": _q_scrub_pii,
        # r12: the JSONL landing-dir reader earns a value-level row via a
        # staged mixed gzip/plain shard fixture (registry 80 -> 81, one
        # slot under the 82 structural cap)
        "jsonl_read": _q_jsonl_read,
        # r12 consolidation (VERDICT r11 ask #2): the r9-r11
        # selected_wide_{mrmr,direct,cmim,jmi} slots union into ONE
        # criterion-column gate covering all five criteria × designated
        # pack routes at 631-attribute width (registry 82 -> 79)
        "selected_wide": _q_selected_wide,
        # dedup / similarity / text / streaming extensions:
        "simhash64_incremental": _q_simhash64_incremental,
        "cross_source_overlap": profile_ops.cross_source_overlap,
        "semantic_decontaminate": similarity.semantic_decontaminate,
        "stream_dedup": _q_stream_dedup,  # code changed: multi-batch gate
        "stream_neardup_cands": _q_stream_neardup_cands,
        "stream_decontaminate": _q_stream_decontaminate,
        "substring_dup_spans": _q_substring_dup_all,
        "text_profile": _q_text_profile,
        "corpus_clean": text.corpus_clean,
        "doc_fingerprint": text.fingerprint,
        "dedup_exact": dedup.exact_dedup,
        "dedup_jaccard_pairs": dedup.shingle_jaccard_pairs,
        "minhash_lsh_pairs": _q_minhash_all,
        "neardup_groups": _q_neardup_groups,
        # r12 variant gate: exact broadcast route UNION bloom bitmap route
        "decontaminate": _q_decontaminate_both,
        "simhash_pairs": _q_simhash_all,
        "tfidf_topk": text.tfidf_topk,
        "stratified_sample": text.stratified_sample,
        "pack_sequences": text.pack_sequences,
        # r12: variant-column gate — batch SQL route UNION the live
        # availableNow stream route (stateless, shares the oracle SQL)
        "tokenize_bpe": _q_tokenize_bpe_both,
        "pack_sequences_exact": text.pack_sequences_exact,
        "vocab_topk": text.vocab_topk,
        "chunk_documents": text.chunk_documents,
        "cosine_topk": similarity.cosine_topk,
        "ann_ivf_variants": _q_ann_ivf_all,
        "embedding_neardup": similarity.embedding_neardup_pairs,
        "embedding_quantize": similarity.embedding_quantize,
        # r12 variant gate: plain windowed cap UNION the skew prefix-sum twin
        "source_token_cap": _q_source_token_cap_both,
        "epoch_shuffle": text.epoch_shuffle,
        "ann_ivf_kmeans": similarity.ivf_kmeans_fixture_topk,
        "stream_window_agg": _q_stream_window_agg,
        # r12: applyInPandasWithState custom stateful op, live multi-batch
        "stream_user_stats": _q_stream_user_stats,
        "stream_sessionize": _q_stream_sessionize,
    }
    return base


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _base_queries()
    # promote = manual gate-body edits ∪ git-churn-mapped gates (r8):
    # a shared-module rewrite now lands its dependents in block A
    # automatically instead of relying on the hand-set
    order = rotation_order(list(base), rotation_history(), rotation_promote())
    return {n: base[n] for n in order}


def oracle_sql() -> dict[str, str]:
    n_feat = len(FEATURE_NAMES)
    mi_sql = f"""
        WITH {_FM_CTE}, {_LONG_CTE},
        j AS (SELECT feat, x, y, count(*) AS c FROM long GROUP BY feat, x, y),
        tot AS (SELECT feat, sum(c) AS n FROM j GROUP BY feat),
        mx AS (SELECT feat, x, sum(c) AS cx FROM j GROUP BY feat, x),
        my AS (SELECT feat, y, sum(c) AS cy FROM j GROUP BY feat, y),
        mi AS (
          SELECT j.feat AS feat,
                 {_q5_sql('''sum((CAST(c AS DOUBLE)/n) *
                       log2(CAST(c AS DOUBLE)*n/(CAST(cx AS DOUBLE)*cy)))''')} AS mi
          FROM j JOIN tot USING (feat) JOIN mx USING (feat, x) JOIN my USING (feat, y)
          GROUP BY j.feat)
    """
    return {
        "features_dense": f"WITH {_FM_CTE} SELECT * FROM fm",
        "class_prior": (
            f"WITH {_FM_CTE} SELECT CAST(label AS INT) AS y, count(*) AS cnt "
            "FROM fm GROUP BY y"
        ),
        "distinct_counts": (
            f"WITH {_FM_CTE}, {_LONG_CTE} "
            "SELECT CAST(feat AS INT) AS feat, CAST(max(x) + 1 AS INT) AS dim "
            "FROM long GROUP BY feat"
        ),
        "hist2d": (
            f"WITH {_FM_CTE}, {_LONG_CTE} "
            "SELECT CAST(feat AS INT) AS feat, x, y, count(*) AS cnt "
            "FROM long GROUP BY feat, x, y"
        ),
        "hist3d": (
            f"WITH {_FM_CTE}, long3 AS ("
            + " UNION ALL ".join(
                f"SELECT {i - 1} AS feat, CAST(f{i} AS INT) AS x, CAST(f0 AS INT) AS y,"
                f" CAST(label AS INT) AS z FROM fm"
                for i in range(1, n_feat)
            )
            + ") SELECT CAST(feat AS INT) AS feat, x, y, z, count(*) AS cnt "
            "FROM long3 GROUP BY feat, x, y, z"
        ),
        "relevance_mi": mi_sql + " SELECT CAST(feat AS INT) AS feat, mi FROM mi",
        "mim_topk": mi_sql
        + " SELECT CAST(feat AS INT) AS feat, mi FROM mi"
        + " ORDER BY mi DESC, feat LIMIT 5",
        "projection": f"WITH {_FM_CTE} SELECT f2, f5, f7, label FROM fm",
        "equal_freq_bucket": equal_freq_bucket_oracle(
            "(SELECT * FROM part WHERE p_partkey <= 2000)",
            "p_retailprice",
            num_buckets=8,
        ),
        "equal_width_bucket": equal_width_bucket_oracle(
            "part", "p_retailprice", num_buckets=8
        ),
        "sparse_hist2d": (
            f"WITH {_FM_CTE}, {_LONG_CTE} "
            "SELECT CAST(feat AS INT) AS feat, x, y, count(*) AS cnt "
            f"FROM long WHERE feat < {_SPARSE_NF} GROUP BY feat, x, y"
        ),
        "sparse_hist3d": (
            f"WITH {_FM_CTE}, long3 AS ("
            + " UNION ALL ".join(
                f"SELECT {i} AS feat, CAST(f{i} AS INT) AS x, "
                "CAST(label AS INT) AS y, CAST(f3 AS INT) AS z FROM fm"
                for i in range(_SPARSE_NF)
            )
            + ") SELECT CAST(feat AS INT) AS feat, x, y, z, count(*) AS cnt "
            "FROM long3 GROUP BY feat, x, y, z"
        ),
        "selected_mrmr": selection_oracle_sql(k=5, criterion="mrmr"),
        "selected_jmi": selection_oracle_sql(k=5, criterion="jmi"),
        "selected_cmim": selection_oracle_sql(k=5, criterion="cmim"),
        "selected_icap": selection_oracle_sql(k=5, criterion="icap"),
        "selected_mifs": selection_oracle_sql(k=5, criterion="mifs"),
        "selected_sparse_mrmr": selection_oracle_sql(
            k=_SPARSE_SEL_K, criterion="mrmr", feat_ids=list(range(_SPARSE_SEL_NF))
        ),
        "text_profile": _text_profile_oracle(),
        "doc_fingerprint": text.FINGERPRINT_ORACLE,
        "corpus_clean": text.CORPUS_CLEAN_ORACLE,
        "dedup_exact": dedup.EXACT_DEDUP_ORACLE,
        "dedup_jaccard_pairs": dedup.jaccard_pairs_oracle(),
        "minhash_lsh_pairs": _minhash_all_oracle(),
        "neardup_groups": dedup.neardup_groups_oracle(),
        "decontaminate": _decontaminate_both_oracle(),
        "simhash_pairs": _simhash_all_oracle(),
        "keel_read": _keel_read_oracle(),
        "simhash64_mining": _simhash64_mining_oracle(),
        "libsvm_read": _libsvm_read_oracle(),
        "scrub_pii": _scrub_pii_oracle(),
        "jsonl_read": _jsonl_read_oracle(),
        "selected_wide": wide_selection_all_oracle_sql(),
        "simhash64_incremental": dedup.simhash64_incremental_oracle(),
        "source_token_cap": _source_token_cap_both_oracle(),
        "epoch_shuffle": text.epoch_shuffle_oracle(),
        "cross_source_overlap": profile_ops.cross_source_overlap_oracle(),
        "stream_neardup_cands": dedup.stream_neardup_candidates_oracle(),
        "stream_decontaminate": dedup.stream_decontaminate_oracle(),
        "semantic_decontaminate": similarity.semantic_decontaminate_oracle(),
        "pq_encode": similarity.pq_encode_oracle(),
        "ann_ivf_pq": similarity.ann_ivf_pq_oracle(),
        "substring_dup_spans": _substring_dup_all_oracle(),
        "scrub_dup_spans": dedup.scrub_dup_spans_oracle(),
        "lm_score": text.lm_score_oracle(),
        "tfidf_topk": text.TFIDF_TOPK_ORACLE,
        "stratified_sample": text.STRATIFIED_SAMPLE_ORACLE,
        "corpus_rollup": text.CORPUS_ROLLUP_ORACLE,
        "pack_sequences": text.pack_sequences_oracle(),
        "tokenize_bpe": _tokenize_bpe_both_oracle(),
        "pack_sequences_exact": text.pack_sequences_exact_oracle(),
        "vocab_topk": text.VOCAB_TOPK_ORACLE,
        "chunk_documents": text.CHUNK_DOCUMENTS_ORACLE,
        "cosine_topk": similarity.cosine_topk_oracle(),
        "ann_ivf_variants": _ann_ivf_all_oracle(),
        "embedding_neardup": similarity.embedding_neardup_oracle(),
        "embedding_quantize": similarity.embedding_quantize_oracle(),
        "ann_ivf_kmeans": similarity.ivf_kmeans_fixture_oracle(),
        "label_centroids": similarity.LABEL_CENTROIDS_ORACLE,
        "events_window_agg": """
            SELECT date_trunc('day', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "stream_window_agg": """
            SELECT date_trunc('day', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": SESSIONIZE_BOTH_ORACLE,
        "asof_join": ASOF_JOIN_BOTH_ORACLE,
        "range_join_agg": _range_join_both_oracle(),
        "hypertable_rollup": HYPERTABLE_US_ORACLE,
        "dedup_keep_best": dedup.dedup_keep_best_oracle(),
        "mixture_sample": text.MIXTURE_SAMPLE_ORACLE,
        "token_mi_topk": text.token_mi_topk_oracle(),
        "quality_quantile_filter": text.quality_quantile_filter_oracle(),
        "hash_split": text.HASH_SPLIT_ORACLE,
        "pipeline_curate_split": pipeline_ops.pipeline_curate_split_oracle(),
        "key_skew_profile": profile_ops.KEY_SKEW_PROFILE_ORACLE,
        "events_props_agg": events_ops.EVENTS_PROPS_AGG_ORACLE,
        "funnel_conversion": events_ops.FUNNEL_CONVERSION_ORACLE,
        "profile_lineitem": profile_ops.PROFILE_LINEITEM_ORACLE,
        "pipeline_clean_pack": pipeline_ops.pipeline_oracle(),
        # stream_dedup: two copies of the events file streamed through
        # dropDuplicatesWithinWatermark must yield exactly the original ids
        "stream_dedup": "SELECT event_id FROM events",
        "stream_user_stats": STREAM_USER_STATS_ORACLE,
        # stream_sessionize: native session_window, reconciled to the batch
        # convention (end = last event), = the batch oracle minus sess_seq
        "stream_sessionize": f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us, value,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w >= {sessions.duration_us(sessions.SESSIONIZE_GAP)}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    numbered AS (
      SELECT user_id, ts_us, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us) AS sess_seq
      FROM flagged
    )
    SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM numbered GROUP BY user_id, sess_seq
""",
        "media_meta": multimodal.MEDIA_META_ORACLE,
        "media_pixels": MEDIA_PIXELS_ORACLE,
    }
