"""InfoThSelector — greedy information-theoretic feature selection.

Re-expresses the reference's flagship (``InfoSelector.scala``; lifecycle
traced in SURVEY.md §3.1) as an idiomatic PySpark Estimator/Model:

One dense fit path, five phases over one cache:

- pack: ONE scan of the source packs per-partition NumPy column blocks
  into a persisted RDD (operators/packed.py) — the Spark analogue of the
  reference's columnar transpose + HDFS persist and hand-rolled byte
  layout (``InfoSelector.scala:425-437``).
- re-layout: one decision, ``InfoThSelector._plan_relayout``: keep the
  layout, split or coalesce the blocks once (after stats), or — for a
  greedy fit whose packed matrix fits ``LOCAL_MAX_BYTES`` — collect the
  blocks ONCE into a driver-held block before stats (the local regime).
- stats: per-feature dims (``counterByFeat``) and the row count from the
  blocks, fused with the relevance histograms when the layout allows.
- relevances: MI(X; class) from 2-D histograms vs the label
  (``InfoTheory.scala:413-432``).
- loop: MIM short-circuits to top-k by relevance
  (``InfoSelector.scala:313-315``); otherwise the greedy loop
  (``InfoSelector.scala:353-362``) runs on the driver — at most one
  Spark job per selected feature (3-D histogram pass + MI/CMI + criterion
  updates), the idiomatic Spark replacement for Flink bulk iteration;
  speculative passes also score likely next winners in the same job.
  In the local regime every pass runs in the driver process, no job at
  all — like the reference, whose MI/CMI tables live on the driver
  (``InfoTheory.scala:474-521``).
- transform: narrow column projection (``InfoSelector.scala:229-263``) —
  pure Catalyst, no shuffle.

Differences from the reference, deliberate and documented:

- ``NF``/``NI`` parameters dropped — derived from schema / count
  (SURVEY.md §1.3).
- argmax ties broken by lowest feature index (the reference's reduce
  order is nondeterministic — SURVEY.md §7.1), and the comparison
  happens at ``tie_precision`` decimals (default 5, the gate's emission
  precision): two engines summing the same MI/CMI terms in different
  orders disagree in the last ulps, so full-precision argmax over
  mathematically-tied scores picks a different feature per engine and
  the tie rule never fires (found by the random-matrix cross-engine
  sweep on duplicate-heavy data; sub-1e-5 score gaps are summation
  noise, not signal).  The quantization is ``floor(score·10^p + 0.5)``
  — identical IEEE-double steps to the oracle's
  ``CAST(floor(score * 100000.0 + 0.5) AS BIGINT)`` — NOT each
  engine's ``round()``: Python rounds the binary double half-to-even
  while DuckDB rounds the decimal rendering half-away-from-zero, so a
  score near an x.xxxxx5 boundary rounds differently per engine and
  re-opens the divergence (r6 advisor finding).  Library users whose
  score gaps are genuinely sub-1e-5 signal (very large N) pass
  ``tie_precision=None`` for full-precision argmax — deterministic via
  the id tiebreak, but not oracle-reproducible across engines.
- the sparse path works (the reference's throws,
  ``InfoSelector.scala:378-386``): ``SparseInfoThSelector`` has two
  routes.  Inputs under ``LOCAL_MAX_BYTES`` are densified on the driver
  and fitted by the dense local stages; larger ones take the SQL route,
  one co-partitioned join per loop pass.

Every route — dense local, dense Spark, sparse SQL — selects through the
one greedy loop, :func:`greedy_path`; they differ only in the pass that
scores the remaining features against a selected one.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from flink_infotheoretic_feature_selection_spark.functions.criteria import (
    CRITERION_NAMES,
    criterion_factory,
)
from flink_infotheoretic_feature_selection_spark.functions.infotheory import mi_and_cmi, mutual_info

__all__ = ["InfoThSelector", "InfoThSelectorModel", "SparseInfoThSelector"]


def _check_selection_args(n_to_select: int, criterion: str) -> None:
    """Constructor-time checks both selectors share, so a bad value fails
    before any Spark job runs (a negative ``n_to_select`` would otherwise
    slice the MIM ranking from the end)."""
    if int(n_to_select) < 1:
        raise ValueError(f"n_to_select must be >= 1, got {n_to_select!r}")
    if not isinstance(criterion, str) or criterion.lower() not in CRITERION_NAMES:
        raise ValueError(
            f"unknown criterion {criterion!r}; expected one of {CRITERION_NAMES}"
        )


def _scatter_counts(out: dict, pdf, index_cols: list[str]) -> None:
    """``out[feat][row's index_cols] = row's cnt`` for every row of the
    collected sparse-histogram frame ``pdf`` — one NumPy fancy assignment
    per feature (the frame holds one row per distinct cell, so no index
    repeats within a feature).  Negative indices must ERROR: fancy
    indexing would silently wrap them to the end of the histogram (the
    dense collect_hist2d raises for the same input)."""
    import numpy as np

    idx = [pdf[c].to_numpy() for c in index_cols]
    if any((a < 0).any() for a in idx):
        raise ValueError("sparse histogram indices must be >= 0")
    cnt = pdf["cnt"].to_numpy()
    for f, rows in pdf.groupby("feat").indices.items():
        out[f][tuple(a[rows] for a in idx)] = cnt[rows]


# Byte width of each Spark integer type, by its simpleString().
_INT_BYTES = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}


def _cell_bytes(nonzeros_schema, labels_schema) -> int | None:
    """Fixed width of one collected ``(row_id, feat, x)`` nonzero row —
    16 B for long/int/int — or ``None`` unless those three columns and
    the labels' ``row_id``/``y`` are all integer-typed (the local route
    densifies integer columns only; other types keep the Spark routes)."""
    widths = [
        _INT_BYTES.get(schema[c].dataType.simpleString())
        for schema, c in (
            (nonzeros_schema, "row_id"),
            (nonzeros_schema, "feat"),
            (nonzeros_schema, "x"),
            (labels_schema, "row_id"),
            (labels_schema, "y"),
        )
    ]
    return None if None in widths else sum(widths[:3])


def _tie_key(score: float, precision: int | None):
    """Argmax comparison key under the tie contract (module docstring).

    ``precision=None`` → the raw score (full-precision argmax);
    otherwise ``floor(score·10^p + 0.5)`` — the exact IEEE-double step
    sequence the DuckDB oracles run as
    ``CAST(floor(score * 100000.0 + 0.5) AS BIGINT)``, so both engines
    quantize every score to the SAME integer before comparing.  Not
    ``round()``: the two engines' round() disagree on x.xxxxx5
    boundaries (Python half-to-even on the binary double, DuckDB
    half-away-from-zero on the decimal rendering).
    """
    if precision is None:
        return score
    return math.floor(score * 10.0**precision + 0.5)


def greedy_path(
    feats: list,
    relevances: dict,
    criterion: str,
    beta: float,
    k: int,
    tie_precision: int | None,
    score_pass,
    speculation: int | str,
) -> tuple[list[tuple], int, int]:
    """The greedy forward selection every route runs
    (``InfoSelector.scala:353-362``): ``(path, passes, hits)`` — the
    ``k`` winners with their scores at selection time, the number of
    ``score_pass`` calls and the number of passes speculation saved.

    MIM is top-k by relevance (``InfoSelector.scala:313-315``) and
    calls no pass.  Otherwise each winner is the argmax of the
    criterion scores under the tie contract (module docstring): the
    ``_tie_key`` at ``tie_precision``, then the lowest position in
    ``feats``.  ``score_pass(remaining, conds)`` returns
    ``{cond: {feat: (MI(feat; cond), CMI(feat; cond | class))}}`` for
    every remaining feature — the redundancy pass
    (``InfoTheory.scala:445-461``); ``conds[0]`` is the latest winner.

    Speculation (r13, guide §1.2): the pairs a pass returns do not depend
    on the iteration that consumes them, so one pass may also score the
    ``width`` remaining features most likely to win next (ranked by the
    argmax key).  A later winner already scored skips its pass — the
    prefetching pass scored a superset of the current remaining set,
    which only shrinks.  Updates replay one winner at a time in
    selection order, so the floats never depend on the width.
    ``speculation`` pins the width (0 = one cond per pass) or is
    ``"auto"``: start at 3, then before each pass take
    ``min(2·consumed + 1, 7)`` after a launch whose prefetches were
    consumed and halve after a fully wasted one, so adversarial data
    decays to one cond per pass.  No pass scores a cond past the
    ``k − len(path) − 1`` the fit still needs."""
    pos = {c: i for i, c in enumerate(feats)}

    def key(c, score):
        return (_tie_key(score, tie_precision), -pos[c])

    if criterion.lower() == "mim":
        order = sorted(feats, key=lambda c: key(c, relevances[c]), reverse=True)
        return [(c, relevances[c]) for c in order[:k]], 0, 0

    state: dict = {c: criterion_factory(criterion, beta).init(relevances[c]) for c in feats}
    remaining = list(feats)
    path: list[tuple] = []
    prefetched: dict = {}
    spec_auto = speculation == "auto"
    width = 3 if spec_auto else int(speculation)
    consumed = passes = hits = 0
    while True:
        best = max(remaining, key=lambda c: key(c, state[c].score))
        path.append((best, state[best].score))
        # parity artifact, not control flow: mirrors the reference's
        # setValid(false) (InfoCriterion.scala) — `remaining` drives
        # exclusion
        state[best].valid = False
        remaining.remove(best)
        if len(path) >= k or not remaining:
            return path, passes, hits
        if best in prefetched:
            scores = prefetched.pop(best)
            hits += 1
            consumed += 1
        else:
            if passes and spec_auto:
                width = min(2 * consumed + 1, 7) if consumed else width // 2
            consumed = 0
            w = min(width, k - len(path) - 1)
            spec = sorted(
                (c for c in remaining if c not in prefetched),
                key=lambda c: key(c, state[c].score),
                reverse=True,
            )[:w] if w > 0 else []
            multi = score_pass(remaining, [best] + spec)
            passes += 1
            scores = multi.pop(best)
            prefetched.update(multi)
        for c in remaining:
            state[c].update(*scores[c])


@dataclass
class InfoThSelectorModel:
    """Fitted model: selected feature columns (ascending, like
    ``InfoSelector.scala:491``) plus the selection path with scores."""

    feature_cols: list[str]
    label_col: str
    selected_cols: list[str]
    selection_path: list[tuple[str, float]]  # (col, score at selection time)
    relevances: dict[str, float]
    # wall-clock breakdown of the fit phases (pack/stats/relevance/loop,
    # iteration count) — diagnostics only; not persisted by save()
    fit_timings: dict | None = None

    def transform(self, df: DataFrame) -> DataFrame:
        """Project to (selected features, label) — narrow Catalyst select,
        the reference's transform (``InfoSelector.scala:229-263``).

        Missing selected columns RAISE (r8): silently dropping them
        would hand downstream training the wrong feature set on a schema
        mismatch.  A missing label stays optional — transform of
        unlabeled serving data is the normal case."""
        missing = [c for c in self.selected_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"input is missing selected feature columns: {missing}"
            )
        cols = list(self.selected_cols) + (
            [self.label_col] if self.label_col in df.columns else []
        )
        return df.select(*cols)

    def save(self, path: str) -> None:
        """Persist the fitted model as JSON (MLlib-style save/load; the
        reference keeps only ``selectedFeatures`` in memory —
        ``InfoSelector.scala:79``)."""
        import json

        with open(path, "w") as fh:
            json.dump(
                {
                    "feature_cols": self.feature_cols,
                    "label_col": self.label_col,
                    "selected_cols": self.selected_cols,
                    "selection_path": self.selection_path,
                    "relevances": self.relevances,
                },
                fh,
            )

    @classmethod
    def load(cls, path: str) -> "InfoThSelectorModel":
        import json

        with open(path) as fh:
            d = json.load(fh)
        return cls(
            feature_cols=d["feature_cols"],
            label_col=d["label_col"],
            selected_cols=d["selected_cols"],
            selection_path=[tuple(p) for p in d["selection_path"]],
            relevances=d["relevances"],
        )


class InfoThSelector:
    """Estimator. ``criterion`` ∈ {mim, mifs, jmi, mrmr, cmim, if, icap};
    default mrmr (``InfoSelector.scala:149``).

    ``beta`` (MIFS only) defaults to 1.0 — a deliberate divergence from
    the reference's 0.0 default, which degenerates MIFS into MIM; pass
    ``beta=0.0`` for reference parity.  See ``criterion_factory``.

    ``tie_precision`` — decimals at which argmax compares scores before
    the lowest-feature-index tiebreak (default 5, the gate emission
    precision; see the module docstring's tie contract for the
    cross-engine rationale).  ``None`` → full-precision argmax: two
    scores differing by any amount order by score, equal scores still
    break deterministically by index — for callers whose sub-1e-5 gaps
    are real signal rather than summation noise.  ``tie_precision=None``
    is the reference-faithful mode: the Flink job argmaxes raw float
    scores with no quantization (``InfoSelector.scala:452``), so library
    users wanting byte-parity with the reference's selection order on
    near-tied scores must pass ``None``.

    The fit packs the matrix once into a persisted RDD of NumPy column
    blocks (operators/packed.py); stats, relevances and every greedy
    iteration are plain closures over those blocks — no per-iteration
    Catalyst plan or Arrow conversion.  When the fit runs loop passes and
    the packed matrix holds at most ``LOCAL_MAX_BYTES`` (32 MB — the
    volume one loop pass may already collect under the driver-merge
    budget), the blocks are collected once to the driver and every later
    pass runs there: at that size a Spark job launch costs several times
    a pass's NumPy work (see :meth:`_plan_relayout`), so the fit pays two
    jobs (pack, collect) instead of one per pass.  Selections are
    bit-identical in every regime (same integer tables, same finalize).

    ``pack_route`` — how the one-time pack is produced; all routes yield
    bit-identical blocks-by-value (see :meth:`_fit_packed`): ``"auto"``
    (default) detects a bare local parquet scan and direct-packs its
    files with pyarrow (no JVM row transit — the r9 ``fit_parquet`` win
    applied automatically), else takes the ``mapInArrow`` scan pack;
    ``"scan"`` / ``"direct"`` pin a route.

    ``speculation`` — how many likely next winners each loop pass also
    scores (``"auto"`` adapts the width to observed hits; an int pins
    it, 0 = one conditioning column per pass).  Selections are
    bit-identical at every width.  The local regime always runs width 0:
    with no job launch to amortize, a speculated cond is pure waste.
    """

    def __init__(
        self,
        n_to_select: int = 10,
        criterion: str = "mrmr",
        feature_cols: list[str] | None = None,
        label_col: str = "label",
        beta: float = 1.0,
        emit_f32: bool = True,
        validate: bool = False,
        tie_precision: int | None = 5,
        pack_route: str = "auto",
        speculation: int | str = "auto",
    ) -> None:
        _check_selection_args(n_to_select, criterion)
        if pack_route not in ("auto", "scan", "direct"):
            raise ValueError(
                f"pack_route must be 'auto', 'scan' or 'direct', got {pack_route!r}"
            )
        if speculation != "auto" and (
            not isinstance(speculation, int) or speculation < 0
        ):
            raise ValueError(
                f"speculation must be 'auto' or a non-negative int, got {speculation!r}"
            )
        self.n_to_select = int(n_to_select)
        self.criterion = criterion
        self.feature_cols = feature_cols
        self.label_col = label_col
        self.beta = beta
        self.emit_f32 = emit_f32
        self.validate = validate
        self.tie_precision = tie_precision
        self.pack_route = pack_route
        self.speculation = speculation

    def fit(self, df: DataFrame) -> InfoThSelectorModel:
        df = self._widen_vectors(df)
        feats = self.feature_cols or [c for c in df.columns if c != self.label_col]
        if self.n_to_select > len(feats):
            # reference: require(nToSelect < nFeatures), InfoSelector.scala:419
            raise ValueError(
                f"n_to_select={self.n_to_select} exceeds n_features={len(feats)}"
            )
        # The fit scans the source EXACTLY ONCE (the pack is the cache)
        # and derives dims/count/validation from the NumPy blocks — no
        # DataFrame persist and no wide Catalyst aggregates, whose plan
        # cost explodes with column count (632-column dims agg measured
        # at 60.9 s vs 0.17 s from blocks; see operators/packed.py).
        return self._fit_packed(df, feats, self.label_col)

    def fit_parquet(self, spark, path: str, filesystem=None) -> InfoThSelectorModel:
        """Fit straight from a MATERIALIZED parquet feature matrix via
        the direct row-group pack (``PackedMatrix.pack_parquet``) —
        skips the DataFrame scan's JVM row round-trip, the dominant
        cost on wide matrices (BASELINE r9: 600k×631 pack 113 s →
        seconds).  Semantics are identical to ``fit`` on
        ``spark.read.parquet(path)`` — bit-identical selection, same
        dims/validation contract — PROVIDED the parquet columns already
        hold the final feature values (no Catalyst expressions are
        applied; derive-then-write first if your features are computed).
        ``feature_cols`` defaults to the parquet schema order minus
        ``label_col``.  ``filesystem`` (r10) — an optional
        ``pyarrow.fs.FileSystem`` for non-local storage (S3, HDFS, a
        wrapped fsspec); footer reads and executor row-group reads both
        go through it."""
        import time

        import pyarrow.parquet as pq_mod

        from flink_infotheoretic_feature_selection_spark.operators.packed import (
            PackedMatrix,
            _list_parquet_files_fs,
            list_parquet_files,
        )

        # list_parquet_files raises the clear 'no parquet files' error on
        # an empty directory (r10, advisor find: the old sorted(glob)[0]
        # raised a bare IndexError first) and resolves nested /
        # Spark-partitioned layouts recursively
        first = (
            list_parquet_files(path)
            if filesystem is None
            else _list_parquet_files_fs(filesystem, path)
        )[0]
        schema_names = pq_mod.ParquetFile(first, filesystem=filesystem).schema_arrow.names
        feats = self.feature_cols or [c for c in schema_names if c != self.label_col]
        if self.n_to_select > len(feats):
            raise ValueError(
                f"n_to_select={self.n_to_select} exceeds n_features={len(feats)}"
            )
        label = self.label_col
        timings: dict = {"pack_route": "direct"}
        t0 = time.perf_counter()
        packed = PackedMatrix.pack_parquet(
            spark, path, feats + [label],
            rows_per_partition=self.LOOP_ROWS_PER_PARTITION,
            filesystem=filesystem,
        )
        timings["pack_sec"] = round(time.perf_counter() - t0, 3)
        return self._fit_from_packed(packed, feats, label, timings)

    def _fit_packed(self, df: DataFrame, feats: list[str], label: str) -> InfoThSelectorModel:
        """Route the pack (r10, VERDICT ask #1) — all routes produce
        bit-identical blocks-by-value and therefore identical selections
        (pinned by tests/test_direct_pack.py):

        - ``direct``: the input is a bare local parquet scan (optionally
          column-pruned) → read the scan's own files with pyarrow — no
          JVM row transit at all.  ``auto`` detects this itself via
          ``plans.inspect.bare_parquet_scan_files``, so ``fit`` on
          ``spark.read.parquet(...)`` gets ``fit_parquet``'s 21× wide
          pack without the caller materializing anything.
        - ``scan``: the ``mapInArrow`` pack — handles every input, and
          is what ``auto`` takes for DERIVED frames.  Spilling a derived
          frame to parquet and direct-packing it does not beat this
          outside a shallow ~40-100 column band (measured r10: the
          parquet writer's per-field row cost crosses the Arrow
          transit's from ~128 columns up), so there is no spill route.
        """
        import time

        from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
        from flink_infotheoretic_feature_selection_spark.plans.inspect import (
            bare_parquet_scan_files,
        )

        cols = feats + [label]
        route = self.pack_route
        if route in ("auto", "direct"):
            files = bare_parquet_scan_files(df, cols)
            if files is None:
                if route == "direct":
                    raise ValueError(
                        "pack_route='direct' requires the input to be a bare "
                        "local parquet scan (optionally column-pruned); this "
                        "plan computes expressions — use 'auto' or 'scan', "
                        "or fit_parquet on the materialized path"
                    )
            else:
                timings: dict = {"pack_route": "direct"}
                t0 = time.perf_counter()
                try:
                    packed = PackedMatrix.pack_parquet(
                        df.sparkSession, files, cols,
                        rows_per_partition=self.LOOP_ROWS_PER_PARTITION,
                    )
                except ValueError:
                    if route == "direct":
                        raise
                    # footer-stage ineligibility (a file missing a column
                    # under mergeSchema, all-empty row groups) — the scan
                    # route handles or re-diagnoses these.  The try wraps
                    # ONLY the pack: a contract ValueError from the fit
                    # itself (dims>256, byte-range validation) must
                    # propagate, not silently re-run the fit on another
                    # route (r10 self-review find)
                    packed = None
                if packed is not None:
                    timings["pack_sec"] = round(time.perf_counter() - t0, 3)
                    return self._fit_from_packed(packed, feats, label, timings)
        timings = {"pack_route": "scan"}
        t0 = time.perf_counter()
        packed = PackedMatrix.pack(df, cols)
        timings["pack_sec"] = round(time.perf_counter() - t0, 3)
        return self._fit_from_packed(packed, feats, label, timings)

    def _fit_from_packed(
        self, packed, feats: list[str], label: str, timings: dict
    ) -> InfoThSelectorModel:
        """Everything after the pack — shared by :meth:`fit` (DataFrame
        pack) and :meth:`fit_parquet` (direct row-group pack); the two
        routes differ ONLY in how the blocks were produced."""
        import time

        try:
            t0 = time.perf_counter()
            # The layout is decided ONCE, from the pack's free row and
            # byte counts, and that one decision gates the local collect,
            # the stats fusion and the re-layout below (see
            # _plan_relayout).
            needs_loop = self.criterion.lower() != "mim" and self.n_to_select >= 2
            relayout = self._plan_relayout(
                packed.n_rows or 0,
                len(packed.cols),
                packed.n_partitions,
                1 if packed.local else packed.rdd.context.defaultParallelism,
                needs_loop,
                packed.n_bytes,
            )
            if relayout == ("local", 1):
                packed = packed.collect_local()
            if self.validate:
                # BEFORE dims derivation: NULL-bearing columns would
                # otherwise hit dims_and_count's blunter NaN-contract
                # error instead of the actionable byte-range message
                offenders = packed.validate_byte_range(feats + [label])
                if offenders:
                    raise ValueError(self._byte_range_message(offenders))
            # r12 (guide §1.2): fuse the dims pass with the stage-2
            # relevance histograms — one scan of the blocks instead of
            # two — whenever the per-partition collect stays inside the
            # driver-merge budget (h2 comes back None otherwise and the
            # relevances pass runs separately, costing exactly what the
            # unfused flow always cost).  At 100 TB partition counts the
            # treeReduce dims pass keeps the driver volume flat.
            # Bit-identical either way (integer pad-merge; pinned by
            # tests/test_packed.py).  r13 (ADVICE r12): never fuse ahead
            # of a starved split — the fused histograms would run
            # serially inside the very partitions the split exists to
            # spread; the relevances pass then runs over the spread
            # blocks instead.
            fuse = (
                packed.n_partitions * len(packed.cols) * 16
                <= type(packed).DRIVER_STATS_MAX_BYTES
                and (relayout is None or relayout[0] != "split")
            )
            timings["relayout"] = relayout
            timings["stats_fused"] = fuse
            h2_fused = None
            if fuse:
                dims, n, h2_fused = packed.dims_count_hist2d(label)
            else:
                dims, n = packed.dims_and_count()
            timings["stats_sec"] = round(time.perf_counter() - t0, 3)
            if relayout is not None and relayout[0] != "local":
                t0 = time.perf_counter()
                packed = packed.rebalance(relayout[1], self.LOOP_ROWS_PER_PARTITION)
                timings["rebalance_sec"] = round(time.perf_counter() - t0, 3)
            timings["loop_partitions"] = packed.n_partitions
            return self._fit_stages(packed, feats, label, dims, n, timings, h2_fused)
        finally:
            packed.unpersist()

    # -- internal ----------------------------------------------------------

    @staticmethod
    def _byte_range_message(offenders: list[str]) -> str:
        return (
            "features must be non-null integers in [0, 255] (the range the "
            "histogram engine indexes by; cf. InfoSelector.scala:411-414 "
            "whose −128..127 check contradicts its own [0,255] message); "
            f"violating columns: {offenders}"
        )

    def _widen_vectors(self, df: DataFrame) -> DataFrame:
        """Accept (label, features: VectorUDT) rows directly — the
        reference's ``LabeledVector`` API shape (``InfoSelector.scala:172``).
        Auto-converts to the wide tinyint layout via the JVM-side bridge."""
        if self.feature_cols is not None:
            return df
        vector_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("vector", "vectorudt")
        ]
        if len(vector_cols) == 1 and self.label_col in df.columns:
            from flink_infotheoretic_feature_selection_spark.sources.libsvm import vectors_to_wide

            return vectors_to_wide(
                df, features_col=vector_cols[0], label_col=self.label_col
            )
        return df

    # Rows per packed block the loop aims for.  Matched to sf0.1
    # measurement: the natural parquet layout gave 3 partitions on a
    # 32-core box — every loop pass ran 3-wide; ~64k-row partitions cut
    # per-iteration wall time 1.05 s → 0.52 s.  Data below 2× this floor
    # is never re-laid out (the shuffle would cost more than it saves).
    LOOP_ROWS_PER_PARTITION = 65536
    # Minimum per-partition cell count (rows × packed columns) for the
    # parallelism-starved re-layout to fire — see _plan_relayout.
    # Scale-free: compares actual per-partition work against the fixed
    # cost of one extra job + shuffling every packed byte once.
    REBALANCE_MIN_CELLS_PER_PART = 32 * 1024 * 1024
    # Largest packed matrix (bytes) the local regime holds on the driver
    # — see _plan_relayout.  The same volume one loop pass may already
    # collect under histogram.BLOB_DRIVER_MERGE_MAX_BYTES.
    LOCAL_MAX_BYTES = 32 * 1024 * 1024

    @classmethod
    def _plan_relayout(
        cls,
        n_rows: int,
        n_cols: int,
        n_partitions: int,
        parallelism: int,
        needs_loop: bool,
        n_bytes: int | None = None,
    ) -> tuple[str, int] | None:
        """The fit's one layout decision, a pure function of the pack's
        shape: ``None`` (keep the layout), ``("local", 1)``,
        ``("split", target)`` or ``("coalesce", ideal)``.

        The re-layout exists for the greedy LOOP (dims and relevances
        run before or regardless of it), so MIM and k=1 fits
        (``needs_loop`` False) never re-lay out (r13 — the MIM bench
        paid a 0.55 s coalesce for zero loop jobs).

        local: the packed matrix — ``n_bytes`` from the pack's own
        materialization job, else ``n_rows × n_cols`` one-byte cells —
        holds at most ``LOCAL_MAX_BYTES``.  The fit collects the blocks
        once and runs stats, relevances and every loop pass on the
        driver (``PackedMatrix.collect_local``): at this size the job
        launches, not the bincounts, are the loop's cost.  Measured on a
        4-vCPU host, mRMR k=10: on 120k rows × 33 packed columns the
        Spark loop's 4 speculative passes took 2.24 s and the 9 local
        passes 0.16-0.18 s; on 600k × 33 (sf0.1, 19.8 MB) 2.4-2.7 s vs
        0.70-0.75 s.  Checked first: it also covers data under
        2 × ``LOOP_ROWS_PER_PARTITION`` rows, which is otherwise never
        re-laid out.

        ``ideal`` is the layout the loop's memory model is built on
        (~``LOOP_ROWS_PER_PARTITION`` rows per block); the core-clamped
        ``target`` exists ONLY for the starved case (spread few huge
        blocks across the cores).  Only GROSS mismatches re-lay out:

        - split: fewer than half the core-clamped target partitions
          (e.g. one giant unsplit file) AND at least
          ``REBALANCE_MIN_CELLS_PER_PART`` cells per partition.  r12
          (guide §2.4): the split's own job + full shuffle of the packed
          bytes must be won back by the per-task histogram work it
          removes over the loop's k-1 passes; below ~32M cells per
          partition it never is (measured sf0.1, 600k×33, local[32]: the
          3→10 split cost 1.3-1.8 s for a 0.39 s vs 0.38 s loop pass).
        - coalesce: more than 2 × IDEAL partitions, shuffle-free, down to
          IDEAL — never to the core count: at 60M×631 the pack's 901
          right-sized blocks exceeded 4×32 cores and a core-count
          coalesce made 1.2 GB blocks whose concat OOM-killed the box
          (r10).  r13 tightened the band from 4× to 2×: each partition
          emits one partial per (cond, feature) table, so an over-split
          layout pushes loop passes into the shuffled merge regime
          (measured sf0.1, 32 blocks vs the coalesced 10: pass m=1
          0.68 → 0.33 s, m=8 1.42 → 0.82 s, for a one-time 0.64 s
          coalesce).

        Partition counts never affect results: histogram merges are
        partition-agnostic integer sums (pinned by tests/test_packed.py).
        """
        if not needs_loop:
            return None
        if (n_rows * n_cols if n_bytes is None else n_bytes) <= cls.LOCAL_MAX_BYTES:
            return ("local", 1)
        rows_per_part = cls.LOOP_ROWS_PER_PARTITION
        if n_rows < 2 * rows_per_part:
            return None
        ideal = -(-n_rows // rows_per_part)
        target = max(1, min(ideal, parallelism))
        cells_per_part = n_rows * n_cols / max(n_partitions, 1)
        if (
            n_partitions < -(-target // 2)
            and cells_per_part >= cls.REBALANCE_MIN_CELLS_PER_PART
        ):
            return ("split", target)
        if n_partitions > 2 * ideal:
            return ("coalesce", ideal)
        return None

    def _fit_stages(
        self,
        packed,
        feats: list[str],
        label: str,
        dims: dict[str, int],
        n: int,
        timings: dict,
        h2_fused: dict | None = None,
    ) -> InfoThSelectorModel:
        import time as _time

        # Stage 2 — relevances: one histogram pass over all features
        # (or zero, when the fused dims+hist2d pass already produced the
        # global tables — driver-side MI math only).
        _t0 = _time.perf_counter()
        if h2_fused is not None:
            relevances = {
                c: mutual_info(h2_fused[c], n, emit_f32=self.emit_f32)
                for c in feats
            }
        else:
            relevances = packed.relevances(
                feats, label, dims, n, emit_f32=self.emit_f32
            )
        timings["relevance_sec"] = round(_time.perf_counter() - _t0, 3)

        # Loop: one packed pass (hist3d_mi_cmi_multi) per launch, called
        # through the instance at pass time.  A speculated cond only pays
        # off by saving a job launch, so the local regime pins width 0.
        _t0 = _time.perf_counter()
        path, passes, hits = greedy_path(
            feats, relevances, self.criterion, self.beta, self.n_to_select,
            self.tie_precision,
            lambda remaining, conds: packed.hist3d_mi_cmi_multi(
                remaining, conds, label, dims, n, emit_f32=self.emit_f32
            ),
            0 if packed.local else self.speculation,
        )
        timings["loop_jobs"] = 0 if packed.local else passes
        timings["speculation_hits"] = hits
        timings["loop_sec"] = round(_time.perf_counter() - _t0, 3)
        # MIM never runs a redundancy pass — reporting k-1 would hand
        # per-iteration diagnostics a nonsense denominator (r8 review)
        timings["iterations"] = (
            0 if self.criterion.lower() == "mim" else max(len(path) - 1, 0)
        )
        selected = sorted((c for c, _ in path), key=feats.index)
        return InfoThSelectorModel(
            feature_cols=feats,
            label_col=label,
            selected_cols=selected,
            selection_path=path,
            relevances=relevances,
            fit_timings=timings,
        )


class SparseInfoThSelector:
    """Greedy selection over sparse long-format input — the path the
    reference declares but never implemented working
    (``InfoSelector.scala:378-386``; see operators/sparse.py).

    Input: ``nonzeros`` (row_id, feat, x) with x ≠ 0 implicit-zero
    semantics, ``labels`` (row_id, y).  Selection semantics are identical
    to the dense path — verified by the dense-vs-densified test.

    The fit first runs the label histogram (class priors, the label
    contract, the row count ``n``), then takes one of two routes,
    decided once by :meth:`_plan_route` and recorded as
    ``fit_timings["sparse_route"]``.  Both run the one greedy loop
    (:func:`greedy_path`); selections and relevances are bit-identical
    on both (tests/test_packed.py):

    - ``"local"`` when ``n × n_features × cell_bytes`` is at most
      ``InfoThSelector.LOCAL_MAX_BYTES`` (32 MiB).  ``cell_bytes`` is
      the width of one collected ``(row_id, feat, x)`` row — 16 B for
      long/int/int — and ``n × n_features`` the most cells a
      duplicate-free input can hold.  The labels and the cells are
      collected once each as Arrow (JVM-side, no join, no persist),
      densified into a driver-held byte block and fitted by the dense
      selector's local stages.  At this size the SQL route's per-pass
      join and collect launches are the whole cost (measured on a
      4-vCPU host, 120k labels × 16 features, 1.85M cells, mRMR k=5:
      17 jobs and 4.6 s on the SQL route, 4 jobs and about 1 s here).
      Orphan cells (no label row) are collected before the join
      semantics drop them, so they are outside the bound.
    - ``"sql"`` for everything above the bound: one zipper join
      persists the label-attached cells partitioned and sorted by
      ``row_id``; every loop pass is one co-partitioned join plus a
      sparse-cell collect, all JVM-side and data-parallel.

    Both routes enforce one cell contract with the same errors
    (``operators.sparse.check_cells``, from each route's own aggregate
    of the labelled cells): no NULL ``feat``/``x``, ``feat`` in
    ``[0, n_features)``, ``x`` in ``[0, 255]``, and at most one nonzero
    cell per labelled ``(row_id, feat)``.
    """

    def __init__(
        self,
        n_features: int,
        n_to_select: int = 10,
        criterion: str = "mrmr",
        beta: float = 1.0,
        emit_f32: bool = True,
        tie_precision: int | None = 5,
    ) -> None:
        _check_selection_args(n_to_select, criterion)
        self.n_features = int(n_features)
        self.n_to_select = int(n_to_select)
        self.criterion = criterion
        self.beta = beta
        self.emit_f32 = emit_f32
        self.tie_precision = tie_precision

    @staticmethod
    def _plan_route(n_rows: int, n_features: int, cell_bytes: int | None) -> str:
        """The fit's route, a pure function of the label count, the
        feature count and the collected cell width (:func:`_cell_bytes`):
        ``"local"`` when ``n_rows × n_features × cell_bytes`` — the
        largest long-format table a duplicate-free input can hold — is
        at most ``InfoThSelector.LOCAL_MAX_BYTES`` (read at call time),
        else ``"sql"``.  ``cell_bytes`` None (a non-integer column)
        never goes local."""
        if (
            cell_bytes is not None
            and n_rows * n_features * cell_bytes <= InfoThSelector.LOCAL_MAX_BYTES
        ):
            return "local"
        return "sql"

    def _fit_local(self, nonzeros: DataFrame, labels: DataFrame, n: int) -> InfoThSelectorModel:
        """The local route: one Arrow collect of ``labels`` and one of
        ``nonzeros`` (JVM-side, no join, no persist, no Python worker),
        densified into a driver-held byte block
        (``operators.sparse.densify_long``), then the dense selector's
        local stages — the same stats, relevance and loop passes, no
        Spark job.  ``n`` is the label count the route was planned on."""
        import time

        from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
        from flink_infotheoretic_feature_selection_spark.operators.sparse import densify_long

        t0 = time.perf_counter()
        block, y = densify_long(
            labels.select("row_id", "y").toArrow(),
            nonzeros.select("row_id", "feat", "x").toArrow(),
            self.n_features,
        )
        names = [f"f{i}" for i in range(self.n_features)]
        cols = dict(zip(names, block))
        cols["y"] = y
        packed = PackedMatrix(
            [cols], names + ["y"], 1, n_rows=n, n_bytes=block.nbytes + y.nbytes
        )
        timings = {"sparse_route": "local", "collect_sec": round(time.perf_counter() - t0, 3)}
        dense = InfoThSelector(
            n_to_select=self.n_to_select,
            criterion=self.criterion,
            feature_cols=names,
            label_col="y",
            beta=self.beta,
            emit_f32=self.emit_f32,
            tie_precision=self.tie_precision,
        )
        return dense._fit_from_packed(packed, names, "y", timings)

    def fit(self, nonzeros: DataFrame, labels: DataFrame) -> InfoThSelectorModel:
        if self.n_to_select > self.n_features:
            raise ValueError(
                f"n_to_select={self.n_to_select} exceeds n_features={self.n_features}"
            )
        import numpy as np
        from pyspark.sql import functions as F

        # The label histogram comes first, before any join or persist:
        # both routes need it (class priors, label contract) and its
        # row count decides the route.
        y_hist = {}
        for r in labels.groupBy("y").agg(F.count("*").alias("cnt")).collect():
            if r["y"] is None:
                raise ValueError("labels contain NULL y values")
            y_hist[int(r["y"])] = int(r["cnt"])
        if not y_hist:
            raise ValueError(
                "labels is empty — cannot derive class priors"
            )
        n = sum(y_hist.values())
        y_dim = max(y_hist) + 1
        if min(y_hist) < 0:
            raise ValueError("labels must be >= 0 in the sparse path")
        if y_dim > 256:
            # same byte contract as the features: one corrupt label
            # would size n_y and EVERY per-feature histogram by it
            raise ValueError(
                f"label values exceed the byte range (dim>256): {y_dim}"
            )
        cell_bytes = _cell_bytes(nonzeros.schema, labels.schema)
        if self._plan_route(n, self.n_features, cell_bytes) == "local":
            return self._fit_local(nonzeros, labels, n)
        n_y = np.zeros(y_dim, dtype=np.int64)
        for y_, c_ in y_hist.items():
            n_y[y_] = c_
        return self._fit_sql(nonzeros, labels, n, n_y)

    def _fit_sql(self, nonzeros: DataFrame, labels: DataFrame, n: int, n_y) -> InfoThSelectorModel:
        """The SQL route: everything above the local bound.

        One data-sized join for the whole fit attaches the label to every
        nonzero cell and persists the result partitioned and sorted by
        row_id.  Every per-pass join (remaining cells vs. the selected
        feature's column) then has BOTH sides co-partitioned on row_id —
        no further shuffle of the big table, k passes reuse one layout.
        Zero-crediting (InfoTheory.scala:296-304, :377-384) happens on
        the driver: it only needs the dims-bounded y / (y,z) histograms.
        """
        import numpy as np
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from flink_infotheoretic_feature_selection_spark.operators.sparse import check_cells

        nf = self.n_features
        y_dim = len(n_y)
        # Each cell carries the count of nonzero cells sharing its
        # (row_id, feat) — the dims job rejects a labelled count above 1,
        # as the local route's densify does; orphan copies drop at the
        # join.  The explicit row_id repartition stays the cells' one
        # exchange: the window's (row_id, feat) sort reuses it, and the
        # zipper join reuses both (its own sort included).
        cells = nonzeros.repartition("row_id").withColumn(
            "copies",
            F.count(F.when(F.col("x") != 0, 1)).over(Window.partitionBy("row_id", "feat")),
        )
        # The merge-join HINT is load-bearing twice over: (1) it stops AQE
        # electing a broadcast join (whose output would keep the file
        # partitioning, not row_id's, breaking the zipper property — and
        # broadcasting a row-count-sized label column is unbounded at
        # scale anyway); (2) the SMJ output stays hash-partitioned AND
        # sorted by row_id, so no explicit sort is needed — the round-3
        # build paid one extra full shuffle of the joined table here
        # (measured: 3.8 s → 2.1 s at sf0.1).  sortWithinPartitions is
        # kept as a declarative guard: it collapses to a no-op while the
        # SMJ ordering holds.
        nzy = (
            cells.join(labels.hint("merge"), "row_id")
            .select("row_id", "feat", "x", "y", "copies")
            .sortWithinPartitions("row_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # dims: per-feature max+1 (≥1 so empty features still get
            # x=0).  The cell contract rides the dims job.  The 256 cap is
            # the dense path's feature_dims one: without it a single
            # corrupt cell (x = 1e6) would size every per-feature ndarray
            # by it — hundreds of GB of driver allocations instead of one
            # clear error.
            rows = (
                nzy.groupBy("feat")
                .agg(
                    (F.max("x") + 1).alias("d"),
                    F.min("x").alias("x_lo"),
                    F.sum(
                        F.when(F.col("feat").isNull() | F.col("x").isNull(), 1).otherwise(0)
                    ).alias("nulls"),
                    F.max("copies").alias("copies"),
                )
                .collect()
            )
            keys = [r["feat"] for r in rows if r["feat"] is not None]
            lows = [r["x_lo"] for r in rows if r["x_lo"] is not None]
            check_cells(
                nf,
                sum(r["nulls"] for r in rows),
                min(keys, default=None),
                max(keys, default=None),
                min(lows, default=None),
                {r["feat"]: r["d"] for r in rows if r["d"] is not None and r["d"] > 256},
            )
            dup = sorted((r["feat"], r["copies"]) for r in rows if r["copies"] > 1)
            if dup:
                raise ValueError(
                    f"feature {dup[0][0]} has duplicate (row_id, feat) cells: "
                    f"{dup[0][1]} nonzero cells share one labelled row_id"
                )
            drow = {r["feat"]: int(r["d"]) for r in rows if r["d"] is not None}
            dims = {i: max(drow.get(i, 1), 1) for i in range(nf)}

            # credited zeros: count(x=0, y) = N_y − Σ_{x≠0} count(x, y)
            h2 = {i: np.zeros((dims[i], y_dim), dtype=np.int64) for i in range(nf)}
            _scatter_counts(
                h2,
                nzy.groupBy("feat", "x", "y").agg(F.count("*").alias("cnt")).toPandas(),
                ["x", "y"],
            )
            for i in range(nf):
                h2[i][0] = n_y - h2[i][1:].sum(axis=0)
            relevances = {
                i: mutual_info(h2[i], n, emit_f32=self.emit_f32) for i in range(nf)
            }

            def score_pass(remaining: list[int], conds: list[int]) -> dict:
                (best,) = conds
                # z column = selected feature's nonzeros (absent ⇒ z=0),
                # ONE row per row_id: nzy holds a cell once per label row
                # carrying its row_id, and joining those copies with each
                # other would count a repeated row_id's cells once per
                # pair of its label rows.  The per-row_id aggregate keeps
                # nzy's row_id partitioning, so the join below stays
                # exchange-free (AQE may still elect broadcast).
                nz_best = (
                    nzy.filter(F.col("feat") == best)
                    .groupBy("row_id")
                    .agg(F.max("x").alias("z"))
                )
                h3df = (
                    nzy.filter(F.col("feat").isin(remaining))
                    .join(nz_best, "row_id", "left")
                    .groupBy("feat", "x", "y", F.coalesce("z", F.lit(0)).alias("z"))
                    .agg(F.count("*").alias("cnt"))
                )
                # mi_and_cmi convention: counts[x, y=selected, z=class]
                # (InfoTheory.scala:445-461) — our y is the class and z
                # the selected feature, so swap on fill.
                out = {
                    i: np.zeros((dims[i], dims[best], y_dim), dtype=np.int64)
                    for i in remaining
                }
                _scatter_counts(out, h3df.toPandas(), ["x", "z", "y"])
                # credited zeros: count(x=0, z, y) = N_zy − Σ_{x≠0}, where
                # N_zy is exactly the init-time table h2[best] (credited
                # zeros included) — no Spark job
                for i in remaining:
                    out[i][0] = h2[best] - out[i][1:].sum(axis=0)
                return {
                    best: {
                        i: mi_and_cmi(out[i], n, emit_f32=self.emit_f32)
                        for i in remaining
                    }
                }

            # one cond per pass: the SQL pass joins one z column
            path, _, _ = greedy_path(
                list(range(nf)), relevances, self.criterion, self.beta,
                self.n_to_select, self.tie_precision, score_pass, 0,
            )
            names = [f"f{i}" for i in range(nf)]
            return InfoThSelectorModel(
                feature_cols=names,
                label_col="y",
                selected_cols=[names[i] for i in sorted(i for i, _ in path)],
                selection_path=[(names[i], s) for i, s in path],
                relevances={names[i]: relevances[i] for i in range(nf)},
                fit_timings={"sparse_route": "sql"},
            )
        finally:
            nzy.unpersist()
