"""InfoThSelector — greedy information-theoretic feature selection.

Re-expresses the reference's flagship (``InfoSelector.scala``; lifecycle
traced in SURVEY.md §3.1) as an idiomatic PySpark Estimator/Model:

One dense fit path, one straight line of phases over one cache:

- plan: one route, ``InfoThSelector._plan_pack_route``, from the row
  count (free from parquet footers, else one ``count()``) and the Arrow
  byte widths, before any pack; there is no route option.
- Arrow collect or pack: a matrix under ``LOCAL_MAX_BYTES`` is read ONCE
  as Arrow into a driver-held block (the local regime, any criterion);
  a larger one is packed by ONE scan into a persisted RDD of NumPy
  column blocks (operators/packed.py) — the Spark analogue of the
  reference's columnar transpose + HDFS persist and hand-rolled byte
  layout (``InfoSelector.scala:425-437``): a bare local parquet scan
  straight from its files with pyarrow, anything else through
  ``mapInArrow``; ``_plan_relayout`` then keeps, splits or coalesces
  the blocks once, before any pass reads them.
- stats: per-feature dims (``counterByFeat``) and the row count from the
  blocks, fused with the relevance histograms.  The same pass enforces
  the byte contract: an empty input, a NULL, a value past 255 or a
  negative or fractional value raises a ``ValueError`` (the reference
  truncates silently, ``InfoSelector:430``).
- relevances: MI(X; class) from the fused 2-D histograms vs the label
  (``InfoTheory.scala:413-432``); a separate pass only when the stats
  pass built no tables (its tree fold, or a block over budget).
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

    The fit reads the matrix once into NumPy column blocks
    (operators/packed.py); stats, relevances and every greedy iteration
    are plain closures over those blocks — no per-iteration Catalyst
    plan or Arrow conversion.  The route is planned before any pack
    (:meth:`_plan_pack_route`) and recorded as
    ``fit_timings["pack_route"]``; there is no option to pin it.  A
    matrix of at most ``LOCAL_MAX_BYTES`` Arrow bytes (32 MB — the
    volume one loop pass may already collect under the driver-merge
    budget) is ``"local"``: one Arrow collect into a driver-held block
    and every pass on the driver, since at that size a Spark job launch
    costs several times a pass's NumPy work.  Above it the matrix is
    packed into a persisted RDD: ``"direct"`` from the files of a bare
    local parquet scan with pyarrow (no JVM row transit), ``"scan"``
    through ``mapInArrow`` for anything else.  Selections are
    bit-identical on every route (same integer tables, same finalize).

    Input contract, always enforced: features and label are non-NULL
    integers in [0, 255] (``InfoSelector.scala:404-416``).  The fit's
    stats pass raises a ``ValueError`` for an empty input, a NULL, a
    value past 255, or a negative or fractional value — the reference
    truncates the last two silently; discretize real-valued columns
    first (``EqualFrequencyDiscretizer``).  The check rides the pass
    that derives the dims, so it costs no job.

    Loop passes on Spark score the adaptive ``"auto"`` speculation width
    of :func:`greedy_path`; the local regime runs width 0, since with no
    job launch to amortize a speculated cond is pure waste.  Selections
    are bit-identical at every width.
    """

    def __init__(
        self,
        n_to_select: int = 10,
        criterion: str = "mrmr",
        feature_cols: list[str] | None = None,
        label_col: str = "label",
        beta: float = 1.0,
        emit_f32: bool = True,
        tie_precision: int | None = 5,
    ) -> None:
        _check_selection_args(n_to_select, criterion)
        self.n_to_select = int(n_to_select)
        self.criterion = criterion
        self.feature_cols = feature_cols
        self.label_col = label_col
        self.beta = beta
        self.emit_f32 = emit_f32
        self.tie_precision = tie_precision

    def fit(self, df: DataFrame) -> InfoThSelectorModel:
        """Read or pack ``df`` (:meth:`_pack_and_fit`), then fit.  Every
        route yields bit-identical blocks-by-value and so identical
        selections (pinned by tests/test_direct_pack.py):

        - a bare local parquet scan (optionally column-pruned, detected
          by ``plans.inspect.bare_parquet_scan_files``) → the scan's own
          files are read with pyarrow, no JVM row transit at all —
          ``fit_parquet``'s 21× wide pack without the caller
          materializing anything.
        - anything else → one ``toArrow()`` or the scan pack.  Spilling a
          derived frame to parquet and direct-packing it does not beat
          this outside a shallow ~40-100 column band (measured r10: the
          parquet writer's per-field row cost crosses the Arrow
          transit's from ~128 columns up), so there is no spill route.
        """
        from flink_infotheoretic_feature_selection_spark.plans.inspect import (
            bare_parquet_scan_files,
        )

        df = self._widen_vectors(df)
        feats = self.feature_cols or [c for c in df.columns if c != self.label_col]
        if self.n_to_select > len(feats):
            # reference: require(nToSelect < nFeatures), InfoSelector.scala:419
            raise ValueError(
                f"n_to_select={self.n_to_select} exceeds n_features={len(feats)}"
            )
        # The fit scans the source EXACTLY ONCE (the pack is the cache)
        # and derives dims/count and the contract check from the NumPy
        # blocks — no DataFrame persist and no wide Catalyst aggregates, whose plan
        # cost explodes with column count (632-column dims agg measured
        # at 60.9 s vs 0.17 s from blocks; see operators/packed.py).
        label = self.label_col
        files = bare_parquet_scan_files(df, feats + [label])
        return self._pack_and_fit(df.sparkSession, files, feats, label, scan_df=df)

    def fit_parquet(self, spark, path: str, filesystem=None) -> InfoThSelectorModel:
        """Fit straight from a MATERIALIZED parquet feature matrix via
        pyarrow (driver-read or ``PackedMatrix.pack_parquet``) —
        skips the DataFrame scan's JVM row round-trip, the dominant
        cost on wide matrices (BASELINE r9: 600k×631 pack 113 s →
        seconds).  Semantics are identical to ``fit`` on
        ``spark.read.parquet(path)`` — bit-identical selection, same
        input contract — PROVIDED the parquet columns already
        hold the final feature values (no Catalyst expressions are
        applied; derive-then-write first if your features are computed).
        ``feature_cols`` defaults to the parquet schema order minus
        ``label_col``.  ``filesystem`` (r10) — an optional
        ``pyarrow.fs.FileSystem`` for non-local storage (S3, HDFS, a
        wrapped fsspec); footer reads and row-group reads all go through
        it."""
        import pyarrow.parquet as pq_mod

        from flink_infotheoretic_feature_selection_spark.operators.packed import (
            list_parquet_files,
        )

        # list_parquet_files raises the clear 'no parquet files' error on
        # an empty directory (r10, advisor find: the old sorted(glob)[0]
        # raised a bare IndexError first) and resolves nested /
        # Spark-partitioned layouts recursively
        first = list_parquet_files(path, filesystem)[0]
        schema_names = pq_mod.ParquetFile(first, filesystem=filesystem).schema_arrow.names
        feats = self.feature_cols or [c for c in schema_names if c != self.label_col]
        if self.n_to_select > len(feats):
            raise ValueError(
                f"n_to_select={self.n_to_select} exceeds n_features={len(feats)}"
            )
        return self._pack_and_fit(spark, path, feats, self.label_col, filesystem=filesystem)

    def _pack_and_fit(
        self, spark, files, feats: list[str], label: str, scan_df=None, filesystem=None
    ) -> InfoThSelectorModel:
        """Plan the route, read or pack the matrix, then
        :meth:`_fit_from_packed`.  The row count that picks the route
        (:meth:`_plan_pack_route`, before any other job) comes free from
        the footers of ``files`` (a parquet path or file list), else from
        one ``count()`` of ``scan_df``:

        - ``"local"``: one Arrow read into a driver-held block
          (``PackedMatrix.from_arrow``) — pyarrow on the driver for
          ``files``, no Spark job; else one JVM-side ``toArrow()``;
        - ``"direct"``: the row-group pack of ``files``;
        - ``"scan"``: the ``mapInArrow`` pack of ``scan_df``.

        With both given (``fit`` on a bare scan), footers the direct read
        cannot take — a file missing a column under mergeSchema, no
        non-empty row group — send the frame down the frame routes,
        which handle or re-diagnose those.  The try wraps ONLY the
        footers: a contract ValueError from the fit itself must
        propagate, not silently re-run the fit on another route (r10
        self-review find).  The fit's ``n`` comes from the blocks."""
        import time

        from pyspark.sql.pandas.types import to_arrow_type

        from flink_infotheoretic_feature_selection_spark.operators.packed import (
            PackedMatrix,
            arrow_byte_width,
            pack_source,
            parquet_units,
            read_units,
        )

        cols = feats + [label]
        t0 = time.perf_counter()
        units = None
        if files is not None:
            try:
                units, widths = parquet_units(files, cols, filesystem)
            except ValueError:
                if scan_df is None:
                    raise
        if not units and scan_df is not None:
            src = pack_source(scan_df, cols)
            widths = [arrow_byte_width(to_arrow_type(f.dataType)) for f in src.schema]
            n_rows, units = src.count(), None
        else:
            n_rows = sum(u[2] for u in units)
        route = self._plan_pack_route(n_rows, widths, units is not None)
        if route == "local":
            tables = [src.toArrow()] if units is None else read_units(units, cols, filesystem)
            packed = PackedMatrix.from_arrow(tables, cols)
        elif route == "direct":
            packed = PackedMatrix.pack_parquet(
                spark, files, cols,
                rows_per_partition=self.LOOP_ROWS_PER_PARTITION,
                filesystem=filesystem,
                units=units,
            )
        else:
            packed = PackedMatrix.pack(scan_df, cols)
        timings = {"pack_route": route, "pack_sec": round(time.perf_counter() - t0, 3)}
        return self._fit_from_packed(packed, feats, label, timings)

    def _fit_from_packed(
        self, packed, feats: list[str], label: str, timings: dict
    ) -> InfoThSelectorModel:
        """Everything after the pack, one straight line: apply the
        layout decision, then the stats pass, the relevances and the
        greedy loop.  Shared by every dense route and by the sparse
        selector's local route; they differ ONLY in how the blocks were
        produced."""
        import time

        try:
            # A packed RDD's layout is decided ONCE, from the pack's free
            # row and partition counts (see _plan_relayout), and applied
            # before any pass reads the blocks — so every pass, stats
            # included, runs over the layout the loop will use.  The
            # driver-held block of the local route has no layout to plan.
            relayout = None if packed.local else self._plan_relayout(
                packed.n_rows or 0,
                len(packed.cols),
                packed.n_partitions,
                packed.rdd.context.defaultParallelism,
                self.criterion.lower() != "mim" and self.n_to_select >= 2,
            )
            timings["relayout"] = relayout
            t0 = time.perf_counter()
            if relayout is not None:
                packed = packed.rebalance(relayout[1], self.LOOP_ROWS_PER_PARTITION)
                timings["rebalance_sec"] = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
            timings["loop_partitions"] = packed.n_partitions

            # The stats pass checks the byte contract, derives the dims
            # and builds the stage-2 relevance tables (r12, guide §1.2:
            # one scan of the blocks instead of two); h2 is None when it
            # built no tables, and the relevances pass runs instead —
            # bit-identical either way.
            dims, n, h2 = packed.dims_count_hist2d(label)
            timings["stats_fused"] = h2 is not None
            timings["stats_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            if h2 is not None:
                relevances = {
                    c: mutual_info(h2[c], n, emit_f32=self.emit_f32) for c in feats
                }
            else:
                relevances = packed.relevances(feats, label, dims, n, emit_f32=self.emit_f32)
            timings["relevance_sec"] = round(time.perf_counter() - t0, 3)

            # Loop: one packed pass (hist3d_mi_cmi_multi) per launch,
            # called through the instance at pass time.  A speculated
            # cond only pays off by saving a job launch, so the local
            # regime pins width 0.
            t0 = time.perf_counter()
            path, passes, hits = greedy_path(
                feats, relevances, self.criterion, self.beta, self.n_to_select,
                self.tie_precision,
                lambda remaining, conds: packed.hist3d_mi_cmi_multi(
                    remaining, conds, label, dims, n, emit_f32=self.emit_f32
                ),
                0 if packed.local else "auto",
            )
            timings["loop_jobs"] = 0 if packed.local else passes
            timings["speculation_hits"] = hits
            timings["loop_sec"] = round(time.perf_counter() - t0, 3)
            # MIM never runs a redundancy pass — reporting k-1 would hand
            # per-iteration diagnostics a nonsense denominator (r8 review)
            timings["iterations"] = (
                0 if self.criterion.lower() == "mim" else max(len(path) - 1, 0)
            )
            return InfoThSelectorModel(
                feature_cols=feats,
                label_col=label,
                selected_cols=sorted((c for c, _ in path), key=feats.index),
                selection_path=path,
                relevances=relevances,
                fit_timings=timings,
            )
        finally:
            packed.unpersist()

    # -- internal ----------------------------------------------------------

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
    # Largest matrix (Arrow bytes) the local route reads onto the driver
    # — see _plan_pack_route.  The same volume one loop pass may already
    # collect under histogram.BLOB_DRIVER_MERGE_MAX_BYTES.
    LOCAL_MAX_BYTES = 32 * 1024 * 1024

    @classmethod
    def _plan_pack_route(cls, n_rows: int, widths: list[int | None], direct: bool) -> str:
        """The fit's route, a pure function of the row count and the
        Arrow byte width of each pack column (``None``: variable width):
        ``"local"`` when ``n_rows × Σ widths`` — what the driver
        receives — is at most ``LOCAL_MAX_BYTES`` (read at call time; 0
        keeps every non-empty input off the driver, -1 every input), else
        ``"direct"`` for parquet files (``direct``) and ``"scan"`` for a
        frame.  The criterion and k play no part: MIM goes local too.

        local: stats, relevances and every loop pass run on the driver,
        no Spark job: at this size the launches, not the bincounts, are
        the fit's cost.  Measured on a 4-vCPU host, mRMR k=10: on 120k
        rows × 33 columns the Spark loop's 4 speculative passes took
        2.24 s and the 9 local passes 0.16-0.18 s; on 600k × 33 (sf0.1,
        19.8 MB) 2.4-2.7 s vs 0.70-0.75 s.  Reading the frame as Arrow
        instead of packing and collecting blocks took the 120k × 33 fit
        from 1.65 to 0.90 s (MIM k=10: 1.83 to 0.81 s)."""
        if None not in widths and n_rows * sum(widths) <= cls.LOCAL_MAX_BYTES:
            return "local"
        return "direct" if direct else "scan"

    @classmethod
    def _plan_relayout(
        cls,
        n_rows: int,
        n_cols: int,
        n_partitions: int,
        parallelism: int,
        needs_loop: bool,
    ) -> tuple[str, int] | None:
        """The one layout decision for a Spark-packed matrix, a pure
        function of the pack's shape: ``None`` (keep the layout),
        ``("split", target)`` or ``("coalesce", ideal)``.

        The re-layout exists for the greedy LOOP (dims and relevances
        run before or regardless of it), so MIM and k=1 fits
        (``needs_loop`` False) never re-lay out (r13 — the MIM bench
        paid a 0.55 s coalesce for zero loop jobs).

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
        packed = PackedMatrix([cols], names + ["y"], 1, n_rows=n)
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
