"""PackedMatrix — the greedy loop's iteration substrate.

The reference's Flink job caches a hand-built columnar byte layout once
and then runs every bulk-iteration superstep against it
(``InfoSelector.scala:421-437``, ``InfoTheory.scala:474-521``).  The
round-3..6 Spark loop re-read the Tungsten DataFrame cache through a
fresh ``mapInArrow`` plan every iteration — correct, but each iteration
re-paid (a) Catalyst analysis of a fresh plan (``remaining`` shrinks and
``best`` changes, so the plan never repeats) and (b) the row-cache →
Arrow columnar conversion of the full matrix.  Measured at sf0.1
(600k × 33 tinyint, 10 partitions, local[32]): 0.63-0.73 s per
iteration, of which the NumPy bincount work is ~0.03 s.

This module packs the matrix ONCE into a persisted RDD of per-partition
NumPy column blocks — the true Spark analogue of the reference's
one-time transpose-and-cache.  Each greedy iteration is then a plain
``mapPartitions`` closure over the already-columnar blocks: no Catalyst
plan, no Arrow conversion, no Python-worker re-serialization of the
data (the blocks stay cached in the Python workers' block store).
Measured: 0.26-0.30 s per iteration on the same workload — 2.3× — and
the win grows with column count (the 631-feature reference-shaped
matrix pays Arrow conversion per column).

This is the documented "RDD only where per-partition imperative logic
is genuine" exception: the greedy loop is driver-side imperative by
design (SURVEY.md §7.1), and its inner pass is a fixed NumPy kernel
over data whose layout never changes across k iterations.

Scale shape (100 TB): the packed RDD is the same bytes as the DataFrame
cache (int8/int16 columns, per-partition dict overhead amortized), it
inherits the loop's 65536-rows-per-partition layout, and every
histogram pass runs one per-block closure over the blocks.  Where the
blocks live and how the per-block int32 partials merge is decided in
ONE dispatch, :func:`_map_blocks` plus :func:`_merge_partials`, which
gives three regimes:

- local: a matrix small enough to hold on the driver
  (``InfoThSelector.LOCAL_MAX_BYTES``) is collected ONCE into a single
  driver-held block (:meth:`PackedMatrix.collect_local`), and every
  later pass calls its closure on that block in the driver process —
  no Spark job at all.  At bench scale a job launch costs several times
  the NumPy work of a loop pass, so this regime removes the loop's cost.
- driver merge: a pass volume under
  ``histogram.BLOB_DRIVER_MERGE_MAX_BYTES`` is collected and summed on
  the driver (one stage, no shuffle).
- shuffled: above that bound the partials flow through a shuffled
  per-key combine (int64 accumulators — merge order cannot change exact
  integer sums) and MI/CMI run executor-side, so the driver collects
  only merged results.

Bit-equality of all three against ``np.bincount`` tables is pinned by
tests/test_packed.py.
"""

from __future__ import annotations

import functools
import pickle
from typing import Iterator

import numpy as np
import pyarrow as pa

from flink_infotheoretic_feature_selection_spark.operators import histogram
from flink_infotheoretic_feature_selection_spark.operators.histogram import check_int32_rows
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["PackedMatrix", "list_parquet_files"]


def _add_partial(acc: np.ndarray, v: np.ndarray) -> np.ndarray:
    """``acc += v`` in place for an int64 accumulator; every pass emits
    one fixed-length table per key, so the shapes always agree."""
    acc += v
    return acc


def _map_blocks(src, fn) -> list:
    """``[fn(block) for every block]``, on the driver: one Spark job over a
    persisted block RDD, a plain loop over the driver-held block list of
    the local regime (:meth:`PackedMatrix.collect_local`)."""
    if isinstance(src, list):
        return [fn(blk) for blk in src]
    return src.map(fn).collect()


def _merge_partials(src, partials, n_keys: int, est_bytes: int, finalize=None) -> dict:
    """The merge every histogram pass shares.

    ``partials`` maps ONE block to its list of int32 tables; a table's
    list position is its key (``0 .. n_keys-1``).  ``src`` is the
    persisted block RDD, or the driver-held block list of the local
    regime.  Returns ``{key: finalize(key, merged_int64_table)}`` (the
    table itself when ``finalize`` is None) for every key some block
    emitted — callers fill the empty-input defaults.

    - driver-held blocks: ``partials`` runs in this process, no job.
    - ``est_bytes`` (the pass's collected partial volume) under
      ``histogram.BLOB_DRIVER_MERGE_MAX_BYTES``: collect the per-block
      lists and sum them in int64 on the driver — one stage, no shuffle.
    - above it: a shuffled int64 per-key combine, ``finalize`` (MI/CMI)
      on the executors, only the merged results reach the driver.

    The budget is read at call time so tests can force either regime.
    Exact in all three: integer sums merge identically in any order, and
    ``finalize`` sees the same int64 table either way."""
    fin = finalize or (lambda k, acc: acc)
    if isinstance(src, list) or est_bytes <= histogram.BLOB_DRIVER_MERGE_MAX_BYTES:
        totals: dict[int, np.ndarray] = {}
        for part in _map_blocks(src, partials):
            for k, v in enumerate(part):
                totals[k] = _add_partial(totals[k], v) if k in totals else v.astype(np.int64)
        return {k: fin(k, acc) for k, acc in totals.items()}

    return dict(
        src.flatMap(lambda blk: enumerate(partials(blk)))
        .combineByKey(
            lambda v: v.astype(np.int64),
            _add_partial,
            _add_partial,
            numPartitions=max(min(n_keys, src.getNumPartitions()), 1),
        )
        .map(lambda kv: (kv[0], fin(kv[0], kv[1])))
        .collect()
    )


def _is_hidden_relpath(rel: str) -> bool:
    """True when any path component under the listing root starts with
    ``_`` or ``.`` — Hadoop's hidden-file convention, which
    ``spark.read.parquet`` applies.  Without it, files under e.g. a
    leftover ``_temporary/`` from an aborted Spark write would be packed
    as duplicate rows (r11, advisor find)."""
    return any(
        c.startswith(("_", ".")) for c in rel.replace("\\", "/").split("/") if c
    )


def list_parquet_files(path: str | list[str]) -> list[str]:
    """Resolve ``path`` (file / directory / explicit list) to a sorted
    list of parquet data files.

    Directories are walked RECURSIVELY so Spark-partitioned layouts
    (``key=val/part-*.parquet``) and nested dirs resolve like
    ``spark.read.parquet`` on the same path (r10, advisor find — the old
    top-level glob rejected or silently skipped them).  Hidden paths
    (any component starting with ``_`` or ``.`` below the root — e.g.
    ``_temporary`` leftovers, ``_SUCCESS``, ``.crc`` sidecars) are
    skipped exactly as Spark's Hadoop listing skips them (r11, advisor
    find).  Explicit file lists are taken verbatim — the caller named
    those files on purpose.  An empty result raises the clear
    input-validation error instead of a downstream IndexError."""
    import glob
    import os

    if isinstance(path, (list, tuple)):
        files = sorted(path)
    elif os.path.isdir(path):
        files = sorted(
            f
            for f in glob.glob(
                os.path.join(glob.escape(path), "**", "*.parquet"), recursive=True
            )
            if not _is_hidden_relpath(os.path.relpath(f, path))
        )
    else:
        files = [path]
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    return files


def _list_parquet_files_fs(filesystem, path: str | list[str]) -> list[str]:
    """Recursive ``*.parquet`` listing through a ``pyarrow.fs``
    FileSystem — the non-local twin of :func:`list_parquet_files`
    (object stores have no os.path; the filesystem's own selector
    walks the prefix).  Applies the same Hadoop hidden-path filter
    (``_``/``.``-prefixed components below the root) as the local
    listing."""
    from pyarrow import fs as pafs

    if isinstance(path, (list, tuple)):
        files = sorted(path)
    else:
        info = filesystem.get_file_info(path)
        if info.type == pafs.FileType.Directory:
            root = path.rstrip("/")
            files = sorted(
                f.path
                for f in filesystem.get_file_info(
                    pafs.FileSelector(path, recursive=True)
                )
                if f.type == pafs.FileType.File
                and f.path.endswith(".parquet")
                and not _is_hidden_relpath(f.path[len(root) :].lstrip("/"))
            )
        else:
            files = [path]
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    return files


def _warn_if_spill_regime(spark, n_rows: int, n_cols: int) -> None:
    """Loud, actionable log line when the estimated packed working set
    exceeds what the executors can keep in storage memory (VERDICT r9
    ask #8): past that point every iteration re-reads evicted blocks
    from disk — a measured, silent 2.4× per-iteration degradation at
    6M×631 / 48g heap (BASELINE r9 epilogue).  An estimate from the
    footer row counts (1 B/cell — the compacted uint8 layout) against
    ``spark.executor.memory`` × ``spark.memory.fraction`` × executors
    (driver memory in local mode); deliberately a WARNING, not an error:
    the two-regime merges stay exact either way, only wall-clock
    degrades."""
    import logging

    est = estimate_packed_bytes(n_rows, n_cols)
    budget = _storage_budget_bytes(spark)
    if budget is None or est <= budget:
        return
    logging.getLogger(__name__).warning(
        "packed matrix estimated at %.1f GiB exceeds the ~%.1f GiB "
        "executor storage budget: blocks will spill to the executors' "
        "disk store and every greedy iteration re-reads them (measured "
        "~1.3x per-iteration cost at 60Mx631/48g when the OS page cache "
        "absorbs the spill, worse on cold disks — BASELINE r10). Add "
        "executors/memory or fit on a row subsample.",
        est / 2**30,
        budget / 2**30,
    )


def estimate_packed_bytes(n_rows: int, n_cols: int) -> int:
    """Estimated persisted size of the packed blocks: 1 B/cell (the
    compacted uint8 layout ``_compact`` produces for byte-contract
    data) plus pickle/dict overhead amortized to ~2% per block."""
    return int(n_rows * n_cols * 1.02)


def _parse_mem_bytes(s: str) -> int | None:
    import re

    m = re.fullmatch(r"(\d+)([kmgt]?)b?", s.strip().lower())
    if not m:
        return None
    mult = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}[m.group(2)]
    return int(m.group(1)) * mult


def _storage_budget_bytes(spark) -> int | None:
    """Cluster-wide storage-memory budget: per-executor heap ×
    ``spark.memory.fraction`` × executor count (driver heap in local
    mode, where executors share the driver JVM).  None when the confs
    don't parse — callers must then skip the heuristic, not guess."""
    try:
        sc = spark.sparkContext
        master = sc.master or ""
        conf = sc.getConf()
        frac = float(conf.get("spark.memory.fraction", "0.6"))
        # bare "local" (one thread, no bracket) is still the single-JVM
        # regime: budget from driver memory, not executor memory (r11,
        # advisor find)
        if master == "local" or master.startswith("local["):
            mem = _parse_mem_bytes(conf.get("spark.driver.memory", "1g"))
            n_exec = 1
        else:
            mem = _parse_mem_bytes(conf.get("spark.executor.memory", "1g"))
            n_exec = max(
                len(
                    [
                        e
                        for e in sc._jsc.sc().statusTracker().getExecutorInfos()
                    ]
                )
                - 1,
                1,
            )
        if mem is None:
            return None
        return int(mem * frac * n_exec)
    except Exception:
        return None


def _compact(a: np.ndarray) -> np.ndarray:
    """Downcast an integer column block to uint8 when its values fit the
    byte contract ([0, 255] — ``InfoSelector.scala:411-414``'s actual
    requirement) — int16 when they merely fit [-2^15, 2^15).

    Why (r10, VERDICT ask #4): blocks used to persist at the SOURCE
    dtype — parquet int32/int64 columns inflated the persisted working
    set 4-8× past the information content (measured 15 GB pickled at
    6M×631, forcing the disk-re-read regime on one box).  Values are
    byte-ranged by contract, so uint8 loses nothing.

    Deliberately NOT a blind ``astype``: out-of-range values keep their
    original dtype so ``dims_and_count``'s dim>256 raise and
    ``validate_byte_range``'s offender report still see the real values
    — a silent uint8 wrap (300 → 44) would turn both guards into liars.
    Floats (Arrow's nullable-int promotion, NaN == NULL) pass through
    untouched for the same reason.  Histogram kernels upcast via
    ``astype(np.int64)`` before any code product, so the narrower
    storage cannot overflow downstream math."""
    if a.dtype == np.uint8 or a.dtype.kind not in "iu" or a.size == 0:
        return a if a.dtype.kind not in "iu" or a.flags.writeable else a.copy()
    lo, hi = int(a.min()), int(a.max())
    if 0 <= lo and hi <= 255:
        return a.astype(np.uint8)
    if -(2**15) <= lo and hi < 2**15:
        return a.astype(np.int16)
    # pass-through can now receive a READ-ONLY zero-copy Arrow view
    # (_col_to_numpy): copy it so blocks keep their historical writable
    # contract and stop pinning the whole decoded table (r11 review)
    return a if a.flags.writeable else a.copy()


def _col_to_numpy(col) -> np.ndarray:
    """Arrow column (Array or ChunkedArray) → NumPy, zero-copy when safe.

    Null-free integer columns view the Arrow data buffer directly
    (``to_numpy(zero_copy_only=True)`` per chunk; multi-chunk concatenates
    views with one vectorized memcpy) — ``ChunkedArray.to_numpy`` takes a
    copying conversion path even for a single null-free chunk, and it was
    0.51 s of the 0.67 s/unit pack decode at the 6M×631 shape (VERDICT
    r10 ask #2).  Everything else falls back to
    ``to_numpy(zero_copy_only=False)``, preserving the NULL → float64-NaN
    promotion the dims/NULL contract depends on.  ``_compact`` copies the
    view into the uint8/int16 block right after, so no Arrow buffer
    outlives the decode unless the column genuinely needs its source
    dtype."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    if chunks and pa.types.is_integer(chunks[0].type) and all(
        c.null_count == 0 for c in chunks
    ):
        views = [c.to_numpy(zero_copy_only=True) for c in chunks]
        return views[0] if len(views) == 1 else np.concatenate(views)
    return col.to_numpy(zero_copy_only=False)


def _block_of(batches: list[pa.RecordBatch], cols: list[str]) -> dict[str, np.ndarray]:
    # resolve columns BY NAME from the batch schema, not by position:
    # pack feeds the scan's own column order through when possible (the
    # wide-schema fast path below) and only the dict keys must follow
    # ``cols``
    idx = {name: i for i, name in enumerate(batches[0].schema.names)}
    arrs: dict[str, np.ndarray] = {}
    for c in cols:
        i = idx[c]
        chunks = [_col_to_numpy(b.column(i)) for b in batches]
        arrs[c] = _compact(chunks[0] if len(chunks) == 1 else np.concatenate(chunks))
    return arrs


def _materialize(rdd, cols: list[str]) -> tuple[int, int]:
    """Materialize a freshly persisted block RDD in ONE job, returning
    its total row count and the summed ``nbytes`` of its column arrays."""
    return rdd.map(
        lambda blk: (len(blk[cols[0]]), sum(blk[c].nbytes for c in cols))
    ).fold((0, 0), lambda a, b: (a[0] + b[0], a[1] + b[1]))


class PackedMatrix:
    """Per-partition NumPy column blocks of a wide discrete matrix,
    persisted as an RDD.

    Build with :meth:`pack`; release with :meth:`unpersist`.  All
    histogram methods return exact integer-merged results bit-identical
    to the ``histogram.py`` DataFrame routes (same int64 partition
    accumulators, same int32 partial emit, same f64 MI/CMI math).
    """

    #: Driver-volume bound for the one-stage stats fold AND the
    #: selector's fused dims+hist2d gate (hoisted r13, ADVICE: the two
    #: sites previously duplicated the literal and could drift):
    #: ``n_partitions × n_cols × 16 B`` of collected stat rows must stay
    #: under this for a plain reduce/collect to beat a tree fold.
    DRIVER_STATS_MAX_BYTES = 64 * 1024 * 1024

    def __init__(
        self,
        rdd,
        cols: list[str],
        n_partitions: int,
        n_rows: int | None = None,
        n_bytes: int | None = None,
    ) -> None:
        #: The persisted RDD of blocks — or, after :meth:`collect_local`,
        #: a plain list holding the one driver-held block.
        self.rdd = rdd
        self.cols = list(cols)
        self.n_partitions = n_partitions
        #: Total row count, when the pack could derive it for free (the
        #: materialization job sums per-block row counts; the direct
        #: route knows it from the footers).  ``None`` means unknown —
        #: callers must not assume it.  Lets the selector predict the
        #: starved-rebalance decision BEFORE the stats pass (ADVICE r12:
        #: the fused dims+hist2d pass must not run serially inside the
        #: very partitions the rebalance is about to split).
        self.n_rows = n_rows
        #: Summed ``nbytes`` of the blocks' column arrays, from the same
        #: materialization job (``None`` when unknown) — what the local
        #: regime would hold on the driver.
        self.n_bytes = n_bytes

    @property
    def local(self) -> bool:
        """True once :meth:`collect_local` moved the blocks to the driver."""
        return isinstance(self.rdd, list)

    @classmethod
    def pack(
        cls,
        matrix: DataFrame,
        cols: list[str],
        n_partitions: int | None = None,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> "PackedMatrix":
        """One scan of ``matrix`` → persisted RDD of column blocks.

        ``n_partitions`` (when it differs from the input layout) rides
        the same single scan: the round-robin repartition exchange feeds
        ``mapInArrow`` directly, so no second DataFrame persist exists —
        the pack IS the repartitioned cache.

        Wide-schema fast path (the reference's own 631-attribute default
        shape): when ``cols`` is exactly the input's column set, the
        explicit ``select`` is SKIPPED — ``mapInArrow`` runs straight off
        the scan and the blocks re-key by name Python-side.  A Project
        over 632 columns costs a one-time multi-second janino codegen of
        the wide projection class plus a per-batch copy; neither buys
        anything when no column is dropped or reordered (measured 631×8k,
        local[32]: pack 7.2 s → ~2 s).  With a strict subset the select
        stays — that's what pushes column pruning into the scan.
        """
        cols = list(cols)
        # fast path requires UNIQUE input columns: _block_of resolves by
        # name, and a duplicate name (e.g. from a join) would silently
        # read the last occurrence for both logical columns — the select
        # keeps Catalyst's loud AMBIGUOUS_REFERENCE error for that case
        mcols = matrix.columns
        src = (
            matrix
            if set(cols) == set(mcols) and len(set(mcols)) == len(mcols)
            else matrix.select(*cols)
        )
        if n_partitions is not None and src.rdd.getNumPartitions() != n_partitions:
            src = src.repartition(n_partitions)

        def pack_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            # free the PREVIOUS task's retained Arrow buffers first:
            # reused python workers otherwise keep ~one partition of
            # decoded batches in the pool per worker (r10, see
            # read_chunk's release note)
            pa.default_memory_pool().release_unused()
            got = list(batches)
            if got:
                blob = pickle.dumps(_block_of(got, cols), protocol=pickle.HIGHEST_PROTOCOL)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([blob], type=pa.binary())], names=["blk"]
                )

        rdd = (
            src.mapInArrow(pack_batches, "blk binary")
            .rdd.map(lambda r: pickle.loads(r.blk))
            .persist(storage_level)
        )
        n_parts = rdd.getNumPartitions()
        # materialize (downstream timing is pure iteration cost); the
        # per-block row counts and byte sizes ride the same job and give
        # n_rows / n_bytes for free (r13 — replaces the former bare count())
        n_rows, n_bytes = _materialize(rdd, cols)
        return cls(rdd, cols, n_parts, n_rows=n_rows, n_bytes=n_bytes)

    @classmethod
    def pack_parquet(
        cls,
        spark,
        path: str | list[str],
        cols: list[str],
        rows_per_partition: int = 65536,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        filesystem=None,
    ) -> "PackedMatrix":
        """Direct pack from a MATERIALIZED parquet feature matrix: tasks
        read their own row groups via pyarrow straight into NumPy blocks.

        Why this exists (measured, BASELINE r9): the DataFrame pack pays
        a JVM row round-trip — parquet's columnar batches are torn into
        InternalRows (``ColumnarToRow``) and re-batched to Arrow for
        ``mapInArrow`` — which costs ~0.19 ms/row at 632 fields
        (113 s warm for the 600k×631 ECBDL14-shape matrix, 84% of the
        whole fit).  Reading the SAME columns with pyarrow keeps the
        data columnar end-to-end; the transit disappears.

        Scope and contract:

        - ``path`` is a parquet file, a directory (searched RECURSIVELY
          for ``*.parquet`` — Spark-partitioned ``key=val/part-*.parquet``
          layouts and nested dirs included; r10, advisor find: the old
          top-level-only glob silently skipped nested files), or an
          explicit list of parquet file paths (the auto-router hands the
          scan's own ``inputFiles`` through).  Files whose columns
          ALREADY hold the final feature values — no Catalyst
          expressions are applied (use :meth:`pack` for a derived
          DataFrame).  NOTE: Hive-style partition COLUMNS live in
          directory names, not in the files — packing one raises the
          missing-column error below.  Same value contract as :meth:`pack`:
          integer byte-ranged features; NULL-bearing columns surface as
          NaN-promoted floats and fail ``dims_and_count`` identically,
          because both routes share pyarrow's ``to_numpy`` promotion.
        - Distribution: the driver reads only FOOTERS (row-group row
          counts); (file, row_group) units are greedily chained into
          ~``rows_per_partition``-row chunks, one task each — the same
          layout :meth:`rebalance` targets, so the loop runs directly
          on the packed blocks with no re-layout.  Row groups are the
          split atom (as in Spark's own parquet scan); write matrices
          with bounded ``row_group_size`` for parallelism.
        - Column pruning: only ``cols`` are decoded — the pruning the
          Catalyst scan would have pushed down, done by the reader.
        - Cluster note (r10): pass ``filesystem`` — a
          ``pyarrow.fs.FileSystem`` (S3FileSystem, HadoopFileSystem,
          a PyFileSystem-wrapped fsspec, ...) — and both the driver's
          footer reads and the executors' row-group reads go through it
          (pyarrow filesystems pickle into the task closures).  Listing
          then uses the filesystem's own recursive selector.  Without
          it, paths are local.
        """
        import pyarrow.parquet as pq_mod

        cols = list(cols)
        files = (
            list_parquet_files(path)
            if filesystem is None
            else _list_parquet_files_fs(filesystem, path)
        )
        units: list[tuple[str, int, int]] = []
        for f in files:
            md = pq_mod.ParquetFile(f, filesystem=filesystem)
            missing = [c for c in cols if c not in md.schema_arrow.names]
            if missing:
                raise ValueError(
                    f"parquet file {f!r} is missing pack columns {missing}"
                )
            for rg in range(md.metadata.num_row_groups):
                nr = md.metadata.row_group(rg).num_rows
                if nr:
                    units.append((f, rg, nr))
        if not units:
            # an all-empty input would otherwise surface later as an
            # opaque dims_and_count error (r10, advisor find)
            raise ValueError(
                f"no non-empty parquet row groups under {path!r} — "
                "cannot pack an empty matrix"
            )
        _warn_if_spill_regime(spark, sum(u[2] for u in units), len(cols))
        chunks: list[list[tuple[str, int, int]]] = []
        cur: list[tuple[str, int, int]] = []
        cur_rows = 0
        for u in units:
            cur.append(u)
            cur_rows += u[2]
            if cur_rows >= rows_per_partition:
                chunks.append(cur)
                cur, cur_rows = [], 0
        if cur:
            chunks.append(cur)

        def read_chunk(it):
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            for chunk in it:
                parts: dict[str, list[np.ndarray]] = {c: [] for c in cols}
                for f, rg, _ in chunk:
                    tbl = _pq.ParquetFile(f, filesystem=filesystem).read_row_group(
                        rg, columns=cols
                    )
                    for c in cols:
                        # _col_to_numpy: zero-copy buffer view for the
                        # null-free integer case (0.51 of 0.67 s/unit was
                        # ChunkedArray.to_numpy's copying path — VERDICT
                        # r10 ask #2), to_numpy fallback otherwise so the
                        # NULL → float64-NaN promotion the dims contract
                        # sees is unchanged
                        parts[c].append(_col_to_numpy(tbl.column(c)))
                out = {
                    c: _compact(v[0] if len(v) == 1 else np.concatenate(v))
                    for c, v in parts.items()
                }
                del parts, tbl
                # Return retained decode buffers to the OS: long-lived
                # REUSED python workers otherwise keep each unit's
                # transient int32 table (~rows × cols × 4 B) in the
                # pyarrow pool after the uint8 blocks are built — at
                # 60M×631 / 32 workers that is tens of GB of dead RSS
                # and it OOM-killed the single-box decade run (r10).
                _pa.default_memory_pool().release_unused()
                yield out

        sc = spark.sparkContext
        rdd = (
            sc.parallelize(chunks, max(len(chunks), 1))
            .mapPartitions(read_chunk)
            .persist(storage_level)
        )
        # materialize: downstream timing is pure iteration cost; the row
        # count is also footer-known (sum of non-empty row-group rows)
        n_rows, n_bytes = _materialize(rdd, cols)
        return cls(rdd, cols, rdd.getNumPartitions(), n_rows=n_rows, n_bytes=n_bytes)

    def unpersist(self) -> None:
        if not self.local:
            self.rdd.unpersist()

    def collect_local(self) -> "PackedMatrix":
        """The local regime: ONE ``collect()`` of the persisted blocks,
        concatenated per column into a single driver-held block; the RDD
        is unpersisted.  Every later pass runs its per-block closure on
        that block in the driver process (:func:`_map_blocks`,
        :func:`_merge_partials`) — no Spark job.  Integer tables are
        partition-agnostic sums and concatenation keeps each column's
        values (and any out-of-contract dtype the checks need), so every
        result is bit-identical to the distributed passes.  An already
        driver-held matrix (e.g. the sparse selector's densified block)
        is returned as is."""
        if self.local:
            return self
        cols = self.cols
        try:
            blocks = self.rdd.collect()
        finally:
            self.unpersist()
        if len(blocks) > 1:
            blocks = [{c: np.concatenate([b[c] for b in blocks]) for c in cols}]
        return PackedMatrix(blocks, cols, 1, n_rows=self.n_rows, n_bytes=self.n_bytes)

    # -- stats / layout ------------------------------------------------------

    def dims_and_count(self, cap: int = 256) -> tuple[dict[str, int], int]:
        """Per-column ``max+1`` + row count from the blocks — the packed
        twin of ``histogram.feature_dims_and_count`` (same errors on
        empty / all-NULL input and on over-``cap`` values — values are
        bytes by contract, ``InfoTheory.scala:413-419``; a raise beats
        the old silent clamp, which let out-of-range values alias into
        neighboring histogram cells).

        On wide schemas this replaces a Catalyst aggregate whose plan
        cost grows badly with column count (measured on 632 columns ×
        8k rows, local[32]: 60.9 s for the max-per-column agg vs 0.17 s
        here — NumPy ``max`` per block, scalars to the driver).
        """
        import math

        cols = self.cols

        # Executor-side tree fold, not collect(): per-partition stat rows
        # are n_cols floats each, so a plain collect is
        # n_partitions × n_cols × 8 B on the driver — ~500 MB at a
        # 100 TB-shape 100k partitions × 632 columns.  treeReduce folds
        # them to ONE row; elementwise max and integer count sums are
        # associative/commutative, so the fold order cannot change the
        # result.  A NaN partial from a NON-empty block means the column
        # holds NULLs there (Arrow promotes nullable ints to float,
        # NaN-filled; np.max propagates it) — tracked as an explicit
        # boolean mask, NEVER folded through max() (max(1.0, nan)=1.0
        # but max(nan, 1.0)=nan: order-dependent, the r8 advisor find).
        def stat(blk):
            maxes = np.full(len(cols), -np.inf)
            nan_mask = np.zeros(len(cols), dtype=bool)
            for i, c in enumerate(cols):
                a = blk[c]
                if a.size:
                    m = float(a.max())
                    if math.isnan(m):
                        nan_mask[i] = True
                    else:
                        maxes[i] = m
            return maxes, nan_mask, len(blk[cols[0]])

        def merge(a, b):
            return np.maximum(a[0], b[0]), a[1] | b[1], a[2] + b[2]

        empty_msg = (
            "cannot derive dims: input is empty or columns are all-NULL "
            f"or NULL-bearing: {cols}"
        )
        # Two-regime fold (r12, guide §2.4): treeReduce inserts a shuffle
        # fold round whenever partitions > ~4, i.e. a second STAGE per
        # dims call — measured +0.3-0.5 s at 10 partitions on local[32]
        # for stat rows of 33 floats.  Up to a bounded driver volume
        # (n_partitions × n_cols × 16 B ≤ 64 MB, i.e. ~128k partitions at
        # 33 cols / ~6.7k at 632 cols) collecting the per-block rows and
        # reducing on the driver — one stage, or no job at all for the
        # driver-held block — is strictly cheaper; beyond it the tree
        # fold keeps the driver volume flat.  Identical results either
        # way: elementwise max / or / int sum are associative and
        # commutative (NaN travels in the mask, never through max).
        if self.n_partitions * len(cols) * 16 <= self.DRIVER_STATS_MAX_BYTES:
            parts = _map_blocks(self.rdd, stat)
            if not parts:
                # empty input packs to no blocks at all
                raise ValueError(empty_msg)
            maxes, nan_mask, n = functools.reduce(merge, parts)
        else:
            try:
                maxes, nan_mask, n = self.rdd.map(stat).treeReduce(merge)
            except ValueError:
                # treeReduce of an empty RDD raises — re-raise as the
                # dims contract error
                raise ValueError(empty_msg) from None
        null_cols = [c for i, c in enumerate(cols) if nan_mask[i]]
        if n == 0 or null_cols or not np.isfinite(maxes).all():
            raise ValueError(
                "cannot derive dims: input is empty or columns are all-NULL "
                f"or NULL-bearing: {null_cols or cols}"
            )
        dims = {c: int(maxes[i]) + 1 for i, c in enumerate(cols)}
        over = {c: d for c, d in dims.items() if d > cap}
        if over:
            # raise, don't clamp: clamped dims would let out-of-range
            # values ALIAS into neighboring histogram cells downstream
            raise ValueError(
                f"feature values exceed the byte range (dim>{cap}): {over}"
            )
        return dims, n

    def dims_count_hist2d(
        self, y_col: str, cap: int = 256
    ) -> tuple[dict[str, int], int, dict[str, np.ndarray] | None]:
        """ONE pass fusing :meth:`dims_and_count` with the stage-2
        relevance histograms (r12, guide §1.2: remove whole passes —
        dims + relevances were two full scans of the packed blocks).

        Returns ``(dims, n, h2)`` where ``h2`` maps every non-label
        column to its global ``(dims[c], y_dim)`` int64 contingency
        table vs ``y_col`` — or ``h2 = None`` when any block declined to
        histogram (its tables would exceed its share of the driver-merge
        budget, or it holds out-of-contract values that only the stats
        pass can report cleanly); the caller then falls back to
        :meth:`relevances` with the dims already in hand, i.e. worst
        case costs what the unfused flow always cost.

        Exactness: each block bincounts ``x·y_loc + y`` with its own
        LOCAL dims and the driver pads the 2-D tables into the global
        ``(dims[c], y_dim)`` accumulators — per-cell integer sums,
        bit-identical to :meth:`relevances`' global-dims bincount
        (pinned by tests).  Error contract is :meth:`dims_and_count`'s,
        raised from the same driver-side checks on the merged stats.

        Caller gate: only sensible in the bounded-partition regime
        (collected stats + tables ≤ the driver-merge budget); at 100 TB
        partition counts the caller keeps the treeReduce dims pass.
        """
        import math

        cols = self.cols
        feats = [c for c in cols if c != y_col]
        per_part_budget = max(
            histogram.BLOB_DRIVER_MERGE_MAX_BYTES // max(self.n_partitions, 1), 1
        )

        def stat_hist(blk):
            maxes = np.full(len(cols), -np.inf)
            nan_mask = np.zeros(len(cols), dtype=bool)
            clean = True
            for i, c in enumerate(cols):
                a = blk[c]
                if a.size:
                    m = float(a.max())
                    if math.isnan(m):
                        nan_mask[i] = True
                        clean = False
                    else:
                        maxes[i] = m
                        # out-of-contract values (negative or >= cap)
                        # must surface through the driver's stat checks,
                        # never a raw bincount failure here
                        if m >= cap or float(a.min()) < 0:
                            clean = False
                else:
                    clean = False
            nrows = len(blk[cols[0]])
            tables = None
            if clean and nrows:
                check_int32_rows(nrows)
                y = blk[y_col].astype(np.int64)
                y_loc = int(y.max()) + 1
                est = 0
                tabs: list[tuple[int, np.ndarray]] | None = []
                for c in feats:
                    x = blk[c]
                    xd_loc = int(x.max()) + 1
                    est += xd_loc * y_loc * 4
                    if est > per_part_budget:
                        tabs = None
                        break
                    tabs.append(
                        (
                            xd_loc,
                            np.bincount(
                                x.astype(np.int64) * y_loc + y,
                                minlength=xd_loc * y_loc,
                            ).astype(np.int32),
                        )
                    )
                if tabs is not None:
                    tables = (y_loc, tabs)
            return maxes, nan_mask, nrows, tables

        parts = _map_blocks(self.rdd, stat_hist)
        if not parts:
            raise ValueError(
                "cannot derive dims: input is empty or columns are all-NULL "
                f"or NULL-bearing: {cols}"
            )
        maxes = np.full(len(cols), -np.inf)
        nan_mask = np.zeros(len(cols), dtype=bool)
        n = 0
        for m_, nm_, nr_, _ in parts:
            maxes = np.maximum(maxes, m_)
            nan_mask |= nm_
            n += nr_
        null_cols = [c for i, c in enumerate(cols) if nan_mask[i]]
        if n == 0 or null_cols or not np.isfinite(maxes).all():
            raise ValueError(
                "cannot derive dims: input is empty or columns are all-NULL "
                f"or NULL-bearing: {null_cols or cols}"
            )
        dims = {c: int(maxes[i]) + 1 for i, c in enumerate(cols)}
        over = {c: d for c, d in dims.items() if d > cap}
        if over:
            raise ValueError(
                f"feature values exceed the byte range (dim>{cap}): {over}"
            )
        if any(p[3] is None for p in parts):
            return dims, n, None
        y_dim = dims[y_col]
        h2 = {c: np.zeros((dims[c], y_dim), dtype=np.int64) for c in feats}
        for _, _, _, (y_loc, tabs) in parts:
            for c, (xd_loc, flat) in zip(feats, tabs):
                h2[c][:xd_loc, :y_loc] += flat.reshape(xd_loc, y_loc)
        return dims, n, h2

    def validate_byte_range(self, cols: list[str]) -> list[str]:
        """Columns violating the non-null-integer-in-[0,255] contract —
        the selector's opt-in ``validate`` check
        (``InfoSelector.scala:404-416``).  One pass; NULLs arrive as NaN
        through Arrow's null→float promotion."""
        cols = list(cols)

        def check(blk):
            bad = []
            for c in cols:
                a = blk[c]
                if a.size == 0:
                    continue
                if a.dtype.kind == "f":
                    # Arrow promotes nullable ints to float; NaN is a NULL
                    if np.isnan(a).any() or np.any(a % 1 != 0):
                        bad.append(c)
                        continue
                if a.min() < 0 or a.max() > 255:
                    bad.append(c)
            return bad

        if self.local:
            seen = set().union(*_map_blocks(self.rdd, check))
        else:
            # executor-side set-union fold: one small set reaches the
            # driver regardless of partition count (same discipline as
            # dims_and_count's treeReduce); treeAggregate's zero value
            # covers the empty-RDD case in the SAME single job
            seen = self.rdd.treeAggregate(
                set(), lambda a, blk: a | set(check(blk)), lambda a, b: a | b
            )
        return [c for c in cols if c in seen]

    def rebalance(
        self,
        n_partitions: int,
        rows_per_partition: int,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> "PackedMatrix":
        """Re-layout the blocks to ``n_partitions`` without touching the
        source.  Consolidating (fewer partitions) is a shuffle-free
        ``coalesce`` + per-partition concat; splitting (more partitions,
        the parallelism-starved case) chunks each block into
        ≤``rows_per_partition``-row pieces at the NumPy level and
        shuffles the pickled chunks.  Exactness is untouched — histogram
        merges are partition-agnostic integer sums.  The old RDD is
        unpersisted; a new materialized PackedMatrix returns."""
        cols = self.cols

        def concat(chunks):
            got = list(chunks)
            if got:
                yield {
                    c: (got[0][c] if len(got) == 1 else np.concatenate([g[c] for g in got]))
                    for c in cols
                }

        if n_partitions < self.n_partitions:
            rdd = self.rdd.coalesce(n_partitions).mapPartitions(concat).persist(storage_level)
        else:
            def split(blk):
                nrows = len(blk[cols[0]])
                step = max(1, rows_per_partition)
                if nrows <= step:
                    yield blk
                    return
                for lo in range(0, nrows, step):
                    yield {c: blk[c][lo : lo + step] for c in cols}

            rdd = (
                self.rdd.flatMap(split)
                .repartition(n_partitions)
                .mapPartitions(concat)
                .persist(storage_level)
            )
        rdd.count()
        self.unpersist()
        return PackedMatrix(
            rdd, cols, rdd.getNumPartitions(), n_rows=self.n_rows, n_bytes=self.n_bytes
        )

    # -- histograms --------------------------------------------------------

    def relevances(
        self,
        feature_cols: list[str],
        y_col: str,
        dims: dict[str, int],
        n: int,
        emit_f32: bool = True,
    ) -> dict[str, float]:
        """MI(x; y) for every feature in one pass — the packed twin of
        ``hist2d`` + ``collect_hist2d`` + ``mutual_info`` (stage 2 of the
        fit; ``InfoTheory.scala:413-432``).

        Per-feature 2-D tables are small (``xd × y_dim`` ints), but the
        collected volume is ``n_partitions × Σxd × y_dim × 4`` — unbounded
        in partition count — so the tables go through
        :func:`_merge_partials` with MI as the finalize step."""
        from flink_infotheoretic_feature_selection_spark.functions.infotheory import mutual_info

        feats = list(feature_cols)
        y_dim = dims[y_col]
        xd = [dims[c] for c in feats]

        def partials(blk):
            # int32 partial emit: the collected volume then matches the
            # 4 B/count est_bytes formula — raw int64 bincounts would put
            # 2× the documented bound on the driver.  Overflow safety is
            # proven once per block from its ROW COUNT (cells <= rows),
            # not by scanning each emitted table (r9: check_int32_rows)
            y = blk[y_col].astype(np.int64)
            check_int32_rows(len(y))
            return [
                np.bincount(
                    blk[c].astype(np.int64) * y_dim + y,
                    minlength=xd[fi] * y_dim,
                ).astype(np.int32)
                for fi, c in enumerate(feats)
            ]

        merged = _merge_partials(
            self.rdd,
            partials,
            len(feats),
            self.n_partitions * sum(xd) * y_dim * 4,
            lambda fi, acc: mutual_info(acc.reshape(xd[fi], y_dim), n, emit_f32=emit_f32),
        )
        # empty matrix → no blocks → zero histograms, like collect_hist2d
        return {c: merged.get(fi, 0.0) for fi, c in enumerate(feats)}

    def hist3d_mi_cmi_multi(
        self,
        feature_cols: list[str],
        y_cols: list[str],
        z_col: str,
        dims: dict[str, int],
        n: int,
        emit_f32: bool = True,
    ) -> dict[str, dict[str, tuple[float, float]]]:
        """``{y_col: {feature: (MI(x;y), CMI(x;y|z))}}`` for SEVERAL
        conditioning columns in ONE job — the greedy loop's redundancy
        pass (``InfoTheory.scala:535-586``).  With one conditioning
        column it is the plain per-iteration pass; with more it also
        scores the likely next winners in the same launch (r13, guide
        §1.2: the loop's sequential job count is the cost).

        Each (feature, y) table is an exact integer merge of per-block
        bincounts, finalized by the same ``mi_and_cmi`` — so every
        returned pair is bit-identical whatever the batch width or merge
        regime (pinned by tests/test_packed.py).  The merge budget
        accounts for ALL conds together; past it the tables merge keyed
        by (cond, feature) and only scalars reach the driver."""
        from flink_infotheoretic_feature_selection_spark.functions.infotheory import mi_and_cmi

        feats = list(feature_cols)
        conds = list(y_cols)
        nf = len(feats)
        z_dim = dims[z_col]
        y_dims = [dims[s] for s in conds]
        xd = [dims[c] for c in feats]

        def partials(blk):
            # one pass over the block: per cond, the fused (y, z) code,
            # then per feature an int32 bincount (overflow proof: counts
            # <= rows); key si·nf + fi
            z = blk[z_col].astype(np.int64)
            check_int32_rows(len(z))
            out = []
            for si, s in enumerate(conds):
                yz_code = blk[s].astype(np.int64) * z_dim + z
                yz = y_dims[si] * z_dim
                out.extend(
                    np.bincount(
                        blk[c].astype(np.int64) * yz + yz_code,
                        minlength=xd[fi] * yz,
                    ).astype(np.int32)
                    for fi, c in enumerate(feats)
                )
            return out

        merged = _merge_partials(
            self.rdd,
            partials,
            nf * len(conds),
            self.n_partitions * sum(xd) * z_dim * 4 * sum(y_dims),
            lambda k, acc: mi_and_cmi(
                acc.reshape(xd[k % nf], y_dims[k // nf], z_dim), n, emit_f32=emit_f32
            ),
        )
        # empty matrix → no blocks → zero histograms, like collect_hist3d
        return {
            s: {c: merged.get(si * nf + fi, (0.0, 0.0)) for fi, c in enumerate(feats)}
            for si, s in enumerate(conds)
        }

