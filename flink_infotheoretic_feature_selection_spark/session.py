"""SparkSession factory tuned for the local[N] harness.

The settings mirror what a 1000-executor deployment would want where the
two agree (AQE on, Arrow on, UTC timestamps) and pin local-specific knobs
(shuffle partitions ~ cores, big driver heap) only where local mode needs
them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "flink_infotheoretic_feature_selection_spark", cpus: str | int | None = None) -> SparkSession:
    """Return (or create) the process-wide SparkSession."""
    cpus = str(cpus or _DEF_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.reuse", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class conf_clamp:
    """Temporarily set a RUNTIME SQL conf, restoring the prior value on
    exit.  Only for value-neutral knobs (batch sizes, partition counts)
    — never anything that changes query semantics.  Exists so operators
    can tune the session they are handed (the driver gate constructs its
    own session without our confs) without leaking the change."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, str(value)

    def __enter__(self):
        try:
            self.old = self.spark.conf.get(self.key)
        except Exception:
            self.old = None
        self.spark.conf.set(self.key, self.value)
        return self

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set(self.key, self.old)
        else:
            self.spark.conf.unset(self.key)
        return False


# spread_starved_scan decisions keyed by (cache_key, parallelism,
# min_ratio) — the RDD-conversion split probe costs a driver-side plan
# conversion per call (ADVICE r12), pointless to repeat for an immutable
# input path queried by every gate invocation.
_SPREAD_DECISION_CACHE: dict[tuple, int] = {}


def spread_starved_scan(df, min_ratio: int = 2, cache_key: str | None = None):
    """Round-robin repartition a parallelism-STARVED scan to the
    session's default parallelism (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    The single-row-group small-file case leaves the whole scan STAGE —
    and every row-local expression fused into it — on one task; at any
    real scale the scan has >= cores partitions and this helper is the
    identity, so nothing is coalesced or shuffled on big inputs.  The
    exchange it introduces on the starved case carries the scan's rows
    once (small by construction: the input fit one task).

    ONLY for queries whose output is partition-independent: row-local
    expressions, exact integer aggregation, rank windows with
    deterministic tiebreaks.  Order-sensitive float aggregations (e.g.
    label_centroids' avg of vector components) must keep the raw scan —
    round-robin placement changes their fold order.

    ``cache_key`` — pass a stable identifier (e.g. the parquet path) to
    memoize the split-count probe, which otherwise converts the plan to
    an RDD on every call (driver-side overhead per gate invocation —
    ADVICE r12).  ONLY for inputs whose file layout is immutable for the
    process lifetime; a path whose files change between calls must keep
    the default re-probe.  The probe is the RDD conversion's partition
    count — for a bare scan, the file-split count (AQE does not re-plan
    a bare scan's splits).  The cache is keyed on ``cache_key`` alone,
    NOT on the plan: a caller passing ``cache_key`` must pass the BARE
    scan of that path (``spark.read.parquet(path)``, no filter or
    projection).  A filtered or projected frame under the same key would
    reuse — or poison — the bare scan's cached split count, which is
    wrong for that frame.
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    key = (cache_key, p, min_ratio) if cache_key is not None else None
    nparts = _SPREAD_DECISION_CACHE.get(key) if key is not None else None
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        if key is not None:
            _SPREAD_DECISION_CACHE[key] = nparts
    if nparts * min_ratio < p:
        return df.repartition(p)
    return df
