import os

import pytest

from flink_infotheoretic_feature_selection_spark.session import get_spark

# Bound the test session's driver heap (and that of the subprocesses the
# tests spawn, which inherit the environment).  Under the package's 48 g
# default, G1 grows the heap lazily over the whole suite: on a 4-vCPU,
# 15 GB host the driver JVM reached 13 GB RSS and the kernel OOM-killed
# it partway through, failing every later test with ConnectionRefused.
# Every test's working set fits in a few GB; an explicit
# SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="module", autouse=True)
def _release_spark_caches():
    """Release, after each module, what its tests left persisted: cached
    DataFrames and persisted RDDs (the gate sweeps leave about 40 for the
    rest of the session otherwise).  Autouse module fixtures are set up
    before, and so torn down after, the module's own module-scoped
    fixtures, which release their caches themselves first.  A module that
    never started Spark does not start it here."""
    yield
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    SparkSession.builder.getOrCreate().catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
