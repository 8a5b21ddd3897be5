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
