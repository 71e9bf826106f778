from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from fileverification_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The session's default 16g heap is as large as a 16 GB host. A test
    # whose plan string outgrows memory (the 8-iteration pagerank in
    # test_graph.py) then gets the whole JVM killed by the kernel, and
    # every later test fails; under a 6g heap it fails alone, with a Java
    # OutOfMemoryError.
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_small(spark):
    from fileverification_spark.sources import pages as P

    return P.pages_with_derived(spark, SF0001).cache()
