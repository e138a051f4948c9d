from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cimpy_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # One JVM serves the whole suite. At get_spark's 24g default heap
    # its resident size keeps growing (measured: past 12 GB near the
    # end of the suite on a 4-core, 15 GiB box, where the OS then kills
    # it and every later test fails); the fixtures peak near 5 GB
    # under a 6g cap. An explicit SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("cimpy-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
