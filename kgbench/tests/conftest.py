from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
# Python workers import cimpy_spark too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("eventlog")


@pytest.fixture(scope="session")
def spark(event_log_dir):
    from cimpy_spark.session import get_spark

    s = get_spark(
        "kgbench-tests",
        cores=2,
        shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    yield s
    s.stop()
