"""The scale harness (`scaling_bench.py`) at its smallest scale over
the sf0.001 fixture: every registry entry runs once in process and
returns a time and a hash, and every input builder is deterministic
(staging it twice gives the same hash). About 140 s on four cores,
hence `slow`."""

from __future__ import annotations

import pytest

import scaling_bench as SB
from tests.conftest import SF_TINY

pytestmark = pytest.mark.slow

SIZES = SB.Sizes().scaled(SB.MIN_SCALE)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    roots = [str(tmp_path_factory.mktemp(r)) for r in ("first", "second")]
    return {
        name: [SB.stage(spark, name, SIZES, root, SF_TINY) for root in roots]
        for name in SB.INPUTS
    }


@pytest.mark.parametrize("name", SB.INPUTS)
def test_input_staged_twice_has_one_hash(staged, name):
    first, second = staged[name]
    assert SB.rows(name, first) > 0
    assert SB.input_hash(first) == SB.input_hash(second)


@pytest.mark.parametrize("name", SB.REGISTRY)
def test_entry_returns_time_and_hash(spark, staged, tmp_path, name):
    lv = SB.Level(spark, spark.sparkContext.defaultParallelism, SIZES, str(tmp_path))
    sec, h, n = SB.timed(lv, name, staged[SB.REGISTRY[name].input][0])
    assert sec > 0
    assert isinstance(h, int) and n > 0
