"""Stage-3 canonicalization tests (reference semantics: cross-profile
object merge keyed by UUID, cimpy/cimimport.py:215-231, generalized
to transitive sameAs components)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cimpy_spark.operators import canonicalize
from cimpy_spark.operators.canonicalize import canonical_labels, canonical_map


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_chain_merges_to_min(spark):
    ents = _df(spark, [("E1",), ("E2",), ("E3",), ("E9",)], "entity_id string")
    links = _df(spark, [("E3", "E2"), ("E2", "E1")], "src string, dst string")
    got = {
        r["entity_id"]: r["canonical_id"]
        for r in canonical_map(ents, links).collect()
    }
    assert got == {"E1": "E1", "E2": "E1", "E3": "E1", "E9": "E9"}


def test_cycle_and_self_loop(spark):
    ents = _df(spark, [("a",), ("b",), ("c",)], "entity_id string")
    links = _df(
        spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "a")],
        "src string, dst string",
    )
    got = {
        r["entity_id"]: r["canonical_id"]
        for r in canonical_map(ents, links).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a"}


def _chain_labels(spark, ids):
    """canonical_map over the chain ids[0] - ids[1] - ... as
    {entity_id: canonical_id}."""
    ents = _df(spark, [(v,) for v in ids], "entity_id string")
    links = _df(spark, list(zip(ids, ids[1:])), "src string, dst string")
    return {
        r["entity_id"]: r["canonical_id"]
        for r in canonical_map(ents, links).collect()
    }


def _multi_round(monkeypatch, links_per_task):
    """Force the contraction loop: a budget below the link count splits
    round one over several union-find tasks."""
    monkeypatch.setattr(canonicalize, "LINKS_PER_TASK", links_per_task)


def test_long_chain_converges(spark, monkeypatch):
    """Chain of length 40 with rising ids, split over ~8 union-find
    tasks per round — exercises the contraction rounds and their
    bound (SURVEY.md §7 risk a)."""
    _multi_round(monkeypatch, 10)
    got = _chain_labels(spark, [f"v{i:02d}" for i in range(40)])
    assert set(got.values()) == {"v00"} and len(got) == 40


@pytest.mark.parametrize("links_per_task", [canonicalize.LINKS_PER_TASK, 20])
def test_shuffled_chain_converges(spark, monkeypatch, links_per_task):
    """A 100-vertex chain whose ids are shuffled: the minimum sits
    mid-chain, so a label must travel both ways. One round and forced
    contraction rounds both label every vertex with the minimum."""
    ids = [f"v{i:03d}" for i in range(100)]
    random.Random(0).shuffle(ids)
    _multi_round(monkeypatch, links_per_task)
    got = _chain_labels(spark, ids)
    assert set(got.values()) == {"v000"} and len(got) == 100


@pytest.mark.parametrize("order", ["shuffled", "monotone"])
def test_large_chain_converges_over_rounds(spark, monkeypatch, order):
    """10^5-vertex chains, ten union-find tasks in round one: shuffled
    ids contract fast; rising ids are the slow case for local roots
    (each task only sees a vertex's neighbours)."""
    n = 100_000
    ids = [f"v{i:06d}" for i in range(n)]
    if order == "shuffled":
        random.Random(0).shuffle(ids)
    _multi_round(monkeypatch, 20_000)
    ents = _df(spark, [(v,) for v in ids], "entity_id string")
    links = _df(spark, list(zip(ids, ids[1:])), "src string, dst string")
    got = canonical_map(ents, links).groupBy("canonical_id").count().collect()
    assert [(r["canonical_id"], r["count"]) for r in got] == [("v000000", n)]


def test_star_with_largest_hub(spark, monkeypatch):
    """A 49,999-leaf star whose hub has the LARGEST id: the hub's task
    roots every leaf at the smallest leaf, and every other task roots
    its leaf at itself, so round one contracts to a new star."""
    n = 50_000
    hub, leaves = f"v{n - 1:05d}", [f"v{i:05d}" for i in range(n - 1)]
    _multi_round(monkeypatch, 20_000)
    ents = _df(spark, [(v,) for v in leaves + [hub]], "entity_id string")
    links = _df(spark, [(hub, v) for v in leaves], "src string, dst string")
    got = canonical_map(ents, links).groupBy("canonical_id").count().collect()
    assert [(r["canonical_id"], r["count"]) for r in got] == [("v00000", n)]


def test_round_bound_raises(spark, monkeypatch):
    """Running out of rounds fails loudly instead of returning a
    partial labeling."""
    _multi_round(monkeypatch, 10)
    monkeypatch.setattr(canonicalize, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _chain_labels(spark, [f"v{i:02d}" for i in range(40)])


def test_one_round_multi_round_and_oracle_cc_agree(spark, monkeypatch):
    """One union-find task, forced contraction rounds and the reference
    oracle's union-find produce the same labeling on SF_TINY —
    including labels for undeclared alias endpoints (the lossless
    contraction contract)."""
    from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
    from cimpy_spark.operators.extract import extract_triples
    from cimpy_spark.operators.link import declared_entities
    from cimpy_spark.oracle import _UnionFind
    from cimpy_spark.pipeline import same_links
    from tests.conftest import SF_TINY

    triples = extract_triples(transcripts_from_events(spark, SF_TINY)).cache()
    ents = declared_entities(triples).select("entity_id")
    links = same_links(triples)

    def labels():
        return {
            (r["entity_id"], r["canonical_id"])
            for r in canonical_labels(ents, links).collect()
        }

    one_round = labels()
    pairs = [(r["src"], r["dst"]) for r in links.collect()]
    _multi_round(monkeypatch, max(1, len(pairs) // 4))
    multi_round = labels()
    uf = _UnionFind()
    for r in ents.collect():
        uf.find(r["entity_id"])
    for a, b in pairs:
        uf.union(a, b)
    oracle = {(v, uf.find(v)) for v in list(uf.parent)}
    assert one_round == multi_round == oracle and len(pairs) > 8
    triples.unpersist()
