"""Stage-3 canonicalization tests (reference semantics: cross-profile
object merge keyed by UUID, cimpy/cimimport.py:215-231, generalized
to transitive sameAs components)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cimpy_spark.operators.canonicalize import canonical_map


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


def test_long_chain_converges(spark):
    """Adversarial chain of length 40 — exercises the iteration bound.

    Min-label propagation needs O(chain length) rounds; assert it
    still reaches the fixpoint within the bound (SURVEY.md §7 risk a).
    small_threshold=0 forces the DISTRIBUTED loop (the default would
    take the driver union-find fast path at this size).
    """
    n = 40
    ents = _df(spark, [(f"v{i:02d}",) for i in range(n)], "entity_id string")
    links = _df(
        spark,
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)],
        "src string, dst string",
    )
    # default max_iter: pointer jumping must converge in O(log n)
    cm = canonical_map(ents, links, small_threshold=0)
    assert (
        cm.filter(F.col("canonical_id") != "v00").count() == 0
    )


def test_small_and_distributed_cc_paths_identical(spark):
    """The driver union-find fast path and the pointer-jumping loop
    must produce byte-identical labelings — including labels for
    undeclared alias endpoints (the lossless contraction contract)."""
    from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
    from cimpy_spark.operators.canonicalize import canonical_labels
    from cimpy_spark.operators.extract import extract_triples
    from cimpy_spark.operators.link import declared_entities
    from cimpy_spark.pipeline import same_links
    from tests.conftest import SF_TINY

    triples = extract_triples(transcripts_from_events(spark, SF_TINY)).cache()
    ents = declared_entities(triples).select("entity_id")
    links = same_links(triples)
    fast = {
        (r["entity_id"], r["canonical_id"])
        for r in canonical_labels(ents, links).collect()  # fast path
    }
    loop = {
        (r["entity_id"], r["canonical_id"])
        for r in canonical_labels(ents, links, small_threshold=0).collect()
    }
    assert fast == loop and len(fast) > 0
    triples.unpersist()
