"""Graph-transform utilities — the Spark-first re-expression of the
reference's model-editing layer:

- `node_breaker_to_bus_branch` (cimpy/utils.py:6-88): select entities
  by type+predicate, collect a delete-set, bulk-delete nodes/edges →
  here `select_entities` + `delete_entities` (anti-joins, SO1/SO2);
  its switch-closure side ("connect nodes across closed breakers")
  is `contract_edges` (components over the matched edge set, then
  endpoint rewrite).
- scenario builders (`CIMScenarios.py:6-543` add_ACLineSegment /
  add_Terminal / ...): row-constructor helpers producing node/edge
  DataFrames unioned into the graph, with deterministic surrogate ids
  (xxhash64) instead of the reference's sequential collision-suffix
  scan (cimpy/utils.py:103-108 — an O(n) driver loop we never do).

All transforms are DataFrame→DataFrame; deletes are anti-joins, never
row-at-a-time mutation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cimpy_spark.operators.canonicalize import canonical_edges, canonical_map


def select_entities(nodes: DataFrame, attr: str, value) -> DataFrame:
    """Entity ids whose long-format attr matches (P8/P9 analog:
    class/attribute predicates like 'open & non-retained breakers',
    cimpy/utils.py:17-39). Returns a 1-column `entity_id` frame."""
    return (
        nodes.filter((F.col("attr") == attr) & (F.col("value") == value))
        .select("entity_id")
        .distinct()
    )


def delete_entities(
    nodes: DataFrame, edges: DataFrame, ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Bulk-delete a set of entities and every edge touching them
    (cimpy/utils.py:80-84 `del_list` + `del res[key]` as anti-joins).
    `ids`: 1-column `entity_id` frame, broadcast (delete-sets are
    small relative to the graph)."""
    ids_b = F.broadcast(ids.select("entity_id").distinct())
    nodes2 = nodes.join(ids_b, "entity_id", "left_anti")
    edges2 = edges.join(
        ids_b.select(F.col("entity_id").alias("src")), "src", "left_anti"
    ).join(ids_b.select(F.col("entity_id").alias("dst")), "dst", "left_anti")
    return nodes2, edges2.select("src", "pred", "dst")


def contract_edges(edges: DataFrame, pred: str, cmap_rows: int | None = 0) -> DataFrame:
    """Contract every edge with predicate `pred`: its endpoints merge
    into one entity (min-id election), remaining edges are rewritten
    to the merged endpoints and self-loops dropped — the bus-branch
    reduction's "closed switch joins two topological nodes" step.

    Reuses the canonicalization engine (connected components over the
    contracted edge set)."""
    # whole-predicate contraction: `remaining` is a FILTER, not an
    # anti-join — at scale a predicate filter pushes to the scan while
    # a triple anti-join would shuffle the full edge set
    return contract_edge_set(
        edges,
        edges.filter(F.col("pred") == pred),
        cmap_rows,
        remaining=edges.filter(F.col("pred") != pred),
    )


def contract_edge_set(
    edges: DataFrame,
    to_contract: DataFrame,
    cmap_rows: int | None = 0,
    remaining: DataFrame | None = None,
) -> DataFrame:
    """Contract an EXPLICIT edge subset (not a whole predicate class):
    the generalization `bus_branch` needs, where only the closed
    breakers' edges are switches while other same-predicate edges are
    ordinary and must survive the rewrite. `remaining` overrides the
    default (edges ∖ to_contract by triple anti-join) when the caller
    can express the complement as a pushdown-able filter."""
    endpoints = (
        to_contract.select(F.col("src").alias("entity_id"))
        .union(to_contract.select(F.col("dst").alias("entity_id")))
        .union(edges.select(F.col("src").alias("entity_id")))
        .union(edges.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    cmap = canonical_map(endpoints, to_contract.select("src", "dst"))
    if remaining is None:
        remaining = edges.join(
            to_contract.select("src", "pred", "dst"),
            ["src", "pred", "dst"],
            "left_anti",
        )
    return canonical_edges(remaining, cmap, cmap_rows).filter(
        F.col("src") != F.col("dst")
    )


def bus_branch(
    nodes: DataFrame,
    edges: DataFrame,
    breaker_type: str = "T1",
    open_attr: str = "p_bool",
    open_value: str = "true",
    contract_pred: str = "controls",
) -> DataFrame:
    """The full bus-branch reduction as ONE composition — the
    reference's `node_breaker_to_bus_branch` (cimpy/utils.py:6-88)
    end-to-end rather than its three pieces separately:

    1. select the open breakers: entities of `breaker_type` whose
       elected `open_attr` equals `open_value` (utils.py:17-39 —
       'open breaker' predicate as a semi-join of two attribute
       selections),
    2. bulk-delete them and every incident edge (utils.py:80-84
       del_list → anti-joins),
    3. contract the CLOSED breakers' `contract_pred` edges — only
       switch equipment joins topological nodes (utils.py:41-78
       'connect nodes across closed switches'); `contract_pred` edges
       of non-breaker entities are ordinary and survive the rewrite.
       Switch endpoints merge to min-id component labels, surviving
       edges are rewritten to the merged endpoints, self-loops
       dropped.

    Output: the reduced (src, pred, dst) edge set. Invariants (pinned
    by test, reference analog utils.py:80-88): no surviving edge
    references a deleted open breaker, and no closed-breaker switch
    edge survives as itself.

    Scale shape: breaker selections are tiny dimension frames —
    broadcast into the semi/anti joins; contraction reuses the shared
    CC operator, which shuffles only the switch edge set, never the
    corpus."""
    breakers = select_entities(nodes, "rdf_type", breaker_type)
    open_ids = breakers.join(
        select_entities(nodes, open_attr, open_value), "entity_id", "left_semi"
    )
    closed_ids = breakers.join(open_ids, "entity_id", "left_anti")
    _, kept = delete_entities(nodes, edges, open_ids)
    switches = kept.filter(F.col("pred") == contract_pred).join(
        F.broadcast(closed_ids.select(F.col("entity_id").alias("src"))),
        "src",
        "left_semi",
    )
    return contract_edge_set(kept, switches)


def add_entities(
    nodes: DataFrame, new_attrs: list[tuple[str, str, str]]
) -> DataFrame:
    """Scenario builder: union new long-format (entity_id, attr,
    value) rows into the node table (CIMScenarios add_* analog).
    Existing (entity_id, attr) rows win (first-wins merge)."""
    spark = nodes.sparkSession
    new_df = spark.createDataFrame(new_attrs, "entity_id string, attr string, value string")
    fresh = new_df.join(
        nodes.select("entity_id", "attr"), ["entity_id", "attr"], "left_anti"
    )
    return nodes.unionByName(fresh)


def add_edges(edges: DataFrame, new_edges: list[tuple[str, str, str]]) -> DataFrame:
    """Scenario builder: union + dedupe (the reference's append-with-
    dedupe list semantics, cimpy/cimimport.py:294-300)."""
    spark = edges.sparkSession
    new_df = spark.createDataFrame(new_edges, "src string, pred string, dst string")
    return edges.unionByName(new_df).dropDuplicates(["src", "pred", "dst"])


def surrogate_ids(df: DataFrame, cols: list[str], prefix: str = "S") -> DataFrame:
    """Deterministic surrogate id from content hash — replaces the
    reference's sequential name-collision suffix loop
    (cimpy/utils.py:103-108, an O(n) scan per insert)."""
    return df.withColumn(
        "surrogate_id",
        F.concat(F.lit(prefix), F.pmod(F.xxhash64(*cols), F.lit(10**12)).cast("string")),
    )


def graph_diff(edges_old: DataFrame, edges_new: DataFrame) -> DataFrame:
    """Snapshot diff between two edge sets — the audit/debug view of
    every graph transform and of incremental maintenance (what did
    this contraction/deletion/ingest actually change): distinct
    triples only in the new set are 'added', only in the old set
    'removed'. Output: (src, pred, dst, change).

    Two anti-joins on the full triple key, both sides deduped first —
    edge-partitioned, no fan-out; at cluster scale both snapshots
    shuffle once on the same key so the joins co-locate. The same
    shape diffs ANY two materialized snapshots (the lineage ledger's
    per-increment dirs make old snapshots directly readable)."""
    key = ["src", "pred", "dst"]
    o = edges_old.select(*key).distinct()
    n = edges_new.select(*key).distinct()
    added = n.join(o, key, "left_anti").withColumn("change", F.lit("added"))
    removed = o.join(n, key, "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)
