"""Stage 2 — entity linking.

The reference resolves ``rdf:resource="#uuid"`` by O(1) dict lookup,
dropping (and counting) references whose target was never declared
(cimpy/cimimport.py:277-288). Distributed, the dict lookup becomes an
equi-join of reference triples against the declared-entity dictionary:

- default: plain equi-join, AQE converts to broadcast from runtime
  stats (the dictionary — distinct declared subjects — is tiny
  relative to the triple stream) so linking stays shuffle-free;
- explicit broadcast when the caller knows the row count (ledger);
- a **salted** shuffled hash join (``salted_join``) as the guarded
  fallback for the regime where the dictionary cannot broadcast AND
  hub entities (a few ids referenced from a large fraction of
  conversations) would pin one reducer — equivalence-tested, and
  measured to be pure overhead below that regime (BENCH.md).

Unresolved references go to a quarantine DataFrame with grouped counts
(cimpy/cimimport.py:281-288 analog), never an error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def declared_entities(triples: DataFrame) -> DataFrame:
    """Mention dictionary: (entity_id, type) of declared entities.

    First declaration wins the type (reference instantiates once per
    rdf:ID, cimpy/cimimport.py:141); deterministic election by
    (conv_id, turn_idx, mention_idx) using min_by on a struct — one
    shuffle on entity_id, map-side partial aggregation applies.
    """
    decls = triples.filter(F.col("pred") == "rdf_type")
    return decls.groupBy(F.col("subj").alias("entity_id")).agg(
        F.min_by("obj", F.struct("conv_id", "turn_idx", "mention_idx")).alias("type")
    )


def declared_entities_keyed(triples: DataFrame) -> DataFrame:
    """`declared_entities` plus the WINNING election key
    (conv_id, turn_idx, mention_idx).

    The key columns are part of the committed `entities` stage layout
    (first-wins provenance of each declaration); linking and
    canonicalization read only ``entity_id``. One struct-min keeps it
    a single hash aggregation."""
    decls = triples.filter(F.col("pred") == "rdf_type")
    w = F.min(
        F.struct("conv_id", "turn_idx", "mention_idx", F.col("obj").alias("type"))
    ).alias("w")
    return (
        decls.groupBy(F.col("subj").alias("entity_id"))
        .agg(w)
        .select(
            "entity_id", "w.type", "w.conv_id", "w.turn_idx", "w.mention_idx"
        )
    )


def resolve_references(
    triples: DataFrame,
    entities: DataFrame,
    broadcast_dict: bool | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Single linking pass: every ref-kind triple, flagged
    ``resolved`` iff its target exists in the entity dictionary —
    (src, pred, dst, resolved). One join serves BOTH the edge set and
    the quarantine (computing them as separate semi/anti joins would
    run the full refs⋈dictionary join twice over the corpus).

    Physical strategy, tri-state:
    - ``broadcast_dict=True`` (callers with a known row count, e.g.
      the materialized path's ledger): explicit broadcast —
      shuffle-free linking;
    - ``broadcast_dict=False``: salted shuffled join so hub entities
      don't pin one reducer;
    - ``broadcast_dict=None`` (default): plain equi-join, letting AQE
      pick broadcast vs shuffled from RUNTIME statistics — no eager
      count() job at plan-build time (the dictionary side is a
      one-column aggregate output, exactly what AQE's
      auto-broadcast-conversion is for; skewed shuffled joins are
      covered by AQE skew-join splitting).

    All paths are semantically identical (tested).
    """
    refs = triples.filter(
        (F.col("obj_kind") == "ref") & (F.col("pred") != "sameAs")
    ).select(
        F.col("subj").alias("src"), "pred", F.col("obj").alias("dst")
    )
    dict_df = entities.select(F.col("entity_id").alias("dst")).withColumn(
        "__hit", F.lit(1)
    )
    if broadcast_dict is None:
        joined = refs.join(dict_df, "dst", "left")  # AQE decides
    elif broadcast_dict:
        joined = refs.join(F.broadcast(dict_df), "dst", "left")
    else:
        joined = salted_join(refs, dict_df, "dst", salt_buckets, "left")
    return joined.select(
        "src", "pred", "dst", F.col("__hit").isNotNull().alias("resolved")
    )


def edges_from_resolved(resolved: DataFrame) -> DataFrame:
    """Distinct resolved (src, pred, dst) — dedupe mirrors the
    reference's append-with-dedupe for many-valued references
    (cimpy/cimimport.py:294-300)."""
    return (
        resolved.filter(F.col("resolved"))
        .dropDuplicates(["src", "pred", "dst"])
        .select("src", "pred", "dst")
    )


def quarantine_from_resolved(resolved: DataFrame) -> DataFrame:
    """Dangling references with grouped counts
    (cimpy/cimimport.py:281-288)."""
    return (
        resolved.filter(~F.col("resolved"))
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def link_references(
    triples: DataFrame,
    entities: DataFrame,
    broadcast_dict: bool | None = None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Convenience wrapper: (edges, quarantine) views over ONE
    resolve_references pass."""
    resolved = resolve_references(
        triples, entities, broadcast_dict, salt_buckets
    )
    return edges_from_resolved(resolved), quarantine_from_resolved(resolved)


def reverse_edges(edges: DataFrame) -> DataFrame:
    """Derived reverse edges by projection swap — no stored reverse
    state, no join (reference maintains bidirectional pointers
    imperatively, cimpy/cimimport.py:313-332)."""
    return edges.select(
        F.col("dst").alias("src"),
        F.concat(F.lit("rev_"), F.col("pred")).alias("pred"),
        F.col("src").alias("dst"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side's key, replicate the
    small side across salt buckets, join on (key, salt).

    Used when the entity dictionary is too large to broadcast and hot
    entities (hub mentions) would skew a plain shuffled join. The salt
    on the big side is a deterministic hash of the whole row's key +
    a per-row uniform component via ``pmod(xxhash64(...), buckets)``.
    """
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt_buckets))
    )
    salted_small = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt_buckets).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")
