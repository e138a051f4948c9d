"""Stage 3 — canonicalization via connected components.

The reference merges objects that arrive from different profile files
under one UUID (cimpy/cimimport.py:215-231). Generalized to explicit
``sameAs`` links, the merge becomes connected components over the
same-entity graph; the canonical id of a component is its minimum
entity id (deterministic election, mirroring the reference's
min-priority profile pick, cimpy/cimexport.py:196-214).

Algorithm: local-then-global contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014). Each round
hash-partitions the symmetric links on ``a`` into
⌈rows / LINKS_PER_TASK⌉ partitions and runs a min-id union-find over
each partition in one Arrow task, emitting (vertex, local root). One
partition is the whole graph, so its roots are exact and the loop
stops — at today's link volumes the first round is the last, with no
driver collect. Otherwise each vertex takes the minimum of its local
roots, the running map is composed through it, and the next round
runs on the contracted links joining that minimum to the vertex's
other local roots. Every contracted link joins two vertices of one
component, and the component minimum is its own local root
everywhere, so labels are component minima whatever the partitioning.
Rounds are bounded and running out of them raises.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cimpy_spark.plans.checkpoints import checkpoint_df

# Sym-link rows one union-find task holds: 1M string pairs are tens of
# MB in a Python dict, and the link sets seen so far fit one task, so
# the first round is exact.
LINKS_PER_TASK = 1_000_000
MAX_ROUNDS = 25


def canonical_map(entities: DataFrame, same_links: DataFrame) -> DataFrame:
    """(entity_id, canonical_id) for every declared entity.

    `entities`: one row per declared entity (column ``entity_id``).
    `same_links`: (src, dst) sameAs pairs (directed, raw).

    ONE broadcast join against the endpoint map: the declared
    restriction drops undeclared-endpoint labels anyway, so the full
    lossless labeling is never materialized on this path.
    """
    ep_map, n_links = _components(_sym_links(same_links))
    return _declared_labels(entities, ep_map, n_links)


def canonical_labels(entities: DataFrame, same_links: DataFrame) -> DataFrame:
    """(entity_id, canonical_id) for EVERY vertex — declared entities
    and raw alias endpoints alike. This is the lossless contraction
    committed as the `cmap_full` stage; `canonical_map` is its
    restriction to declared entities."""
    ep_map, n_links = _components(_sym_links(same_links))
    # read three times below: the declared join, the semi and the anti
    ep_map = checkpoint_df(ep_map)
    declared = _declared_labels(entities, ep_map, n_links)
    # endpoint vertices that are ALSO declared already carry a label
    # above; subtract them without shuffling the big entities side
    # (broadcast semi to find the overlap, broadcast anti to remove it
    # — an anti join against `entities` directly would shuffle the
    # full dictionary)
    matched = entities.select("entity_id").join(
        _maybe_broadcast(ep_map.select("entity_id"), n_links), "entity_id", "left_semi"
    )
    endpoint_only = ep_map.join(
        _maybe_broadcast(matched, n_links), "entity_id", "left_anti"
    )
    return declared.unionByName(endpoint_only)


def _declared_labels(entities: DataFrame, ep_map: DataFrame, n_links: int) -> DataFrame:
    """Labels for the DECLARED entities given the endpoint map (at most
    `n_links` rows): entities outside the alias graph label
    themselves."""
    return entities.select("entity_id").join(
        _maybe_broadcast(ep_map, n_links), "entity_id", "left"
    ).select(
        "entity_id",
        F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
    )


def _sym_links(same_links: DataFrame) -> DataFrame:
    """Undirected, deduped link set (a, b).

    ONE scan of the input: both edge directions come from exploding a
    2-element struct array per row (r8 optimization, guide §2.4 — the
    previous union-of-two-selects scanned the upstream plan twice,
    and the upstream here is typically a filter over the full cached
    triple corpus). Same rows as union(fwd, swapped).distinct()."""
    fwd = same_links.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    both = F.explode(
        F.array(
            F.struct("a", "b"),
            F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
        )
    )
    return fwd.select(both.alias("e")).select("e.a", "e.b").distinct()


def _components(links: DataFrame) -> tuple[DataFrame, int]:
    """(entity_id, canonical_id) for every vertex of the symmetric link
    set `links` (a, b), and the first round's link count — a bound on
    the map's rows, since every vertex is the `a` of some link."""
    labels, n_links = None, None
    for _ in range(MAX_ROUNDS):
        # lazy checkpoint: the count materializes it (one job, not two)
        links = checkpoint_df(links, eager=False)
        n = links.count()
        n_links = n if n_links is None else n_links
        n_parts = max(1, -(-n // LINKS_PER_TASK))
        roots = links.repartition(n_parts, "a").mapInArrow(
            _local_roots, "entity_id string, canonical_id string"
        )
        if n_parts == 1:
            return _compose(labels, roots), n_links
        # read twice: the round's map and the contracted links
        local = checkpoint_df(
            roots.groupBy("entity_id").agg(
                F.min("canonical_id").alias("low"),
                F.collect_set("canonical_id").alias("roots"),
            )
        )
        labels = checkpoint_df(
            _compose(
                labels, local.select("entity_id", F.col("low").alias("canonical_id"))
            )
        )
        links = _sym_links(
            local.select(F.col("low").alias("src"), F.explode("roots").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
    raise RuntimeError(f"canonical_map did not converge in {MAX_ROUNDS} rounds")


def _compose(labels: DataFrame | None, step: DataFrame) -> DataFrame:
    """Map every vertex of `labels` through `step`; a label that `step`
    does not cover is already final. None stands for the identity."""
    if labels is None:
        return step
    nxt = step.select(
        F.col("entity_id").alias("canonical_id"), F.col("canonical_id").alias("next")
    )
    return labels.join(nxt, "canonical_id", "left").select(
        "entity_id", F.coalesce("next", "canonical_id").alias("canonical_id")
    )


def _local_roots(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Union-find with path compression over one partition's links,
    min-id root election: (vertex, local root) for every vertex the
    partition touches."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for batch in batches:
        for a, b in zip(batch.column("a").to_pylist(), batch.column("b").to_pylist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    if parent:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(parent), pa.string()),
                pa.array([find(v) for v in parent], pa.string()),
            ],
            names=["entity_id", "canonical_id"],
        )


BROADCAST_MAP_THRESHOLD = 5_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast a dimension while it plausibly fits; above the
    threshold leave it to a shuffled join (AQE splits skewed
    partitions). At 10^9+ canonical entities the map is a fact table,
    not a dimension — broadcasting it unconditionally would OOM every
    executor."""
    if n_rows is not None and n_rows <= BROADCAST_MAP_THRESHOLD:
        return F.broadcast(df)
    return df


def canonical_edges(
    edges: DataFrame, cmap: DataFrame, cmap_rows: int | None = 0
) -> DataFrame:
    """Rewrite (src, pred, dst) to canonical ids and dedupe.

    Two joins against the canonical map — broadcast when the map is
    small (``cmap_rows``; default 0 means "known small"), shuffled
    hash join with AQE skew handling otherwise; dedupe mirrors the
    reference's list-append dedupe (cimpy/cimimport.py:296-299).
    """
    src_map = _maybe_broadcast(
        cmap.select(F.col("entity_id").alias("src"), F.col("canonical_id").alias("csrc")),
        cmap_rows,
    )
    dst_map = _maybe_broadcast(
        cmap.select(F.col("entity_id").alias("dst"), F.col("canonical_id").alias("cdst")),
        cmap_rows,
    )
    return (
        edges.join(src_map, "src")
        .join(dst_map, "dst")
        .select(
            F.col("csrc").alias("src"), F.col("pred"), F.col("cdst").alias("dst")
        )
        .dropDuplicates(["src", "pred", "dst"])
    )


def canonical_nodes(
    triples: DataFrame, cmap: DataFrame, cmap_rows: int | None = 0
) -> DataFrame:
    """Long-format node attributes after canonical merge.

    Output: (entity_id, attr, value, profile) — one row per canonical
    entity × attribute, elected in stable (conv_id, turn_idx,
    mention_idx) mention order, mirroring the reference's file/element
    processing order:

    - ``rdf_type`` is FIRST-wins: the reference instantiates a class
      once per rdf:ID and never re-types on later files
      (cimpy/cimimport.py:141,150-151);
    - literal/enum attributes are LAST-wins: the reference's
      unconditional ``setattr`` per parsed element means the last
      write in processing order sticks (cimpy/cimimport.py:255-273).

    `profile` is the role of the elected mention — the reference's
    per-attribute serializationProfile provenance
    (cimpy/cimimport.py:347-356), which drives output partitioning so
    attributes land in their provenance partition
    (cimpy/cimexport.py:258-287 analog). min_by/max_by on a struct
    keep it a single hash aggregation (no window sort).
    """
    attrs = triples.filter(F.col("obj_kind").isin("literal", "enum", "type"))
    merged = attrs.join(
        _maybe_broadcast(
            cmap.select(F.col("entity_id").alias("subj"), "canonical_id"), cmap_rows
        ),
        "subj",
    )
    order_key = F.struct("conv_id", "turn_idx", "mention_idx")
    is_type = F.col("attr") == "rdf_type"
    # ONE min_by + ONE max_by over an (obj, role) payload struct
    # instead of four separate struct-keyed aggregates (r8): the
    # mention order key is unique per row, so the payload pair always
    # comes from the same elected mention — identical values, half
    # the aggregate evaluations per row.
    payload = F.struct(F.col("obj").alias("v"), F.col("role").alias("p"))
    return (
        merged.groupBy(
            F.col("canonical_id").alias("entity_id"), F.col("pred").alias("attr")
        )
        .agg(
            F.min_by(payload, order_key).alias("__first"),
            F.max_by(payload, order_key).alias("__last"),
        )
        .select(
            "entity_id",
            "attr",
            F.when(is_type, F.col("__first.v")).otherwise(F.col("__last.v")).alias("value"),
            F.when(is_type, F.col("__first.p")).otherwise(F.col("__last.p")).alias("profile"),
        )
    )
