"""Stage 3 — canonicalization via iterative connected components.

The reference merges objects that arrive from different profile files
under one UUID (cimpy/cimimport.py:215-231). Generalized to explicit
``sameAs`` links, the merge becomes connected components over the
same-entity graph; the canonical id of a component is its minimum
entity id (deterministic election, mirroring the reference's
min-priority profile pick, cimpy/cimexport.py:196-214).

Algorithm: min-label propagation with **pointer jumping** — each
round takes (a) the min over neighbor labels and (b) the label of the
label (path halving), a driver loop with ``localCheckpoint`` per
iteration to cut lineage (SURVEY.md §4). Pointer jumping doubles the
distance a minimum travels per round, so convergence is O(log
diameter) instead of O(diameter) — the property that matters at
10^12-turn scale where adversarial alias chains exist (same recipe
as the Hash-to-Min family, Rastogi et al., "Finding Connected
Components in Map-Reduce in Logarithmic Rounds"). Iterations are
bounded and the fixpoint is asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cimpy_spark.plans.checkpoints import checkpoint_df

# Below this many (undirected, deduped) sameAs links, connected
# components run as a driver-side union-find over ONE collect — the
# distributed loop's ~0.5-1s/round fixed job latency dominates real
# work at small scale (9 rounds ≈ 7s for 600 links). 1M links ≈ tens
# of MB on the driver — safely collectable; above that, the O(log d)
# pointer-jumping loop takes over.
SMALL_LINKS_THRESHOLD = 1_000_000


def canonical_map(
    entities: DataFrame,
    same_links: DataFrame,
    max_iter: int = 25,
    small_threshold: int = SMALL_LINKS_THRESHOLD,
) -> DataFrame:
    """(entity_id, canonical_id) for every declared entity.

    `entities`: one row per declared entity (column ``entity_id``).
    `same_links`: (src, dst) sameAs pairs (directed, raw).

    Small link sets short-circuit to ONE broadcast join: the declared
    restriction drops undeclared-endpoint labels anyway, so the full
    lossless labeling is never materialized on this path.
    """
    edges_plan = _sym_links(same_links)
    pairs = _collect_if_small(edges_plan, small_threshold)
    if pairs is not None:
        ep_map = _union_find_df(entities.sparkSession, pairs)
        return _declared_labels(entities, ep_map)
    labels = _distributed_labels(entities, edges_plan, max_iter)
    return entities.join(labels, "entity_id").select("entity_id", "canonical_id")


def canonical_labels(
    entities: DataFrame,
    same_links: DataFrame,
    max_iter: int = 25,
    small_threshold: int = SMALL_LINKS_THRESHOLD,
) -> DataFrame:
    """(entity_id, canonical_id) for EVERY vertex — declared entities
    and raw alias endpoints alike. This is the lossless contraction
    committed as the `cmap_full` stage; `canonical_map` is its
    restriction to declared entities."""
    # Undirected, deduped link set; restrict to declared entities is
    # not required (labels for undeclared alias endpoints are simply
    # dropped at the end by the final join).
    edges_plan = _sym_links(same_links)

    # ONE limit-probe job decides the path AND, when small, already
    # delivers the complete edge set (limit N+1 returns everything if
    # fewer rows exist) — no separate checkpoint/count/collect jobs
    pairs = _collect_if_small(edges_plan, small_threshold)
    if pairs is not None:
        return _small_graph_labels(entities, pairs)
    return _distributed_labels(entities, edges_plan, max_iter)


def _distributed_labels(
    entities: DataFrame, edges_plan: DataFrame, max_iter: int
) -> DataFrame:
    """Pointer-jumping min-label loop over a (large) link set — the
    full lossless labeling (every vertex, declared or not)."""
    spark = entities.sparkSession
    edges = checkpoint_df(edges_plan, eager=True)
    # the count sizes the loop's working set (the link set is usually
    # tiny relative to the corpus; a fixed shuffle width would pay
    # hundreds of near-empty tasks per round)
    n_edges = edges.count()
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = max(1, min(shuffle_parts, n_edges // 50_000 + 1))
    edges = edges.repartition(n_parts, "a")

    vertices = (
        entities.select(F.col("entity_id").alias("a"))
        .union(edges.select("a"))
        .distinct()
    )
    labels = checkpoint_df(
        vertices.select("a", F.col("a").alias("comp")).repartition(n_parts, "a"),
        eager=True,
    )

    # per-plan repartitions above pin the working-set width for the
    # loop inputs; intermediate shuffles inside the loop are coalesced
    # at runtime by AQE (coalescePartitions) — no session-global
    # shuffle.partitions mutation (it leaked into concurrent queries
    # and raced between concurrent loops).
    labels = _iterate(edges, labels, max_iter)

    return labels.select(
        F.col("a").alias("entity_id"), F.col("comp").alias("canonical_id")
    )


def _declared_labels(entities: DataFrame, ep_map: DataFrame | None) -> DataFrame:
    """Labels for the DECLARED entities given the (small, broadcast)
    endpoint map: entities outside the alias graph label themselves."""
    if ep_map is None:
        return entities.select(
            "entity_id", F.col("entity_id").alias("canonical_id")
        )
    return entities.select("entity_id").join(
        F.broadcast(ep_map), "entity_id", "left"
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


def _collect_if_small(edges_plan: DataFrame, threshold: int):
    """Collect the edge set iff it is within the threshold — a single
    limit-probe job: limit(threshold+1) returns the COMPLETE set when
    fewer rows exist, else a sentinel row proving the set is large
    (never collects more than threshold+1 rows)."""
    rows = edges_plan.limit(threshold + 1).collect()
    return rows if len(rows) <= threshold else None


def _union_find_df(spark, pairs) -> DataFrame | None:
    """(entity_id, canonical_id) map for every alias-graph ENDPOINT —
    driver union-find with path compression; min-id root election,
    byte-identical to the distributed loop. Returns None for an empty
    link set."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in pairs:
        ra, rb = find(row["a"]), find(row["b"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min-id election, as in the loop

    if not parent:
        return None
    # NB (r8, measured): do NOT coalesce(1) this local-collection
    # DataFrame — collapsing the default slices into one task made a
    # downstream broadcast build ~9× slower (0.8 s → 7 s repeatably);
    # the near-empty extra tasks are cheaper than whatever the
    # single-task parent-partition computation pays.
    return spark.createDataFrame(
        [(v, find(v)) for v in parent], "entity_id string, canonical_id string"
    )


def _small_graph_labels(entities: DataFrame, pairs) -> DataFrame:
    """Full lossless labeling from a collected (small) link set.

    Only the EDGES were collected — the (possibly huge) entity
    dictionary is never moved: entities outside the alias graph label
    themselves via a broadcast left join against the endpoint map."""
    spark = entities.sparkSession
    ep_map = _union_find_df(spark, pairs)
    declared = _declared_labels(entities, ep_map)
    if ep_map is None:
        return declared
    # endpoint vertices that are ALSO declared already carry a label
    # above; subtract them without shuffling the big entities side
    # (broadcast semi to find the overlap, broadcast anti to remove it
    # — an anti join against `entities` directly would shuffle the
    # full dictionary)
    matched = entities.select("entity_id").join(
        F.broadcast(ep_map.select("entity_id")), "entity_id", "left_semi"
    )
    endpoint_only = ep_map.join(F.broadcast(matched), "entity_id", "left_anti")
    return declared.unionByName(endpoint_only)


def _iterate(edges: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    for _ in range(max_iter):
        # (a) candidate label = min(own, min over neighbors)
        neighbor = edges.join(labels, "a").select(
            F.col("b").alias("a"), F.col("comp")
        )
        relaxed = (
            labels.select("a", "comp")
            .union(neighbor)
            .groupBy("a")
            .agg(F.min("comp").alias("comp"))
        )
        # (b) pointer jumping ×2: comp ← label(label(comp)). Labels are
        # always vertex ids, so the self-joins hit; left join +
        # coalesce guards the (impossible) miss. Two jumps per round
        # quadruple the distance a minimum travels, trading one cheap
        # join for a whole extra round (round fixed costs dominate).
        lut = relaxed.select(
            F.col("a").alias("comp"), F.col("comp").alias("comp2")
        )
        jumped = relaxed
        for _j in range(2):
            jumped = (
                jumped.join(lut, "comp", "left")
                .select(
                    F.col("a"),
                    F.coalesce(F.col("comp2"), F.col("comp")).alias("comp"),
                )
            )
        # lazy checkpoint: the changed-count action below materializes
        # it, so each iteration costs ONE job instead of two
        new_labels = checkpoint_df(jumped, eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "a")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"canonical_map did not converge in {max_iter} iterations")


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
