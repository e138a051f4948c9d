"""DuckDB-dialect oracle SQL for the KG pipeline queries.

Each oracle derives the *expected* result straight from `events`
columns (closed-form, no text parsing), independently of the Spark
implementation — the analog of the reference's pickled import golden
(tests/create_pickle_dump.py:10-24). Composable CTE fragments keep
the per-query SQL readable.
"""

from __future__ import annotations

from cimpy_spark.fixtures.events_transcripts import N_ENT, slots_cte_sql

# Per-event `t` + per-mention-slot `s` CTEs (DuckDB dialect), shared
# with the extraction oracle so both derive from ONE slot arithmetic.
T_CTE = slots_cte_sql("//", "events")

# All extracted triples (same shape the Spark extractor emits).
_PROV = "conv_id, turn_idx, mention_idx, role"
TRIPLES_CTE = f"""
triples AS (
  SELECT 'E' || CAST(ent AS STRING) AS subj, 'rdf_type' AS pred,
         'T' || CAST(ent % 5 AS STRING) AS obj, 'type' AS obj_kind,
         {_PROV} FROM s WHERE m = 0
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'p_int', CAST(d % 97 AS STRING),
         'literal', {_PROV} FROM s WHERE m = 0
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'p_bool',
         CASE WHEN d % 2 = 0 THEN 'true' ELSE 'false' END,
         'literal', {_PROV} FROM s WHERE m = 0
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'p_enum', 'V' || CAST(d % 3 AS STRING),
         'enum', {_PROV} FROM s WHERE m = 0
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'q_str', 's' || CAST(d % 23 AS STRING),
         'literal', {_PROV} FROM s WHERE m = 1
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'q_int', CAST(d % 41 AS STRING),
         'literal', {_PROV} FROM s WHERE m = 1
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING),
         CASE d % 3 WHEN 0 THEN 'connects_to' WHEN 1 THEN 'feeds' ELSE 'controls' END,
         CASE WHEN d % 11 = 0 THEN 'X' || CAST(d % 50 AS STRING)
              ELSE 'E' || CAST((ent * 7 + 3) % {N_ENT} AS STRING) END,
         'ref', {_PROV} FROM s WHERE m = 2
  UNION ALL
  SELECT 'E' || CAST(ent AS STRING), 'sameAs',
         'E' || CAST(ent - (CASE WHEN ent % 8 = 0 THEN 0 ELSE 1 END) AS STRING),
         'ref', {_PROV} FROM s WHERE m = 3 AND d % 5 = 0
)
"""

# Declared entity dictionary, first-declaration-wins type (type is a
# pure function of the id in this fixture, so DISTINCT suffices).
ENTITIES_CTE = """
entities AS (
  SELECT DISTINCT 'E' || CAST(ent AS STRING) AS entity_id,
         'T' || CAST(ent % 5 AS STRING) AS type
  FROM s WHERE m = 0
)
"""

REFS_CTE = """
refs AS (
  SELECT subj AS src, pred, obj AS dst
  FROM triples WHERE obj_kind = 'ref' AND pred <> 'sameAs'
)
"""

EDGES_CTE = """
edges AS (
  SELECT DISTINCT r.src, r.pred, r.dst
  FROM refs r JOIN entities en ON r.dst = en.entity_id
)
"""

# Undirected sameAs link set + min-label connected components via
# recursive transitive closure (components are tiny alias chains).
CMAP_CTE = """
same_pairs AS (
  SELECT DISTINCT subj AS a, obj AS b FROM triples WHERE pred = 'sameAs'
),
same_sym AS (
  SELECT a, b FROM same_pairs UNION SELECT b, a FROM same_pairs
),
reach(a, b) AS (
  SELECT entity_id, entity_id FROM entities
  UNION
  SELECT r.a, e.b FROM reach r JOIN same_sym e ON r.b = e.a
),
cmap AS (
  SELECT a AS entity_id, min(b) AS canonical_id FROM reach GROUP BY a
)
"""

CANON_EDGES_CTE = """
canon_edges AS (
  SELECT DISTINCT cs.canonical_id AS src, e.pred, cd.canonical_id AS dst
  FROM edges e
  JOIN cmap cs ON e.src = cs.entity_id
  JOIN cmap cd ON e.dst = cd.entity_id
)
"""

# Canonical node attributes in stable (conv_id, turn_idx, mention_idx)
# mention order: the TYPE is first-wins (the reference instantiates a
# class once per rdf:ID and never re-types, cimpy/cimimport.py:141,
# 150-151); literal/enum attributes are LAST-wins (the reference's
# unconditional setattr per parsed element means the last write in
# file order sticks, cimpy/cimimport.py:255-273).
NODES_CTE = """
nodes AS (
  SELECT entity_id, attr, value, profile FROM (
    SELECT c.canonical_id AS entity_id, tr.pred AS attr, tr.obj AS value,
           tr.role AS profile,
           row_number() OVER (
             PARTITION BY c.canonical_id, tr.pred
             ORDER BY tr.conv_id, tr.turn_idx, tr.mention_idx
           ) AS rn
    FROM triples tr
    JOIN cmap c ON tr.subj = c.entity_id
    WHERE tr.obj_kind = 'type'
  ) WHERE rn = 1
  UNION ALL
  SELECT entity_id, attr, value, profile FROM (
    SELECT c.canonical_id AS entity_id, tr.pred AS attr, tr.obj AS value,
           tr.role AS profile,
           row_number() OVER (
             PARTITION BY c.canonical_id, tr.pred
             ORDER BY tr.conv_id DESC, tr.turn_idx DESC, tr.mention_idx DESC
           ) AS rn
    FROM triples tr
    JOIN cmap c ON tr.subj = c.entity_id
    WHERE tr.obj_kind IN ('literal', 'enum')
  ) WHERE rn = 1
)
"""


# Non-recursive pipeline CTE levels referenced by multiple consumers:
# DuckDB INLINES plain CTEs per consumer (no auto-materialization in
# 1.0), so e.g. the `s` slot stream re-evaluates once per TRIPLES
# union branch and `triples`/`cmap` once per downstream reference —
# measured 215 s for the full oracle battery at sf0.01, dominated by
# this. Forcing MATERIALIZED on the shared levels is semantics-free.
# The recursive `reach` level must stay plain. These strings are
# DuckDB-only (the Spark side derives transcripts via
# transcripts_select_sql; Spark SQL has no MATERIALIZED keyword).
_MAT_LEVELS = (
    "t", "s", "triples", "entities", "refs", "edges",
    "same_pairs", "same_sym", "cmap", "canon_edges", "nodes",
)


def _with(*ctes: str) -> str:
    import re

    sql = "WITH RECURSIVE " + ",\n".join(c.strip().rstrip() for c in ctes)
    for name in _MAT_LEVELS:
        # anchored so a listed name can never match inside a longer
        # CTE name (e.g. "s" inside "triples") — each listed name is
        # itself materialized, so suffix collisions were harmless,
        # but a future name ending in "t"/"s" would be silently
        # rewritten without the anchor
        sql = re.sub(
            rf"(?<![A-Za-z0-9_]){name} AS \(",
            f"{name} AS MATERIALIZED (",
            sql,
        )
    return sql


PIPELINE_CTES = _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, REFS_CTE, EDGES_CTE,
                      CMAP_CTE, CANON_EDGES_CTE, NODES_CTE)


def entities_sql() -> str:
    return _with(T_CTE, ENTITIES_CTE) + "\nSELECT entity_id, type FROM entities"


def link_edges_sql() -> str:
    return (
        _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, REFS_CTE, EDGES_CTE)
        + "\nSELECT src, pred, dst FROM edges"
    )


def link_quarantine_sql() -> str:
    return (
        _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, REFS_CTE)
        + """
        SELECT r.dst, count(*) AS n_refs
        FROM refs r LEFT JOIN entities en ON r.dst = en.entity_id
        WHERE en.entity_id IS NULL
        GROUP BY r.dst
        """
    )


def reverse_edges_sql() -> str:
    return (
        _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, REFS_CTE, EDGES_CTE)
        + "\nSELECT dst AS src, 'rev_' || pred AS pred, src AS dst FROM edges"
    )


def canonical_map_sql() -> str:
    return (
        _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, CMAP_CTE)
        + "\nSELECT entity_id, canonical_id FROM cmap"
    )


def canonical_edges_sql() -> str:
    return PIPELINE_CTES + "\nSELECT src, pred, dst FROM canon_edges"


def nodes_sql() -> str:
    return PIPELINE_CTES + "\nSELECT entity_id, attr, value, profile FROM nodes"


def typed_attrs_sql() -> str:
    return PIPELINE_CTES + """
    SELECT entity_id,
           max(CASE WHEN attr = 'rdf_type' THEN value END) AS type,
           CAST(max(CASE WHEN attr = 'p_int' THEN value END) AS INT) AS p_int,
           CAST(max(CASE WHEN attr = 'p_bool' THEN value END) AS BOOLEAN) AS p_bool,
           max(CASE WHEN attr = 'p_enum' THEN value END) AS p_enum,
           max(CASE WHEN attr = 'q_str' THEN value END) AS q_str,
           CAST(max(CASE WHEN attr = 'q_int' THEN value END) AS INT) AS q_int
    FROM nodes GROUP BY entity_id
    """


def node_degree_sql() -> str:
    return PIPELINE_CTES + """
    , outd AS (SELECT src AS entity_id, count(*) AS out_deg FROM canon_edges GROUP BY src)
    , ind AS (SELECT dst AS entity_id, count(*) AS in_deg FROM canon_edges GROUP BY dst)
    SELECT COALESCE(o.entity_id, i.entity_id) AS entity_id,
           COALESCE(o.out_deg, 0) AS out_deg,
           COALESCE(i.in_deg, 0) AS in_deg
    FROM outd o FULL OUTER JOIN ind i ON o.entity_id = i.entity_id
    """


def adjacency_sql(max_neighbors: int = 16) -> str:
    """Top-K sorted neighbors + exact count + overflow flag (mirrors
    pipeline.adjacency's hub-key bound)."""
    return PIPELINE_CTES + f"""
    , adjr AS (
      SELECT src, pred, dst,
             row_number() OVER (PARTITION BY src, pred ORDER BY dst) AS rk,
             count(*) OVER (PARTITION BY src, pred) AS n_neighbors
      FROM canon_edges
    )
    SELECT src, pred, string_agg(dst, ',' ORDER BY dst) AS neighbors,
           n_neighbors, n_neighbors > {max_neighbors} AS overflow
    FROM adjr WHERE rk <= {max_neighbors}
    GROUP BY src, pred, n_neighbors
    """


def multihop_sql() -> str:
    return PIPELINE_CTES + """
    SELECT DISTINCT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM canon_edges e1
    JOIN canon_edges e2 ON e1.dst = e2.src
    WHERE e1.pred = 'connects_to' AND e2.pred = 'feeds'
    """


ENUM_URLS_CTE = """
urls AS (
  SELECT DISTINCT 'V' || CAST(d % 3 AS STRING) AS suffix,
         'kind:Unit.V' || CAST(d % 3 AS STRING) AS url
  FROM s WHERE m = 0
)
"""


def enum_dictionary_sql() -> str:
    return (
        _with(T_CTE, ENUM_URLS_CTE) + "\nSELECT suffix, url FROM urls"
    )


def enum_roundtrip_sql() -> str:
    return PIPELINE_CTES + """
    , urls AS (
      SELECT DISTINCT 'V' || CAST(d % 3 AS STRING) AS value,
             'kind:Unit.V' || CAST(d % 3 AS STRING) AS url
      FROM s WHERE m = 0
    )
    SELECT n.entity_id, n.attr, n.value, u.url
    FROM nodes n JOIN urls u USING (value)
    """


def snapshot_meta_sql() -> str:
    """Grouped content counts per profile + the first-wins header
    capture (author/namespace of the minimal (conv_id, turn_idx) turn
    per role — closed-form from the event arithmetic, never parsing
    text)."""
    return PIPELINE_CTES + """
    , hdr AS (
      SELECT role,
             'a' || CAST(e % 7 AS STRING) AS author,
             'ns' || CAST(e % 5 AS STRING) AS namespace,
             conv_id AS hdr_conv_id, turn_idx AS hdr_turn_idx
      FROM (
        SELECT role, e, conv_id, turn_idx,
               row_number() OVER (PARTITION BY role ORDER BY conv_id, turn_idx) AS rn
        FROM t
      ) WHERE rn = 1
    ),
    meta AS (
      SELECT role AS profile,
             count(*) AS n_triples,
             count(DISTINCT subj) AS n_subjects,
             count(DISTINCT conv_id) AS n_convs,
             CAST(sum(CASE WHEN obj_kind = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_refs
      FROM triples GROUP BY role
    )
    SELECT m.profile, m.n_triples, m.n_subjects, m.n_convs, m.n_refs,
           h.author, h.namespace, h.hdr_conv_id, h.hdr_turn_idx
    FROM meta m LEFT JOIN hdr h ON h.role = m.profile
    """


def input_validation_sql(transcripts_sql_text: str) -> str:
    """Batch equivalent of `validate_transcripts` over the derived
    transcripts."""
    return f"""
    WITH tr AS ({transcripts_sql_text})
    SELECT 'duplicate_turn_key' AS check, (
      SELECT count(*) FROM (
        SELECT conv_id, turn_idx FROM tr WHERE turn_idx IS NOT NULL
        GROUP BY 1, 2 HAVING count(*) > 1)
    ) AS n_violations
    UNION ALL
    SELECT 'null_or_empty_text',
           (SELECT count(*) FROM tr WHERE text IS NULL OR trim(text) = '')
    UNION ALL
    SELECT 'null_conv_id', (SELECT count(*) FROM tr WHERE conv_id IS NULL)
    UNION ALL
    SELECT 'negative_turn_idx', (SELECT count(*) FROM tr WHERE turn_idx < 0)
    UNION ALL
    SELECT 'null_turn_idx', (SELECT count(*) FROM tr WHERE turn_idx IS NULL)
    UNION ALL
    SELECT 'non_dense_turns', (
      SELECT count(*) FROM (
        SELECT conv_id FROM tr WHERE turn_idx IS NOT NULL GROUP BY conv_id
        HAVING min(turn_idx) <> 0 OR max(turn_idx) <> count(DISTINCT turn_idx) - 1)
    )
    """


def conv_state_sql() -> str:
    """Batch equivalent of the stateful-streaming conversation state."""
    return _with(T_CTE) + """
    SELECT conv_id,
           count(*) AS n_turns,
           CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
           CAST(max(turn_idx) AS INT) AS max_turn_idx
    FROM t GROUP BY conv_id
    """


def khop_sql(k: int = 3) -> str:
    """Exact k-hop pairs over connects_to (independent k-way join)."""
    joins = " ".join(
        f"JOIN ce e{i} ON e{i - 1}.dst = e{i}.src" for i in range(2, k + 1)
    )
    return PIPELINE_CTES + f"""
    , ce AS (SELECT DISTINCT src, dst FROM canon_edges WHERE pred = 'connects_to')
    SELECT DISTINCT e1.src AS src, e{k}.dst AS dst
    FROM ce e1 {joins}
    """


def reachability_sql() -> str:
    """Transitive closure over feeds edges (recursive CTE)."""
    return PIPELINE_CTES + """
    , fe AS (SELECT DISTINCT src, dst FROM canon_edges WHERE pred = 'feeds'),
    freach(src, dst) AS (
      SELECT src, dst FROM fe
      UNION
      SELECT r.src, e.dst FROM freach r JOIN fe e ON e.src = r.dst
    )
    SELECT src, dst FROM freach
    """


def value_rollup_sql() -> str:
    """Per-source sum of neighbors' q_int over connects_to edges."""
    return PIPELINE_CTES + """
    SELECT e.src AS entity_id,
           CAST(sum(CAST(n.value AS BIGINT)) AS BIGINT) AS neighbor_sum,
           count(*) AS n_neighbors
    FROM canon_edges e
    JOIN nodes n ON n.entity_id = e.dst AND n.attr = 'q_int'
    WHERE e.pred = 'connects_to'
    GROUP BY e.src
    """


def assembly_sql() -> str:
    """CIM2DPsim-shaped consumer query: typed + unit-scaled components
    with wiring degree and neighbor value rollup."""
    return PIPELINE_CTES + """
    , typed AS (
      SELECT entity_id,
             max(CASE WHEN attr = 'rdf_type' THEN value END) AS type,
             CAST(max(CASE WHEN attr = 'p_int' THEN value END) AS INT) AS p_int,
             max(CASE WHEN attr = 'p_enum' THEN value END) AS p_enum
      FROM nodes GROUP BY entity_id
    ),
    comp AS (
      SELECT entity_id, type,
             CAST(p_int AS BIGINT) * (CASE p_enum WHEN 'V0' THEN 1
                  WHEN 'V1' THEN 1000 ELSE 1000000 END) AS scaled_p
      FROM typed WHERE p_int IS NOT NULL
    ),
    deg AS (
      SELECT src AS entity_id, count(*) AS n_out
      FROM canon_edges WHERE pred = 'connects_to' GROUP BY src
    ),
    rollup AS (
      SELECT e.src AS entity_id,
             CAST(sum(CAST(n.value AS BIGINT)) AS BIGINT) AS neighbor_sum
      FROM canon_edges e
      JOIN nodes n ON n.entity_id = e.dst AND n.attr = 'q_int'
      WHERE e.pred = 'connects_to'
      GROUP BY e.src
    )
    SELECT c.entity_id, c.type, c.scaled_p,
           COALESCE(d.n_out, 0) AS n_out,
           COALESCE(r.neighbor_sum, 0) AS neighbor_q_sum
    FROM comp c
    LEFT JOIN deg d USING (entity_id)
    LEFT JOIN rollup r USING (entity_id)
    """


def sql_interface_sql() -> str:
    return PIPELINE_CTES + """
    SELECT n.value AS type, e.pred, count(*) AS n_edges
    FROM canon_edges e
    JOIN nodes n ON n.entity_id = e.src AND n.attr = 'rdf_type'
    GROUP BY n.value, e.pred
    """


def delete_t0_sql() -> str:
    """Edges remaining after bulk-deleting every canonical entity of
    type T0 (utils.py:80-84 delete-set analog)."""
    return PIPELINE_CTES + """
    , t0 AS (SELECT DISTINCT entity_id FROM nodes
             WHERE attr = 'rdf_type' AND value = 'T0')
    SELECT e.src, e.pred, e.dst FROM canon_edges e
    LEFT JOIN t0 a ON e.src = a.entity_id
    LEFT JOIN t0 b ON e.dst = b.entity_id
    WHERE a.entity_id IS NULL AND b.entity_id IS NULL
    """


def bus_branch_sql(
    breaker_type: str = "T1",
    open_attr: str = "p_bool",
    open_value: str = "true",
    contract_pred: str = "controls",
) -> str:
    """End-to-end bus-branch reduction oracle (utils.py:6-88 analog):
    delete open breakers + incident edges, contract the CLOSED
    breakers' switch edges to min-id component labels, rewrite the
    surviving edges."""
    return PIPELINE_CTES + f"""
    , brk AS MATERIALIZED (SELECT DISTINCT entity_id FROM nodes
              WHERE attr = 'rdf_type' AND value = '{breaker_type}'),
    openbrk AS MATERIALIZED (
      SELECT DISTINCT b.entity_id FROM brk b
      JOIN nodes o ON o.entity_id = b.entity_id
      WHERE o.attr = '{open_attr}' AND o.value = '{open_value}'
    ),
    closedbrk AS MATERIALIZED (
      SELECT entity_id FROM brk
      WHERE entity_id NOT IN (SELECT entity_id FROM openbrk)
    ),
    kept AS MATERIALIZED (
      SELECT e.src, e.pred, e.dst FROM canon_edges e
      LEFT JOIN openbrk a ON e.src = a.entity_id
      LEFT JOIN openbrk b ON e.dst = b.entity_id
      WHERE a.entity_id IS NULL AND b.entity_id IS NULL
    ),
    sw AS MATERIALIZED (
      SELECT e.src, e.pred, e.dst FROM kept e
      JOIN closedbrk c ON e.src = c.entity_id
      WHERE e.pred = '{contract_pred}'
    ),
    bpairs AS MATERIALIZED (SELECT DISTINCT src AS a, dst AS b FROM sw),
    bsym AS MATERIALIZED (SELECT a, b FROM bpairs UNION SELECT b, a FROM bpairs),
    bverts AS MATERIALIZED (SELECT src AS v FROM kept UNION SELECT dst FROM kept),
    breach(a, b) AS (
      SELECT v, v FROM bverts
      UNION
      SELECT r.a, e.b FROM breach r JOIN bsym e ON r.b = e.a
    ),
    bmap AS MATERIALIZED (SELECT a AS entity_id, min(b) AS canonical_id
             FROM breach GROUP BY a),
    kept2 AS MATERIALIZED (
      SELECT e.src, e.pred, e.dst FROM kept e
      LEFT JOIN sw s ON e.src = s.src AND e.pred = s.pred AND e.dst = s.dst
      WHERE s.src IS NULL
    )
    SELECT DISTINCT m1.canonical_id AS src, e.pred, m2.canonical_id AS dst
    FROM kept2 e
    JOIN bmap m1 ON e.src = m1.entity_id
    JOIN bmap m2 ON e.dst = m2.entity_id
    WHERE m1.canonical_id <> m2.canonical_id
    """


def contract_controls_sql() -> str:
    """Edges after contracting all 'controls' edges (bus-branch
    closed-switch merge analog): endpoints merge to min-id component
    labels, self-loops dropped, contracted pred removed."""
    return PIPELINE_CTES + """
    , cpairs AS (SELECT DISTINCT src AS a, dst AS b FROM canon_edges WHERE pred = 'controls'),
    csym AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
    cverts AS (
      SELECT src AS v FROM canon_edges UNION SELECT dst FROM canon_edges
    ),
    reach2(a, b) AS (
      SELECT v, v FROM cverts
      UNION
      SELECT r.a, e.b FROM reach2 r JOIN csym e ON r.b = e.a
    ),
    cmap2 AS (SELECT a AS entity_id, min(b) AS canonical_id FROM reach2 GROUP BY a)
    SELECT DISTINCT m1.canonical_id AS src, e.pred, m2.canonical_id AS dst
    FROM canon_edges e
    JOIN cmap2 m1 ON e.src = m1.entity_id
    JOIN cmap2 m2 ON e.dst = m2.entity_id
    WHERE e.pred <> 'controls' AND m1.canonical_id <> m2.canonical_id
    """


def results_writeback_sql() -> str:
    """Reverse-converter oracle: the fixture results table is derived
    from typed attrs (v_re = p_int, v_im = q_int or 0), written back
    as SvVoltage rows (magnitude + phase, DPsimToCIMpy.py:71-74)."""
    return PIPELINE_CTES + """
    , typed2 AS (
      SELECT entity_id,
             CAST(max(CASE WHEN attr = 'p_int' THEN value END) AS INT) AS p_int,
             CAST(max(CASE WHEN attr = 'q_int' THEN value END) AS INT) AS q_int
      FROM nodes GROUP BY entity_id
    ),
    results AS (
      SELECT entity_id, CAST(p_int AS DOUBLE) AS v_re,
             CAST(COALESCE(q_int, 0) AS DOUBLE) AS v_im
      FROM typed2 WHERE p_int IS NOT NULL
    )
    SELECT entity_id, 'sv_v' AS attr,
           round(sqrt(v_re * v_re + v_im * v_im), 4) AS num_value,
           'sv' AS profile
    FROM results
    UNION ALL
    SELECT entity_id, 'sv_angle', round(atan2(v_im, v_re), 4), 'sv'
    FROM results
    """


def per_type_stats_sql() -> str:
    return PIPELINE_CTES + """
    , typed AS (
      SELECT entity_id,
             max(CASE WHEN attr = 'rdf_type' THEN value END) AS type,
             CAST(max(CASE WHEN attr = 'p_int' THEN value END) AS INT) AS p_int,
             CAST(max(CASE WHEN attr = 'q_int' THEN value END) AS INT) AS q_int
      FROM nodes GROUP BY entity_id
    )
    SELECT type, count(*) AS n_entities,
           round(avg(p_int), 6) AS mean_p_int,
           CAST(max(q_int) AS INT) AS max_q_int
    FROM typed GROUP BY type
    """


def type_dispatch_sql() -> str:
    return (
        _with(T_CTE, ENTITIES_CTE)
        + "\nSELECT type, count(*) AS n_entities FROM entities GROUP BY type"
    )


def pagerank_sql(iters: int = 5, scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank recurrence (mirror of
    pipeline.pagerank): one (contrib, dang, rank) CTE triple per
    iteration over the canonical edge set. Integer-only arithmetic
    (// floor division on non-negative int64) makes the comparison
    bit-exact — the reason the operator is fixed-point at all."""
    head = f"""
    , pr_edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM canon_edges)
    , pr_nodes AS MATERIALIZED (
        -- explicit DISTINCT, not bare UNION: under WITH RECURSIVE,
        -- DuckDB 1.0.0 compiles a non-self-referencing CTE's UNION
        -- as UNION ALL (verified minimal repro), silently doubling
        -- every node that is both a src and a dst
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM pr_edges
          UNION ALL SELECT dst FROM pr_edges
        )
      )
    , pr_n AS MATERIALIZED (SELECT count(*) AS n FROM pr_nodes)
    , pr_deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM pr_edges GROUP BY src)
    , pr_r0 AS MATERIALIZED (
        SELECT id, CAST({scale} // n AS BIGINT) AS rank
        FROM pr_nodes CROSS JOIN pr_n
      )
    """
    steps = []
    for i in range(1, iters + 1):
        prev = f"pr_r{i - 1}"
        steps.append(f"""
    , pr_c{i} AS MATERIALIZED (
        SELECT e.dst AS id, sum(r.rank // d.deg) AS contrib
        FROM {prev} r
        JOIN pr_deg d ON d.id = r.id
        JOIN pr_edges e ON e.src = r.id
        GROUP BY e.dst
      )
    , pr_d{i} AS MATERIALIZED (
        SELECT COALESCE(sum(r.rank), 0) AS dang
        FROM {prev} r LEFT JOIN pr_deg d ON d.id = r.id
        WHERE d.id IS NULL
      )
    , pr_r{i} AS MATERIALIZED (
        SELECT nd.id,
               CAST(({3 * scale} // (20 * n.n))
                    + (17 * (COALESCE(c.contrib, 0) + (dg.dang // n.n))) // 20
                 AS BIGINT) AS rank
        FROM pr_nodes nd
        CROSS JOIN pr_n n
        CROSS JOIN pr_d{i} dg
        LEFT JOIN pr_c{i} c ON c.id = nd.id
      )
    """)
    return (
        PIPELINE_CTES
        + head
        + "".join(steps)
        + f"""
    SELECT id AS entity_id, rank AS rank_fp,
           rank / {float(scale)} AS rank_frac
    FROM pr_r{iters}
    """
    )


def triangle_stats_sql() -> str:
    """Mirror of pipeline.triangle_stats: same triangle set counted by
    plain id-ordering (a<b<c three-way join) instead of the engine's
    degree ordering. MATERIALIZED: und/tri are each referenced
    multiple times and plain DuckDB CTEs inline per reference (the
    khop lesson — O(3^k) re-evaluation otherwise)."""
    return PIPELINE_CTES + """
    , und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM canon_edges WHERE src <> dst
    )
    , degt AS MATERIALIZED (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    )
    , tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    , per_node AS (
      SELECT v, count(*) AS n_triangles FROM (
        SELECT x AS v FROM tri
        UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri
      ) GROUP BY v
    )
    SELECT d.v AS entity_id, d.deg AS degree,
           coalesce(p.n_triangles, 0) AS n_triangles,
           CASE WHEN d.deg >= 2
                THEN round(coalesce(p.n_triangles, 0) * 2.0
                           / (d.deg * (d.deg - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM degt d LEFT JOIN per_node p ON p.v = d.v
    """


def cooccurrence_pmi_sql(min_convs: int = 2) -> str:
    """Mirror of pipeline.cooccurrence_pmi: conv-distinct canonical
    mentions, pair counts by conv self-join, PMI over integer counts."""
    return _with(T_CTE, TRIPLES_CTE, ENTITIES_CTE, CMAP_CTE) + f"""
    , mention AS (
      SELECT DISTINCT m.conv_id, cmap.canonical_id AS ent FROM (
        SELECT conv_id, subj AS e FROM triples
        UNION ALL
        SELECT conv_id, obj FROM triples WHERE obj_kind = 'ref'
      ) m JOIN cmap ON m.e = cmap.entity_id
    ),
    nconv AS (SELECT count(DISTINCT conv_id) AS n_total FROM mention),
    ec AS (SELECT ent, count(*) AS c FROM mention GROUP BY ent),
    pairs AS (
      SELECT a.ent AS ent_a, b.ent AS ent_b, count(*) AS cab
      FROM mention a JOIN mention b
        ON a.conv_id = b.conv_id AND a.ent < b.ent
      GROUP BY 1, 2
    )
    SELECT ent_a, ent_b, CAST(cab AS INT) AS n_convs,
           round(ln(cab * 1.0 * nconv.n_total / (ca.c * cb.c)), 6) AS pmi
    FROM pairs
    JOIN ec ca ON ent_a = ca.ent
    JOIN ec cb ON ent_b = cb.ent
    CROSS JOIN nconv
    WHERE cab >= {min_convs}
    """


def _lpa_chain(iters: int) -> str:
    """The unrolled synchronous-LPA CTE chain (und/gnodes/l0..l{k}) —
    shared by lpa_sql and conductance_sql so the label recurrence the
    conductance oracle consumes is BYTE-IDENTICAL to the gated one
    (the same no-drift contract as the shared Lloyd chain)."""
    levels = []
    for i in range(iters):
        levels.append(f"""c{i + 1} AS MATERIALIZED (
  SELECT u.a AS node, l.lab, count(*) AS c
  FROM und u JOIN l{i} l ON u.b = l.node
  GROUP BY 1, 2
),
p{i + 1} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM c{i + 1}
  ) WHERE rn = 1
),
l{i + 1} AS MATERIALIZED (
  SELECT l.node, coalesce(p.lab, l.lab) AS lab
  FROM l{i} l LEFT JOIN p{i + 1} p ON l.node = p.node
)""")
    chain = ",\n".join(levels)
    return f""",
    und AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM canon_edges
        UNION ALL
        SELECT dst AS a, src AS b FROM canon_edges
      ) WHERE a <> b
    ),
    gnodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM canon_edges
        UNION ALL
        SELECT dst AS node FROM canon_edges
      )
    ),
    l0 AS MATERIALIZED (SELECT node, node AS lab FROM gnodes),
    {chain}
    """


def lpa_sql(iters: int = 3) -> str:
    """Mirror of pipeline.lpa_communities: the synchronous plurality-
    label recurrence unrolled as MATERIALIZED CTE levels."""
    return (
        PIPELINE_CTES
        + _lpa_chain(iters)
        + f"""SELECT node, lab AS community FROM l{iters}
    """
    )


def conductance_sql(iters: int = 3) -> str:
    """Mirror of pipeline.community_conductance: the shared LPA chain
    at `iters` rounds, then exact integer cut/volume accounting and
    micro-unit integer-division conductance."""
    return (
        PIPELINE_CTES
        + _lpa_chain(iters)
        + f""", lab AS MATERIALIZED (
      SELECT node, lab AS community FROM l{iters}
    ),
    undp AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM canon_edges WHERE src <> dst
    ),
    et AS MATERIALIZED (
      SELECT la.community AS ca, lb.community AS cb
      FROM undp u
      JOIN lab la ON u.a = la.node
      JOIN lab lb ON u.b = lb.node
    ),
    mtot AS (SELECT count(*) AS m FROM undp),
    internal AS (
      SELECT ca AS community, count(*) AS internal_edges
      FROM et WHERE ca = cb GROUP BY 1
    ),
    cut AS (
      SELECT community, count(*) AS cut_edges FROM (
        SELECT ca AS community FROM et WHERE ca <> cb
        UNION ALL
        SELECT cb FROM et WHERE ca <> cb
      ) GROUP BY 1
    ),
    nn AS (
      SELECT community, count(*) AS n_nodes FROM lab GROUP BY 1
    ),
    base AS (
      SELECT nn.community, CAST(nn.n_nodes AS INT) AS n_nodes,
             CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
             CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
             m
      FROM nn
      LEFT JOIN internal i ON nn.community = i.community
      LEFT JOIN cut c ON nn.community = c.community
      CROSS JOIN mtot
    )
    SELECT community, n_nodes, internal_edges, cut_edges,
           CAST(2 * internal_edges + cut_edges AS BIGINT) AS volume,
           CAST(CASE WHEN least(2 * internal_edges + cut_edges,
                               2 * m - (2 * internal_edges + cut_edges)) > 0
                THEN (cut_edges * 1000000)
                     // least(2 * internal_edges + cut_edges,
                              2 * m - (2 * internal_edges + cut_edges))
                ELSE 0 END AS BIGINT) AS conductance_micro
    FROM base
    """
    )


def skew_report_sql(k: int = 10) -> str:
    """Mirror of pipeline.skew_report: endpoint-incidence degrees,
    deterministic (degree desc, node asc) top-k, exact integer
    shares."""
    return PIPELINE_CTES + f""",
    degs AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT src AS node FROM canon_edges
        UNION ALL
        SELECT dst FROM canon_edges
      ) GROUP BY 1
    ),
    mm AS (SELECT CAST(2 * count(*) AS BIGINT) AS tot FROM canon_edges)
    SELECT node, degree,
           CAST((degree * 1000000) // tot AS BIGINT) AS share_micro
    FROM degs, mm
    ORDER BY degree DESC, node
    LIMIT {k}
    """


def bgp_match_sql() -> str:
    """Oracle for the GATED bgp_match pattern — the typed 2-hop BGP
    [(?a controls ?b), (?b feeds ?c), (?a rdf:type T0)] written as
    plain SQL joins (bag semantics, no dedup), columns in sorted
    variable order like the operator emits."""
    return PIPELINE_CTES + """
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM canon_edges e1
    JOIN canon_edges e2 ON e2.src = e1.dst AND e2.pred = 'feeds'
    JOIN (SELECT entity_id, value FROM nodes WHERE attr = 'rdf_type') t
      ON t.entity_id = e1.src AND t.value = 'T0'
    WHERE e1.pred = 'controls'
    """


def negative_samples_sql(k: int = 2) -> str:
    """Mirror of pipeline.negative_samples: md5-ranked entity draw,
    self/true-edge corruption filtering."""
    return PIPELINE_CTES + f""",
    ents AS (
      SELECT DISTINCT ent FROM (
        SELECT src AS ent FROM canon_edges
        UNION ALL SELECT dst FROM canon_edges
      )
    ),
    ranked AS (
      SELECT ent, row_number() OVER (ORDER BY ent) - 1 AS r FROM ents
    ),
    nn AS (SELECT count(*) AS n_ents FROM ents),
    js AS (SELECT unnest(generate_series(0, {k - 1})) AS j),
    draws AS (
      SELECT src, pred, dst, CAST(j AS INT) AS j,
             ('0x' || substring(
                md5(src || '|' || pred || '|' || dst || '|' || j), 1, 8
             ))::BIGINT % n_ents AS r
      FROM canon_edges CROSS JOIN js CROSS JOIN nn
    ),
    neg AS (
      SELECT d.src, d.pred, d.dst, d.j, ranked.ent AS neg_dst
      FROM draws d JOIN ranked USING (r)
    )
    SELECT src, pred, dst, j, neg_dst FROM neg
    WHERE neg_dst <> src AND neg_dst <> dst
      AND NOT EXISTS (
        SELECT 1 FROM canon_edges e
        WHERE e.src = neg.src AND e.pred = neg.pred AND e.dst = neg.neg_dst
      )
    """


def neighbor_sample_sql(
    fan1: int = 3, fan2: int = 2, salt: str = "ns0"
) -> str:
    """Mirror of pipeline.neighbor_sample: md5-ranked bounded
    two-hop sample."""
    return PIPELINE_CTES + f""",
    ue AS (SELECT DISTINCT src, dst FROM canon_edges WHERE src <> dst),
    rkd AS (
      SELECT src, dst, row_number() OVER (
        PARTITION BY src
        ORDER BY md5('{salt}' || '|' || src || '|' || dst), dst
      ) AS rn
      FROM ue
    ),
    hop1 AS (SELECT src AS root, dst AS n1 FROM rkd WHERE rn <= {fan1}),
    hop2 AS (SELECT src AS n1, dst AS n2 FROM rkd WHERE rn <= {fan2})
    SELECT root, n1, n2 FROM hop1 JOIN hop2 USING (n1) WHERE n2 <> root
    """

def graph_diff_bus_sql() -> str:
    """Oracle for transforms.graph_diff applied to the bus-branch
    reduction (the one transform that both REMOVES edges — open
    breakers, contracted switches — and ADDS rewired ones): the
    bus_branch_sql chain re-expressed as a CTE, EXCEPT-diffed
    against the original canonical edges in both directions."""
    # bus_branch_sql already MATERIALIZEs its CTE levels (DuckDB
    # inlines plain CTEs per consumer, and the diff references the
    # chain's result twice), so the chain is reused verbatim
    bus_chain = bus_branch_sql()
    head, final = bus_chain.rsplit("SELECT DISTINCT m1.canonical_id", 1)
    return (
        head
        + ", bus AS MATERIALIZED (SELECT DISTINCT m1.canonical_id"
        + final.rstrip().rstrip()
        + """
    ),
    ce AS (SELECT DISTINCT src, pred, dst FROM canon_edges)
    SELECT src, pred, dst, 'added' AS change FROM (
      SELECT src, pred, dst FROM bus
      EXCEPT SELECT src, pred, dst FROM ce
    )
    UNION ALL
    SELECT src, pred, dst, 'removed' AS change FROM (
      SELECT src, pred, dst FROM ce
      EXCEPT SELECT src, pred, dst FROM bus
    )
    """
    )


def kcore_sql(k: int = 2, rounds: int = 4) -> str:
    """Mirror of pipeline.kcore: the peel recurrence unrolled as
    MATERIALIZED levels."""
    levels = []
    for i in range(rounds):
        levels.append(f"""kdeg{i} AS MATERIALIZED (
  SELECT a, count(*) AS deg FROM e{i} GROUP BY a
),
kkeep{i} AS MATERIALIZED (SELECT a FROM kdeg{i} WHERE deg >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e
  JOIN kkeep{i} ka ON e.a = ka.a
  JOIN kkeep{i} kb ON e.b = kb.a
)""")
    chain = ",\n".join(levels)
    return PIPELINE_CTES + f""",
    e0 AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM canon_edges
        UNION ALL
        SELECT dst AS a, src AS b FROM canon_edges
      ) WHERE a <> b
    ),
    {chain}
    SELECT a AS node, CAST(count(*) AS INT) AS degree
    FROM e{rounds} GROUP BY a HAVING count(*) >= {k}
    """


def landmark_distances_sql(n_landmarks: int = 4, max_rounds: int = 4) -> str:
    """Mirror of pipeline.landmark_distances: the BFS min-union
    recurrence unrolled as MATERIALIZED levels."""
    levels = []
    for i in range(max_rounds):
        levels.append(f"""ld{i + 1} AS MATERIALIZED (
  SELECT node, landmark, min(d) AS d FROM (
    SELECT node, landmark, d FROM ld{i}
    UNION ALL
    SELECT u.b AS node, l.landmark, l.d + 1 AS d
    FROM ld{i} l JOIN lund u ON l.node = u.a
  ) GROUP BY node, landmark
)""")
    chain = ",\n".join(levels)
    return PIPELINE_CTES + f""",
    lund AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM canon_edges
        UNION ALL
        SELECT dst AS a, src AS b FROM canon_edges
      ) WHERE a <> b
    ),
    lnodes AS (SELECT DISTINCT a AS node FROM lund),
    lms AS MATERIALIZED (
      SELECT node AS landmark FROM lnodes ORDER BY node
      LIMIT {n_landmarks}
    ),
    ld0 AS MATERIALIZED (
      SELECT landmark AS node, landmark, 0 AS d FROM lms
    ),
    {chain}
    SELECT node, landmark, CAST(d AS INT) AS dist FROM ld{max_rounds}
    """


def linkpred_features_sql(max_center_degree: int = 64) -> str:
    """Mirror of pipeline.linkpred_features: capped-center wedges,
    fixed-point Adamic-Adar."""
    return PIPELINE_CTES + f""",
    pund AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM canon_edges
        UNION ALL
        SELECT dst AS a, src AS b FROM canon_edges
      ) WHERE a <> b
    ),
    pdeg AS MATERIALIZED (SELECT a, count(*) AS deg FROM pund GROUP BY a),
    pcent AS MATERIALIZED (
      SELECT a, deg FROM pdeg WHERE deg >= 2 AND deg <= {max_center_degree}
    ),
    pce AS MATERIALIZED (
      SELECT u.a AS v, u.b AS u, c.deg
      FROM pund u JOIN pcent c ON u.a = c.a
    ),
    ppairs AS MATERIALIZED (
      SELECT w1.u AS node_a, w2.u AS node_b,
             CAST(count(*) AS INT) AS common_neighbors,
             sum(CAST(round(1000000000.0 / ln(w1.deg)) AS BIGINT)) AS aa_sum
      FROM pce w1 JOIN pce w2 ON w1.v = w2.v AND w1.u < w2.u
      GROUP BY 1, 2
    )
    SELECT p.node_a, p.node_b, p.common_neighbors,
           round(p.aa_sum / 1000000000.0, 6) AS aa_score,
           coalesce(e.a IS NOT NULL, FALSE) AS is_edge
    FROM ppairs p
    LEFT JOIN (SELECT a, b FROM pund WHERE a < b) e
      ON p.node_a = e.a AND p.node_b = e.b
    """


def degree_distribution_sql() -> str:
    """Mirror of pipeline.degree_distribution (total degree counts
    both directions, parallel edges included — the same multiset
    node_degree counts)."""
    return PIPELINE_CTES + """
    , ddeg AS MATERIALIZED (
      SELECT n, count(*) AS degree FROM (
        SELECT src AS n FROM canon_edges
        UNION ALL SELECT dst FROM canon_edges
      ) GROUP BY n
    ),
    dh AS MATERIALIZED (
      SELECT degree, count(*) AS n_nodes FROM ddeg GROUP BY degree
    ),
    dt AS (SELECT sum(n_nodes) AS n_total FROM dh)
    SELECT CAST(degree AS INT) AS degree,
           CAST(n_nodes AS INT) AS n_nodes,
           round(n_nodes * 1.0 / n_total, 6) AS pct
    FROM dh CROSS JOIN dt
    """


def fact_fusion_sql() -> str:
    """Majority-vote fusion oracle (pipeline.fact_fusion): per
    (canonical entity, attr), the most-asserted value with the
    lexicographically-smallest tie-break — computed with a window
    rank instead of the engine's min_by struct."""
    return PIPELINE_CTES + """
    , asserts AS (
      SELECT c.canonical_id AS entity_id, tr.pred AS attr, tr.obj AS value
      FROM triples tr JOIN cmap c ON tr.subj = c.entity_id
      WHERE tr.obj_kind IN ('type', 'literal', 'enum')
    ),
    votes AS (
      SELECT entity_id, attr, value, count(*) AS support
      FROM asserts GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY entity_id, attr ORDER BY support DESC, value
      ) AS rn FROM votes
    ),
    totals AS (
      SELECT entity_id, attr,
             CAST(sum(support) AS BIGINT) AS n_assertions,
             CAST(count(*) AS INT) AS n_values
      FROM votes GROUP BY 1, 2
    )
    SELECT r.entity_id, r.attr, r.value AS fused_value, r.support,
           t.n_assertions, t.n_values, t.n_values > 1 AS has_conflict
    FROM ranked r
    JOIN totals t ON r.entity_id = t.entity_id AND r.attr = t.attr
    WHERE r.rn = 1
    """


def schema_induction_sql() -> str:
    """Schema-induction oracle (pipeline.schema_induction): per-pred
    dominant (domain, range) signature via window rank over signature
    counts; range classes replicate the engine's CASE order."""
    return PIPELINE_CTES + """
    , sig_rows AS (
      SELECT tr.pred,
             COALESCE(es.type, 'UNDECLARED') AS domain,
             COALESCE(eo.type, 'UNRESOLVED') AS range
      FROM triples tr
      LEFT JOIN entities es ON tr.subj = es.entity_id
      LEFT JOIN entities eo ON tr.obj = eo.entity_id
      WHERE tr.obj_kind = 'ref'
      UNION ALL
      SELECT tr.pred,
             COALESCE(es.type, 'UNDECLARED') AS domain,
             CASE WHEN tr.obj_kind = 'enum' THEN 'enum'
                  WHEN tr.obj IN ('true', 'false') THEN 'bool'
                  WHEN regexp_matches(tr.obj, '^-?[0-9]+$') THEN 'int'
                  ELSE 'string' END AS range
      FROM triples tr
      LEFT JOIN entities es ON tr.subj = es.entity_id
      WHERE tr.obj_kind IN ('literal', 'enum')
    ),
    sig AS (
      SELECT pred, domain, range, count(*) AS n
      FROM sig_rows GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY pred ORDER BY n DESC, domain, range
      ) AS rn FROM sig
    ),
    totals AS (
      SELECT pred, max(n) AS n_dom, CAST(sum(n) AS BIGINT) AS n_total,
             CAST(count(*) AS INT) AS n_signatures
      FROM sig GROUP BY 1
    )
    SELECT r.pred, r.domain AS dom_domain, r.range AS dom_range,
           t.n_dom, t.n_total, t.n_signatures,
           round(t.n_dom * 1.0 / t.n_total, 6) AS conformance
    FROM ranked r JOIN totals t ON r.pred = t.pred
    WHERE r.rn = 1
    """


def _scd2_ctes(stream_cte: str, key_a: str, key_b: str, val: str) -> str:
    """Shared SCD2 run construction: lag + running change-sum over
    the stable mention order partitioned by (key_a, key_b), ending in
    a `hist` CTE of version rows with first-assertion provenance —
    used by the attr_history, asof_nodes and edge_history oracles."""
    order = "ORDER BY conv_id, turn_idx, mention_idx"
    part = f"PARTITION BY {key_a}, {key_b}"
    return f"""a AS ({stream_cte}),
    r AS (
      SELECT *,
             row_number() OVER ({part} {order}) AS rn,
             CASE WHEN lag({val}) OVER ({part} {order})
                  IS DISTINCT FROM {val} THEN 1 ELSE 0 END AS chg
      FROM a
    ),
    v AS (
      SELECT *, sum(chg) OVER (
        {part} {order} ROWS UNBOUNDED PRECEDING
      ) AS version FROM r
    ),
    hist AS MATERIALIZED (
      SELECT {key_a}, {key_b}, CAST(version AS INT) AS version,
             min({val}) AS {val},
             min_by(conv_id, rn) AS from_conv_id,
             min_by(turn_idx, rn) AS from_turn_idx,
             min_by(mention_idx, rn) AS from_mention_idx,
             count(*) AS n_assertions
      FROM v GROUP BY {key_a}, {key_b}, version
    )"""


_ATTR_STREAM_SQL = """
      SELECT c.canonical_id AS entity_id, tr.pred AS attr,
             tr.obj AS value, tr.conv_id, tr.turn_idx, tr.mention_idx
      FROM triples tr JOIN cmap c ON tr.subj = c.entity_id
      WHERE tr.obj_kind IN ('literal', 'enum')
"""


def attr_history_sql() -> str:
    """SCD2 attribute-timeline oracle (pipeline.attr_history): lag +
    running change-sum over the stable mention order, run provenance
    via min_by on the in-window row_number."""
    return PIPELINE_CTES + f"""
    , {_scd2_ctes(_ATTR_STREAM_SQL, "entity_id", "attr", "value")}
    SELECT entity_id, attr, version, value, from_conv_id,
           from_turn_idx, from_mention_idx, n_assertions
    FROM hist
    """


def asof_nodes_sql(conv_watermark: str) -> str:
    """Mirror of pipeline.asof_nodes: max-version run per (entity,
    attr) among runs starting at or before the watermark (string
    comparison — the mention stream's own order)."""
    return PIPELINE_CTES + f"""
    , {_scd2_ctes(_ATTR_STREAM_SQL, "entity_id", "attr", "value")}
    SELECT entity_id, attr,
           max_by(value, version) AS value,
           CAST(max(version) AS INT) AS version
    FROM hist
    WHERE from_conv_id <= '{conv_watermark}'
    GROUP BY entity_id, attr
    """


_EDGE_STREAM_SQL = """
      SELECT cs.canonical_id AS src, tr.pred, cd.canonical_id AS dst,
             tr.conv_id, tr.turn_idx, tr.mention_idx
      FROM triples tr
      JOIN entities en ON tr.obj = en.entity_id
      JOIN cmap cs ON tr.subj = cs.entity_id
      JOIN cmap cd ON tr.obj = cd.entity_id
      WHERE tr.obj_kind = 'ref' AND tr.pred <> 'sameAs'
"""


def edge_history_sql() -> str:
    """Mirror of pipeline.edge_history: the SCD2 run construction
    over the resolved canonical edge-assertion stream."""
    return PIPELINE_CTES + f"""
    , {_scd2_ctes(_EDGE_STREAM_SQL, "src", "pred", "dst")}
    SELECT src, pred, version, dst, from_conv_id,
           from_turn_idx, from_mention_idx, n_assertions
    FROM hist
    """


def edge_provenance_sql() -> str:
    """Mirror of pipeline.edge_provenance: per-edge support counts +
    lexicographic-first provenance via min(ROW(...))."""
    return PIPELINE_CTES + f"""
    , es AS ({_EDGE_STREAM_SQL}),
    agg AS (
      SELECT src, pred, dst,
             count(*) AS n_asserts,
             CAST(count(DISTINCT conv_id) AS INT) AS n_convs,
             min(struct_pack(conv_id := conv_id, turn_idx := turn_idx,
                             mention_idx := mention_idx)) AS first
      FROM es GROUP BY 1, 2, 3
    )
    SELECT src, pred, dst, n_asserts, n_convs,
           first.conv_id AS first_conv_id,
           first.turn_idx AS first_turn_idx,
           first.mention_idx AS first_mention_idx
    FROM agg
    """


ENTITY_FEATS_CTE = """
feats AS (
  SELECT DISTINCT c.canonical_id AS entity_id,
         'a:' || tr.pred || '=' || tr.obj AS feat
  FROM triples tr JOIN cmap c ON tr.subj = c.entity_id
  WHERE tr.obj_kind IN ('type', 'literal', 'enum')
  UNION
  SELECT DISTINCT src AS entity_id, 'o:' || pred || '>' || dst AS feat
  FROM canon_edges
  UNION
  SELECT DISTINCT dst AS entity_id, 'i:' || pred || '<' || src AS feat
  FROM canon_edges
)
"""


def _match_pair_ctes(num: int, den: int) -> str:
    """Brute-force all-pairs feature-set match CTEs (no prefix
    filter, no hashing — a different algorithm than the engine's
    PPJoin, computing the same exact answer), ending in a
    `match_pairs` CTE — shared by the entity_match and er_clusters
    oracles."""
    return f"""{ENTITY_FEATS_CTE.strip()},
    sizes AS (SELECT entity_id, count(*) AS n FROM feats GROUP BY 1),
    inter AS (
      SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
             count(*) AS c
      FROM feats a JOIN feats b
        ON a.feat = b.feat AND a.entity_id < b.entity_id
      GROUP BY 1, 2
    ),
    match_pairs AS MATERIALIZED (
      SELECT entity_a, entity_b, CAST(c AS INT) AS n_inter,
             round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON entity_a = sa.entity_id
      JOIN sizes sb ON entity_b = sb.entity_id
      WHERE {den} * c >= {num} * (sa.n + sb.n - c)
    )"""


def entity_match_sql(num: int = 2, den: int = 5) -> str:
    """INDEPENDENT oracle for pipeline.entity_match: brute-force
    all-pairs feature-set Jaccard via `_match_pair_ctes`, integer
    threshold comparison, same 6dp jaccard."""
    return PIPELINE_CTES + f"""
    , {_match_pair_ctes(num, den)}
    SELECT entity_a, entity_b, n_inter, jaccard FROM match_pairs
    """


def er_clusters_sql(num: int = 2, den: int = 5) -> str:
    """INDEPENDENT oracle for pipeline.er_clusters: connected
    components over the brute-force match pairs via a recursive-CTE
    reachability closure (cluster id = min reachable entity) — a
    different algorithm than the engine's per-partition union-find
    labels."""
    return PIPELINE_CTES + f"""
    , {_match_pair_ctes(num, den)},
    sym AS MATERIALIZED (
      SELECT entity_a AS a, entity_b AS b FROM match_pairs
      UNION
      SELECT entity_b, entity_a FROM match_pairs
    ),
    mreach AS (
      SELECT a AS node, a AS peer FROM sym
      UNION
      SELECT r.node, s.b FROM mreach r JOIN sym s ON r.peer = s.a
    ),
    cl AS (
      SELECT node AS entity_id, min(peer) AS cluster_id
      FROM mreach GROUP BY 1
    ),
    sz AS (SELECT cluster_id, count(*) AS c FROM cl GROUP BY 1)
    SELECT cl.entity_id, cl.cluster_id, CAST(sz.c AS INT) AS cluster_size
    FROM cl JOIN sz USING (cluster_id)
    """


TRUTH_SCALE = 10**6


def _truth_ctes(iters: int) -> str:
    """Unrolled fixed-point levels for pipeline._truth_rounds: claims
    → uniform trust t0 → per round r (score s{{r}} via window-rank
    election w{{r}} → trust t{{r}} by integer floor division). All
    integer micro-units, mirroring the engine exactly."""
    levels = []
    for i in range(1, iters + 1):
        levels.append(f"""s{i} AS MATERIALIZED (
  SELECT c.entity_id, c.attr, c.value,
         CAST(sum(t.trust) AS BIGINT) AS score,
         count(*) AS n_sources
  FROM claims c JOIN t{i - 1} t USING (conv_id)
  GROUP BY 1, 2, 3
),
w{i} AS MATERIALIZED (
  SELECT entity_id, attr, value, score, n_sources FROM (
    SELECT *, row_number() OVER (
      PARTITION BY entity_id, attr ORDER BY score DESC, value
    ) AS rn FROM s{i}
  ) WHERE rn = 1
),
t{i} AS MATERIALIZED (
  SELECT nc.conv_id,
         CAST(({TRUTH_SCALE} * coalesce(g.n_correct, 0)) // nc.n_claims
              AS BIGINT) AS trust,
         coalesce(g.n_correct, 0) AS n_correct
  FROM nc LEFT JOIN (
    SELECT c.conv_id, count(*) AS n_correct
    FROM claims c
    JOIN w{i} w ON c.entity_id = w.entity_id AND c.attr = w.attr
               AND c.value = w.value
    GROUP BY 1
  ) g ON nc.conv_id = g.conv_id
)""")
        # noqa: the loop builds t{i} consumed by round i+1
    chain = ",\n".join(levels)
    return f"""claims AS MATERIALIZED (
      SELECT DISTINCT tr.conv_id, c.canonical_id AS entity_id,
             tr.pred AS attr, tr.obj AS value
      FROM triples tr JOIN cmap c ON tr.subj = c.entity_id
      WHERE tr.obj_kind IN ('type', 'literal', 'enum')
    ),
    nc AS MATERIALIZED (
      SELECT conv_id, count(*) AS n_claims FROM claims GROUP BY 1
    ),
    t0 AS (SELECT conv_id, CAST({TRUTH_SCALE} AS BIGINT) AS trust FROM nc),
    {chain}"""


def truth_discovery_sql(iters: int = 2) -> str:
    """Mirror of pipeline.truth_discovery at `iters` trust rounds."""
    return PIPELINE_CTES + f"""
    , {_truth_ctes(iters)}
    SELECT entity_id, attr, value, score AS score_micro,
           CAST(n_sources AS INT) AS n_sources
    FROM w{iters}
    """


def source_trust_sql(iters: int = 2) -> str:
    """Mirror of pipeline.source_trust at `iters` trust rounds."""
    return PIPELINE_CTES + f"""
    , {_truth_ctes(iters)}
    SELECT nc.conv_id, CAST(nc.n_claims AS INT) AS n_claims,
           CAST(t.n_correct AS INT) AS n_correct,
           t.trust AS trust_micro
    FROM nc JOIN t{iters} t USING (conv_id)
    """


def metapaths_sql() -> str:
    """INDEPENDENT oracle for pipeline.metapaths: brute-force 2-path
    ENUMERATION (self-join on the mid node) + group count — the
    quadratic-in-hub-degree algorithm the engine's factorized census
    deliberately avoids, computing the same exact answer."""
    return PIPELINE_CTES + """
    , et AS (SELECT entity_id, type FROM entities)
    SELECT ta.type AS src_type, e1.pred AS pred1, tm.type AS mid_type,
           e2.pred AS pred2, tc.type AS dst_type,
           count(*) AS n_paths
    FROM canon_edges e1
    JOIN canon_edges e2 ON e1.dst = e2.src
    JOIN et ta ON e1.src = ta.entity_id
    JOIN et tm ON e1.dst = tm.entity_id
    JOIN et tc ON e2.dst = tc.entity_id
    GROUP BY 1, 2, 3, 4, 5
    """


def ppr_sql(
    seed_type: str = "T0", iters: int = 4, scale: int = 10**12
) -> str:
    """Unrolled fixed-point personalized-PageRank recurrence (mirror
    of pipeline.ppr seeded with the entities of `seed_type`): teleport
    and dangling mass return to the seed set uniformly. Integer-only
    arithmetic — bit-exact vs the engine, like pagerank_sql."""
    head = f"""
    , ppr_edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM canon_edges)
    , ppr_nodes AS MATERIALIZED (
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM ppr_edges
          UNION ALL SELECT dst FROM ppr_edges
        )
      )
    , ppr_seeds AS MATERIALIZED (
        SELECT n.id FROM ppr_nodes n
        JOIN entities e ON e.entity_id = n.id
        WHERE e.type = '{seed_type}'
      )
    , ppr_marked AS MATERIALIZED (
        SELECT n.id, CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS is_seed
        FROM ppr_nodes n LEFT JOIN ppr_seeds s ON s.id = n.id
      )
    , ppr_ns AS MATERIALIZED (SELECT count(*) AS ns FROM ppr_seeds)
    , ppr_deg AS MATERIALIZED (
        SELECT src AS id, count(*) AS deg FROM ppr_edges GROUP BY src
      )
    , ppr_r0 AS MATERIALIZED (
        SELECT id, is_seed,
               CAST(is_seed * ({scale} // ns) AS BIGINT) AS rank
        FROM ppr_marked CROSS JOIN ppr_ns
      )
    """
    steps = []
    for i in range(1, iters + 1):
        prev = f"ppr_r{i - 1}"
        steps.append(f"""
    , ppr_c{i} AS MATERIALIZED (
        SELECT e.dst AS id, sum(r.rank // d.deg) AS contrib
        FROM {prev} r
        JOIN ppr_deg d ON d.id = r.id
        JOIN ppr_edges e ON e.src = r.id
        GROUP BY e.dst
      )
    , ppr_d{i} AS MATERIALIZED (
        SELECT COALESCE(sum(r.rank), 0) AS dang
        FROM {prev} r LEFT JOIN ppr_deg d ON d.id = r.id
        WHERE d.id IS NULL
      )
    , ppr_r{i} AS MATERIALIZED (
        SELECT m.id, m.is_seed,
               CAST(m.is_seed * ({3 * scale} // (20 * n.ns))
                    + (17 * (COALESCE(c.contrib, 0)
                             + m.is_seed * (dg.dang // n.ns))) // 20
                 AS BIGINT) AS rank
        FROM ppr_marked m
        CROSS JOIN ppr_ns n
        CROSS JOIN ppr_d{i} dg
        LEFT JOIN ppr_c{i} c ON c.id = m.id
      )
    """)
    return (
        PIPELINE_CTES
        + head
        + "".join(steps)
        + f"""
    SELECT id AS entity_id, CAST(is_seed AS INT) AS is_seed,
           rank AS rank_fp, rank / {float(scale)} AS rank_frac
    FROM ppr_r{iters}
    """
    )


def walk_corpus_sql(
    walks_per_node: int = 2, length: int = 4, salt: str = "wk0"
) -> str:
    """Unrolled mirror of pipeline.walk_corpus: per step, a join of
    the frontier to the edge list + a row_number() pick ordered by
    the same md5(salt|walk_id|step|dst) key. Deterministic — both
    engines hash identical strings."""
    ks = ", ".join(f"('{i}')" for i in range(walks_per_node))
    head = f"""
    , wk_edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM canon_edges WHERE src <> dst
      )
    , wk_nodes AS MATERIALIZED (
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM wk_edges
          UNION ALL SELECT dst FROM wk_edges
        )
      )
    , wk_ks (k) AS (VALUES {ks})
    , wk_f0 AS MATERIALIZED (
        SELECT id || '#' || k AS walk_id, id AS node
        FROM wk_nodes CROSS JOIN wk_ks
      )
    """
    steps = []
    for s in range(1, length + 1):
        steps.append(f"""
    , wk_f{s} AS MATERIALIZED (
        SELECT walk_id, node FROM (
          SELECT f.walk_id, e.dst AS node,
                 row_number() OVER (
                   PARTITION BY f.walk_id
                   ORDER BY md5('{salt}' || '|' || f.walk_id
                                || '|' || '{s}' || '|' || e.dst),
                            e.dst
                 ) AS rn
          FROM wk_f{s - 1} f JOIN wk_edges e ON e.src = f.node
        ) WHERE rn = 1
      )
    """)
    unions = "\n    UNION ALL ".join(
        f"SELECT walk_id, {s} AS step, node FROM wk_f{s}"
        for s in range(length + 1)
    )
    return PIPELINE_CTES + head + "".join(steps) + f"""
    SELECT walk_id, CAST(step AS INT) AS step, node FROM (
      {unions}
    )
    """


def linkpred_eval_sql(k: int = 4) -> str:
    """Mirror of pipeline.linkpred_eval: the same md5 negative draw
    (negative_samples_sql's CTEs), brute-force common-neighbor counts,
    the documented lexicographic tie rule, and integer micro-unit MRR
    — bit-exact vs the engine."""
    return PIPELINE_CTES + f""",
    lpe_ents AS MATERIALIZED (
      SELECT DISTINCT ent FROM (
        SELECT src AS ent FROM canon_edges
        UNION ALL SELECT dst FROM canon_edges
      )
    ),
    lpe_ranked AS MATERIALIZED (
      SELECT ent, row_number() OVER (ORDER BY ent) - 1 AS r FROM lpe_ents
    ),
    lpe_nn AS (SELECT count(*) AS n_ents FROM lpe_ents),
    lpe_js AS (SELECT unnest(generate_series(0, {k - 1})) AS j),
    lpe_draws AS MATERIALIZED (
      SELECT src, pred, dst, CAST(j AS INT) AS j,
             ('0x' || substring(
                md5(src || '|' || pred || '|' || dst || '|' || j), 1, 8
             ))::BIGINT % n_ents AS r
      FROM canon_edges CROSS JOIN lpe_js CROSS JOIN lpe_nn
    ),
    lpe_negs AS MATERIALIZED (
      SELECT d.src, d.pred, d.dst, d.j, lpe_ranked.ent AS neg_dst
      FROM lpe_draws d JOIN lpe_ranked USING (r)
      WHERE lpe_ranked.ent <> d.src AND lpe_ranked.ent <> d.dst
        AND NOT EXISTS (
          SELECT 1 FROM canon_edges e
          WHERE e.src = d.src AND e.pred = d.pred
            AND e.dst = lpe_ranked.ent
        )
    ),
    lpe_und AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM canon_edges
        UNION ALL SELECT dst AS a, src AS b FROM canon_edges
      ) WHERE a <> b
    ),
    lpe_pos AS MATERIALIZED (
      SELECT DISTINCT src, pred, dst FROM canon_edges
    ),
    lpe_cands AS MATERIALIZED (
      SELECT src, pred, dst, dst AS cand, 1 AS is_pos, -1 AS j
      FROM lpe_pos
      UNION ALL
      SELECT src, pred, dst, neg_dst AS cand, 0 AS is_pos, j
      FROM lpe_negs
    ),
    lpe_cn AS MATERIALIZED (
      SELECT c.src, c.pred, c.dst, c.cand, c.is_pos, c.j,
             count(*) AS cn
      FROM lpe_cands c
      JOIN lpe_und u1 ON u1.a = c.src
      JOIN lpe_und u2 ON u2.a = c.cand AND u2.b = u1.b
      GROUP BY 1, 2, 3, 4, 5, 6
    ),
    lpe_scored AS MATERIALIZED (
      SELECT c.src, c.pred, c.dst, c.cand, c.is_pos, c.j,
             COALESCE(n.cn, 0) AS cn
      FROM lpe_cands c
      LEFT JOIN lpe_cn n
        ON n.src = c.src AND n.pred = c.pred AND n.dst = c.dst
       AND n.cand = c.cand AND n.is_pos = c.is_pos AND n.j = c.j
    ),
    lpe_ranks AS MATERIALIZED (
      SELECT p.src, p.pred, p.dst,
             1 + COALESCE(sum(
               CASE WHEN g.cn > p.cn
                      OR (g.cn = p.cn AND g.cand < p.dst)
                    THEN 1 ELSE 0 END
             ), 0) AS rank
      FROM lpe_scored p
      LEFT JOIN lpe_scored g
        ON g.is_pos = 0 AND g.src = p.src AND g.pred = p.pred
       AND g.dst = p.dst
      WHERE p.is_pos = 1
      GROUP BY 1, 2, 3
    )
    SELECT pred, count(*) AS n_pos,
           sum(1000000 // rank) AS sum_rr_micro,
           sum(1000000 // rank) // count(*) AS mrr_micro,
           sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS hits1,
           sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS hits3
    FROM lpe_ranks
    GROUP BY pred
    """


def wl_colors_sql(rounds: int = 2) -> str:
    """Unrolled mirror of pipeline.wl_colors: per round, a (node,
    sig) count over both edge directions, string_agg of 'sig*count'
    ordered by the element string (== the engine's sort_array of the
    same strings — ASCII-only content, byte order both sides), and
    md5(own_color || '||' || multiset). Hash-exact vs the engine."""
    head = """
    , wl_edges AS MATERIALIZED (
        SELECT DISTINCT src, pred, dst FROM canon_edges
      )
    , wl_nodes AS MATERIALIZED (
        SELECT DISTINCT id FROM (
          SELECT src AS id FROM wl_edges
          UNION ALL SELECT dst FROM wl_edges
        )
      )
    , wl_c0 AS MATERIALIZED (
        SELECT n.id, COALESCE(e.type, 'UNDECLARED') AS c
        FROM wl_nodes n LEFT JOIN entities e ON e.entity_id = n.id
      )
    """
    steps = []
    for r in range(1, rounds + 1):
        prev = f"wl_c{r - 1}"
        steps.append(f"""
    , wl_sig{r} AS MATERIALIZED (
        SELECT id, sig, count(*) AS n FROM (
          SELECT e.src AS id, '>' || '|' || e.pred || '|' || c.c AS sig
          FROM wl_edges e JOIN {prev} c ON c.id = e.dst
          UNION ALL
          SELECT e.dst AS id, '<' || '|' || e.pred || '|' || c.c AS sig
          FROM wl_edges e JOIN {prev} c ON c.id = e.src
        ) GROUP BY id, sig
      )
    , wl_arr{r} AS MATERIALIZED (
        SELECT id,
               string_agg(sig || '*' || n, ',' ORDER BY sig || '*' || n)
                 AS ms
        FROM wl_sig{r} GROUP BY id
      )
    , wl_c{r} AS MATERIALIZED (
        SELECT p.id, md5(p.c || '||' || COALESCE(a.ms, '')) AS c
        FROM {prev} p LEFT JOIN wl_arr{r} a ON a.id = p.id
      )
    """)
    return PIPELINE_CTES + head + "".join(steps) + f"""
    , wl_sizes AS (
        SELECT c, count(*) AS n_class FROM wl_c{rounds} GROUP BY c
      )
    SELECT f.id AS entity_id, f.c AS wl_color, s.n_class
    FROM wl_c{rounds} f JOIN wl_sizes s ON s.c = f.c
    """


def funcdeps_sql() -> str:
    """FD-discovery oracle (pipeline.funcdeps): the same counting
    form over the canonical node table — per (a1, a2), a1 values
    mapping to more than one distinct a2 value are violations.
    Consumes the SAME derived p_int_parity attribute as the gate
    (the fixture's raw attributes are mutually independent; the
    derived column gives fd_holds a live true branch)."""
    return PIPELINE_CTES + """
    , fd_nodes AS MATERIALIZED (
      SELECT entity_id, attr, value FROM nodes
      UNION ALL
      SELECT entity_id, 'p_int_parity' AS attr,
             CAST(value::BIGINT % 2 AS VARCHAR) AS value
      FROM nodes WHERE attr = 'p_int'
    ),
    fd_pairs AS MATERIALIZED (
      SELECT x.entity_id, x.attr AS a1, x.value AS v1,
             y.attr AS a2, y.value AS v2
      FROM fd_nodes x JOIN fd_nodes y
        ON x.entity_id = y.entity_id AND x.attr <> y.attr
    ),
    fd_lhs AS (
      SELECT a1, a2, v1, count(DISTINCT v2) AS n_rhs,
             count(*) AS support
      FROM fd_pairs GROUP BY 1, 2, 3
    )
    SELECT a1, a2,
           CAST(sum(support) AS BIGINT) AS n_pairs,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           CAST(CASE WHEN sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS INT) AS fd_holds
    FROM fd_lhs GROUP BY a1, a2
    """


def attr_impute_sql(num: int = 1, den: int = 2) -> str:
    """Imputation oracle (pipeline.attr_impute): type-modal election
    by window rank (the engine uses a min_by struct), integer
    majority threshold, anti-join against present pairs. Consumes
    the SAME deterministic ~1/5 md5 holdout of node rows as the gate
    (the fixture graph is attribute-complete; the holdout plants the
    missing slots the operator exists for)."""
    return PIPELINE_CTES + f"""
    , ai_nodes AS MATERIALIZED (
      SELECT * FROM nodes
      WHERE ('0x' || substring(
               md5(entity_id || '|' || attr), 1, 8
             ))::BIGINT % 5 <> 0
    ),
    ai_ct AS MATERIALIZED (
      SELECT DISTINCT c.canonical_id AS entity_id, e.type
      FROM cmap c JOIN entities e ON e.entity_id = c.entity_id
    ),
    ai_freq AS MATERIALIZED (
      SELECT t.type, n.attr, n.value, count(*) AS support
      FROM ai_nodes n JOIN ai_ct t ON t.entity_id = n.entity_id
      GROUP BY 1, 2, 3
    ),
    ai_tot AS (
      SELECT type, attr, CAST(sum(support) AS BIGINT) AS n_typed
      FROM ai_freq GROUP BY 1, 2
    ),
    ai_dom AS (
      SELECT f.type, f.attr, f.value AS imputed_value,
             CAST(f.support AS BIGINT) AS support_n, t.n_typed
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY type, attr ORDER BY support DESC, value
        ) AS rn FROM ai_freq
      ) f
      JOIN ai_tot t ON t.type = f.type AND t.attr = f.attr
      WHERE f.rn = 1 AND {den} * f.support > {num} * t.n_typed
    )
    SELECT s.entity_id, s.attr, s.imputed_value, s.support_n,
           s.n_typed
    FROM (
      SELECT ct.entity_id, d.attr, d.imputed_value, d.support_n,
             d.n_typed
      FROM ai_ct ct JOIN ai_dom d ON d.type = ct.type
    ) s
    WHERE NOT EXISTS (
      SELECT 1 FROM ai_nodes n
      WHERE n.entity_id = s.entity_id AND n.attr = s.attr
    )
    """
