"""Stage 4-5 tests: checkpoint commit, idempotent resume, roundtrip
fixpoint (reference analogs: refuse-overwrite cimpy/cimexport.py:322-334,
roundtrip tests tests/test_export.py:99-213)."""

from __future__ import annotations

import json
import os
import threading

from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
from cimpy_spark.operators.canonicalize import canonical_edges
from cimpy_spark.operators.materialize import STAGES, roundtrip_check, run_pipeline
from cimpy_spark.plans.lineage import LineageLedger
from tests.conftest import SF_TINY


def test_pipeline_commits_all_stages(spark, tmp_path):
    out_dir = str(tmp_path / "kg")
    t = transcripts_from_events(spark, SF_TINY)
    res = run_pipeline(spark, t, out_dir)
    ledger = LineageLedger(out_dir)
    for stage in STAGES:
        assert ledger.is_committed(stage), stage
        assert res[stage].count() == ledger.records()[stage]["rows_out"]
    # partitioned layout: edges by pred, nodes by attr (profile-routing analog)
    assert any(p.startswith("pred=") for p in os.listdir(ledger.stage_dir("canon_edges")))
    assert any(p.startswith("profile=") for p in os.listdir(ledger.stage_dir("nodes")))
    # builds overlap, but the records land in STAGES order
    with open(ledger.path) as f:
        assert [json.loads(line)["stage"] for line in f] == STAGES


def test_independent_stages_build_concurrently(spark, tmp_path, monkeypatch):
    """`edges` (reads `linked`) and `cmap_full` (reads `triples` and
    `entities`) are independent: their builds must be able to meet.
    Run one after the other, the first build breaks the barrier. The
    builds run in stage threads that carry the caller's job group."""
    from cimpy_spark.operators import materialize

    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=120)
    groups = []

    def meeting(fn):
        def build(*args):
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            barrier.wait()
            return fn(*args)

        return build

    monkeypatch.setattr(materialize, "edges_from_resolved", meeting(materialize.edges_from_resolved))
    monkeypatch.setattr(materialize, "canonical_labels", meeting(materialize.canonical_labels))
    t = transcripts_from_events(spark, SF_TINY)
    sc.setJobGroup("dag", "concurrent stage builds")
    try:
        res = run_pipeline(spark, t, str(tmp_path / "kg"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not barrier.broken
    assert groups == ["dag", "dag"]
    assert res["nodes"].count() > 0


def test_resume_skips_committed_stages(spark, tmp_path):
    out_dir = str(tmp_path / "kg")
    t = transcripts_from_events(spark, SF_TINY)
    run_pipeline(spark, t, out_dir)
    ledger = LineageLedger(out_dir)

    # simulate a crash after stage 'edges': wipe later stages' commits
    for stage in ["quarantine", "cmap", "canon_edges", "nodes"]:
        success = os.path.join(ledger.stage_dir(stage), "_SUCCESS")
        if os.path.exists(success):
            os.remove(success)

    # fingerprint the committed earlier stages
    def mtimes(stage):
        d = ledger.stage_dir(stage)
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before = {s: mtimes(s) for s in ["triples", "entities", "edges"]}
    res2 = run_pipeline(spark, t, out_dir)
    after = {s: mtimes(s) for s in ["triples", "entities", "edges"]}
    assert before == after  # committed stages untouched (idempotent resume)
    for stage in STAGES:
        assert ledger.is_committed(stage)
    assert res2["nodes"].count() > 0


def test_rerun_is_noop_and_lineage_counts(spark, tmp_path):
    out_dir = str(tmp_path / "kg")
    t = transcripts_from_events(spark, SF_TINY)
    run_pipeline(spark, t, out_dir)
    ledger = LineageLedger(out_dir)
    n_lines_before = sum(1 for _ in open(ledger.path))
    # full re-run: everything committed, so every stage is read with
    # the schema its record holds and no Spark job runs (the stage
    # threads inherit the job group)
    sc = spark.sparkContext
    sc.setJobGroup("rerun", "re-run of a complete out_dir")
    try:
        run_pipeline(spark, t, out_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("rerun") == []
    n_lines_after = sum(1 for _ in open(ledger.path))
    assert n_lines_before == n_lines_after  # no stage recomputed
    recs = ledger.records()
    assert recs["triples"]["rows_out"] >= recs["edges"]["rows_out"]


def test_roundtrip_fixpoint(spark, tmp_path, monkeypatch):
    from cimpy_spark.operators import materialize

    out_dir = str(tmp_path / "kg")
    t = transcripts_from_events(spark, SF_TINY)
    run_pipeline(spark, t, out_dir)
    # the re-derivation sizes its map joins from the committed
    # `cmap_full` row count, as the pipeline's own rewrite does
    passed = []

    def recording(edges, cmap, cmap_rows=0):
        passed.append(cmap_rows)
        return canonical_edges(edges, cmap, cmap_rows)

    monkeypatch.setattr(materialize, "canonical_edges", recording)
    assert roundtrip_check(spark, out_dir)
    assert passed == [LineageLedger(out_dir).records()["cmap_full"]["rows_out"]]
    assert passed[0] > 0


def test_bucketed_graph_join_is_exchange_free(spark, tmp_path):
    """Bucketed co-located sink: the consumer join on the bucket key
    must run without a shuffle on either side."""
    from pyspark.sql import functions as F

    from cimpy_spark import pipeline as P
    from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
    from cimpy_spark.operators.materialize import write_bucketed_graph
    from tests.conftest import SF_TINY

    g = P.build_graph(transcripts_from_events(spark, SF_TINY))
    nodes_t, edges_t = write_bucketed_graph(spark, g.nodes, g.canon_edges)
    n = spark.table(nodes_t)
    e = spark.table(edges_t)
    joined = e.join(n, e.src == n.entity_id).select("src", "pred", "attr", "value")
    # tiny test tables would broadcast (which also avoids a shuffle);
    # disable broadcast so the plan must rely on the BUCKET layout —
    # the scale-relevant case where neither side broadcasts
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    # and it returns the same rows as the unbucketed join
    plain = g.canon_edges.join(
        g.nodes, g.canon_edges.src == g.nodes.entity_id
    ).select("src", "pred", "attr", "value")
    assert joined.exceptAll(plain).count() == 0
    assert plain.exceptAll(joined).count() == 0


def test_append_reader_guards_legacy_records(spark, tmp_path):
    """A legacy (non-append) ledger record must not crash the append
    reader: is_append_committed gates it and read_append_stage fails
    loudly rather than reducing over nothing."""
    import pytest

    from cimpy_spark.plans.lineage import LineageLedger

    ledger = LineageLedger(str(tmp_path / "legacy"))
    # legacy-style record: committed, no 'increments' list
    ledger.commit("triples", rows=10, parts=1)
    assert not ledger.is_append_committed("triples")
    with pytest.raises(ValueError):
        ledger.read_append_stage(spark, "triples", "a string")
