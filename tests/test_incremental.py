"""Incremental ingest: half the corpus, then the rest — final
outputs must equal a single full run, and old conversations must not
be re-extracted."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
from cimpy_spark.operators.materialize import STAGES, ingest_increment, run_pipeline
from tests.conftest import SF_TINY


def test_incremental_equals_full(spark, tmp_path):
    t = transcripts_from_events(spark, SF_TINY).cache()
    convs = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]
    half = set(sorted(convs)[: len(convs) // 2])
    t1 = t.filter(F.col("conv_id").isin(list(half)))

    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")

    # batch 1 (bootstrap), then batch 2 (increment over FULL input —
    # already-seen conversations must be skipped, not re-extracted)
    ingest_increment(spark, t1, inc_dir)
    res_inc = ingest_increment(spark, t, inc_dir)

    res_full = run_pipeline(spark, t, full_dir)

    # bootstrap and increment each commit every stage, in STAGES order
    from cimpy_spark.plans.lineage import LineageLedger

    with open(LineageLedger(inc_dir).path) as f:
        assert [json.loads(line)["stage"] for line in f] == STAGES + STAGES

    for stage in ["triples", "entities", "edges", "cmap", "canon_edges", "nodes"]:
        a, b = res_inc[stage], res_full[stage]
        assert a.count() == b.count(), stage
        assert a.exceptAll(b).count() == 0, stage
        assert b.exceptAll(a).count() == 0, stage

    # the keyed header merge is exact: first-wins author/namespace
    # after two increments == one full run (min over all keys)
    hdr_inc = {r["profile"]: (r["author"], r["namespace"]) for r in res_inc["meta"].collect()}
    hdr_full = {r["profile"]: (r["author"], r["namespace"]) for r in res_full["meta"].collect()}
    assert hdr_inc == hdr_full
    assert all(a is not None for pair in hdr_full.values() for a in pair)


def test_crash_between_triples_and_cmap_commits(spark, tmp_path):
    """A crash after the increment's triples commit but before its
    derived commits must not leave the next run with stale derived
    stages (a stale labeling would silently drop the increment's
    sameAs merges)."""
    from cimpy_spark.operators.extract import extract_triples
    from cimpy_spark.plans.lineage import LineageLedger

    t = transcripts_from_events(spark, SF_TINY).cache()
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    t1 = t.filter(F.col("conv_id").isin(list(half)))

    d = str(tmp_path / "crash")
    ingest_increment(spark, t1, d)

    # simulate the crash: APPEND the increment's triples (as the
    # increment would) and stop — cmap_full still reflects only batch 1
    from cimpy_spark.operators.extract import TRIPLE_SCHEMA

    ledger = LineageLedger(d)
    committed = ledger.read_append_stage(spark, "triples", TRIPLE_SCHEMA)
    new_triples = extract_triples(
        t.join(committed.select("conv_id").distinct(), "conv_id", "left_anti")
    ).localCheckpoint(eager=True)
    ledger.run_append_stage(
        spark, "triples", lambda: new_triples, partition_by=["obj_kind"]
    )

    # resume: the derived stages are recomputed over every committed
    # increment — and the run WARNs that the snapshot header is being
    # recovered from the passed transcripts (the stale-meta path,
    # materialize.py)
    with pytest.warns(UserWarning, match="stale/legacy meta"):
        res = ingest_increment(spark, t, d)
    full = run_pipeline(spark, t, str(tmp_path / "full"))
    for stage in ["cmap", "canon_edges", "nodes"]:
        assert res[stage].exceptAll(full[stage]).count() == 0, stage
        assert full[stage].exceptAll(res[stage]).count() == 0, stage


@pytest.mark.parametrize("lost", ["meta", "entities", "edges", "cmap_full"])
def test_resume_after_interrupted_ingest_equals_full_build(
    spark, tmp_path, monkeypatch, lost
):
    """An ingest that crashes after its triples append, before its
    `lost` commit, leaves derived stages built from the smaller
    snapshot. The documented resume, `run_pipeline` over the same
    input, must rebuild every stage that predates the append, not
    reuse it because its `_SUCCESS` marker is still there.

    `edges` and `cmap_full` fail while siblings build: the stages
    before the failed one still commit, none after it does, and the
    failure itself surfaces once no stage is running."""
    from cimpy_spark.plans.lineage import LineageLedger

    t = transcripts_from_events(spark, SF_TINY).cache()
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    d = str(tmp_path / "kg")
    run_pipeline(spark, t.filter(F.col("conv_id").isin(list(half))), d)

    with open(LineageLedger(d).path) as f:
        kept = len(f.readlines())
    real = LineageLedger.run_stage
    running = []  # stages inside run_stage
    lock = threading.Lock()

    def crash(ledger, spark_, stage, *args, **kwargs):
        if stage == lost:
            raise RuntimeError(f"injected crash before {stage} commit")
        with lock:
            running.append(stage)
        try:
            return real(ledger, spark_, stage, *args, **kwargs)
        finally:
            with lock:
                running.remove(stage)

    monkeypatch.setattr(LineageLedger, "run_stage", crash)
    with pytest.raises(RuntimeError, match=f"injected crash before {lost} commit"):
        ingest_increment(spark, t, d)
    assert running == []
    monkeypatch.setattr(LineageLedger, "run_stage", real)
    with open(LineageLedger(d).path) as f:
        recommitted = [json.loads(line)["stage"] for line in f.readlines()[kept:]]
    # the triples append, then every stage before the lost one
    assert recommitted == STAGES[: STAGES.index(lost)]

    res = run_pipeline(spark, t, d)
    full = run_pipeline(spark, t, str(tmp_path / "full"))
    for stage in ["meta", "entities", "cmap", "canon_edges", "nodes"]:
        a = sorted(tuple(r) for r in res[stage].collect())
        b = sorted(tuple(r) for r in full[stage].select(*res[stage].columns).collect())
        assert a == b, stage


def test_resume_recommits_only_the_stage_lost(spark, tmp_path):
    """Losing only `quarantine`'s `_SUCCESS` makes the resume recommit
    `quarantine` alone: the stages after it in STAGES do not read it,
    so reuse follows what each build reads, not the stage order."""
    import json
    import os

    from cimpy_spark.plans.lineage import LineageLedger

    t = transcripts_from_events(spark, SF_TINY)
    d = str(tmp_path / "kg")
    run_pipeline(spark, t, d)
    ledger = LineageLedger(d)
    rows = ledger.records()["quarantine"]["rows_out"]
    with open(ledger.path) as f:
        kept = len(f.readlines())
    os.remove(os.path.join(ledger.stage_dir("quarantine"), "_SUCCESS"))

    run_pipeline(spark, t, d)
    with open(ledger.path) as f:
        recommitted = [json.loads(line)["stage"] for line in f.readlines()[kept:]]
    assert recommitted == ["quarantine"]
    assert ledger.records()["quarantine"]["rows_out"] == rows


def _decl(e: str, t: str) -> str:
    return f"«decl {e} type:{t} p_int=1 p_bool=true p_enum=kind:Unit.V1»"


# (first batch, second batch, check on the incremental result). Each
# batch is a list of (conv_id, mention) turns; the second batch's
# conversations are new, as the seen-conversation skip requires.
INCREMENT_CASES = {
    # an about-mention of a never-declared alias (merged via sameAs)
    # elects in neither run: node membership is the DECLARED restriction
    "undeclared_alias": (
        [
            ("a1", "«decl E1 type:T1 p_int=5 p_bool=true p_enum=kind:Unit.V1»"),
            ("a1", "«same E1 E9»"),  # E9 never declared
            ("a1", "«about E9 q_int=7»"),  # must NOT elect
        ],
        [
            ("b1", "«about E1 q_str=s2»"),  # touches E1's component
            ("b1", "«decl E2 type:T2 p_int=1 p_bool=false p_enum=kind:Unit.V0»"),
        ],
        lambda res: not any(
            r["attr"] == "q_int" and r["value"] == "7" for r in res["nodes"].collect()
        ),
    ),
    # the increment's sameAs joins two committed components through
    # their NON-representative members (E12, E22) and adds a new member
    # to one of them: every member, old and new, relabels to E11, and
    # a committed edge into the losing component is rewritten
    "cc_bridge_via_members": (
        [
            ("a1", _decl("E11", "T1")),
            ("a1", _decl("E12", "T1")),
            ("a1", "«same E11 E12»"),
            ("a2", _decl("E21", "T2")),
            ("a2", _decl("E22", "T2")),
            ("a2", "«same E22 E21»"),
            ("a3", _decl("E90", "T3")),
            ("a3", "«rel E90 feeds E22»"),
        ],
        [
            ("b1", "«same E12 E22»"),
            ("b1", _decl("E30", "T2")),
            ("b1", "«same E30 E21»"),
            ("b1", "«about E22 q_str=late»"),
        ],
        lambda res: (
            {r["entity_id"]: r["canonical_id"] for r in res["cmap"].collect()}
            == {e: "E11" for e in ("E11", "E12", "E21", "E22", "E30")} | {"E90": "E90"}
            and {tuple(r) for r in res["canon_edges"].select("src", "pred", "dst").collect()}
            == {("E90", "feeds", "E11")}
        ),
    ),
    # a committed dangling ref whose target the increment declares, and
    # a committed resolved edge whose src only the increment declares:
    # both become canonical edges, and the quarantine empties
    "late_declarations": (
        [
            ("a1", _decl("E1", "T1")),
            ("a1", "«rel E1 r1 E5»"),  # E5 undeclared: quarantined
            ("a2", _decl("E6", "T1")),
            ("a2", "«rel E7 r2 E6»"),  # resolved, but src E7 undeclared
        ],
        [
            ("b1", _decl("E5", "T2")),
            ("b1", _decl("E7", "T3")),
        ],
        lambda res: (
            res["quarantine"].count() == 0
            and {tuple(r) for r in res["canon_edges"].select("src", "pred", "dst").collect()}
            == {("E1", "r1", "E5"), ("E7", "r2", "E6")}
        ),
    ),
}


def _turns(spark, batch):
    rows, next_turn = [], {}
    for conv, text in batch:
        i = next_turn[conv] = next_turn.get(conv, -1) + 1
        rows.append((conv, i, "user", text, None))
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("case", list(INCREMENT_CASES))
def test_increment_edge_cases_match_full_run(spark, tmp_path, case):
    """A second increment that merges, resolves or declares into the
    committed graph leaves every derived stage equal to one full run
    over both batches."""
    first, second, check = INCREMENT_CASES[case]
    t1 = _turns(spark, first)
    t_all = _turns(spark, first + second)

    inc_dir, full_dir = str(tmp_path / "i"), str(tmp_path / "f")
    ingest_increment(spark, t1, inc_dir)
    res_inc = ingest_increment(spark, t_all, inc_dir)
    res_full = run_pipeline(spark, t_all, full_dir)

    for stage in ["entities", "edges", "quarantine", "cmap", "canon_edges", "nodes"]:
        a = sorted(tuple(r) for r in res_inc[stage].collect())
        b = sorted(tuple(r) for r in res_full[stage].select(*res_inc[stage].columns).collect())
        assert a == b, stage
    assert check(res_inc)


def test_triples_append_only_no_rewrite(spark, tmp_path):
    """The fact stage must never rewrite committed increments
    (Iceberg-append semantics): batch 2 adds inc_00001 and leaves
    inc_00000's files byte-untouched."""
    import glob
    import os

    t = transcripts_from_events(spark, SF_TINY).cache()
    convs = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]
    half = set(sorted(convs)[: len(convs) // 2])
    d = str(tmp_path / "kg")
    ingest_increment(spark, t.filter(F.col("conv_id").isin(list(half))), d)

    inc0 = f"{d}/triples/inc_00000"
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{inc0}/**", recursive=True)
        if os.path.isfile(p)
    }
    assert before

    ingest_increment(spark, t, d)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{inc0}/**", recursive=True)
        if os.path.isfile(p)
    }
    assert after == before  # no rewrite of old increment files
    assert os.path.isdir(f"{d}/triples/inc_00001")


def test_incremental_noop_when_no_new_convs(spark, tmp_path):
    t = transcripts_from_events(spark, SF_TINY)
    d = str(tmp_path / "kg")
    ingest_increment(spark, t, d)
    n1 = ingest_increment(spark, t, d)["triples"].count()
    n2 = ingest_increment(spark, t, d)["triples"].count()
    assert n1 == n2


def test_partial_increment_dir_is_overwritten_on_retry(spark, tmp_path):
    """A crash mid-append leaves an inc dir without _SUCCESS and no
    ledger record; the retry must overwrite it in place and commit
    normally (idempotent resume for append stages)."""
    import os

    t = transcripts_from_events(spark, SF_TINY).cache()
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    d = str(tmp_path / "kg")
    ingest_increment(spark, t.filter(F.col("conv_id").isin(list(half))), d)

    # simulate a crash during the NEXT increment's write: orphan dir
    # with junk, no _SUCCESS, no ledger record
    orphan = f"{d}/triples/inc_00001"
    os.makedirs(orphan)
    with open(f"{orphan}/part-junk.parquet", "w") as f:
        f.write("not parquet")

    res = ingest_increment(spark, t, d)  # retry over full input
    assert os.path.exists(f"{orphan}/_SUCCESS")  # overwritten in place
    full = run_pipeline(spark, t, str(tmp_path / "full"))
    for stage in ("triples", "canon_edges", "nodes"):
        a, b = res[stage], full[stage]
        assert a.count() == b.count(), stage
        assert a.exceptAll(b).count() == 0, stage
