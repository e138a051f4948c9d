"""Tests of the benchmark's own machinery: input pinning, grading, the
crash-resume check and the event-log span reader.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import glob
import shutil
import time

import pytest

from cimpy_spark.operators import materialize
from cimpy_spark.plans.lineage import LineageLedger
from kgbench import grade
from kgbench.clock import Stopwatch, stolen_share
from kgbench.trace import Tracer, read_event_log, span_table
from kgbench.workloads import Build, write_corpus


def _tiny(spark, path, seed, n_convs=4, turns=5, n_entities=20):
    write_corpus(spark, path, seed=seed, n_convs=n_convs, turns=turns, n_entities=n_entities)


def test_input_digest_pins_the_seed(spark, tmp_path):
    a, b, c, d = (str(tmp_path / x) for x in "abcd")
    _tiny(spark, a, seed=5)
    _tiny(spark, b, seed=5)
    _tiny(spark, c, seed=6)
    # same rows in a different file layout: the digest ignores order
    spark.read.parquet(a).coalesce(1).write.parquet(d)
    da, db, dc, dd = (grade.input_digest(p) for p in (a, b, c, d))
    assert da == db == dd
    assert da["rows"] == dc["rows"] and da["hash"] != dc["hash"]

    pins = {grade.pin_key("build", 5): {"corpus": da}}
    assert grade.check_pins(grade.pin_key("build", 5), {"corpus": db}, pins) is True
    with pytest.raises(grade.InputMismatch):
        grade.check_pins(grade.pin_key("build", 5), {"corpus": dc}, pins)
    assert grade.check_pins(grade.pin_key("build", 7), {"corpus": dc}, pins) is False


def _rewrite(spark, path, partition_by, edit):
    """Replace a committed parquet dir with ``edit(rows)``."""
    df = spark.read.parquet(path)
    rows = edit([r.asDict() for r in df.collect()])
    tmp = path + ".planted"
    spark.createDataFrame(rows, df.schema).write.partitionBy(partition_by).parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)


def test_planted_output_error_fails_the_operation(spark, tmp_path):
    wl = Build(spark, str(tmp_path), 0, Tracer(spark.sparkContext))
    # 14 distinct triples and 2 canonical edges
    _tiny(spark, wl.corpus, seed=0, n_convs=2, turns=4, n_entities=4)
    out = str(tmp_path / "kg")
    materialize.run_pipeline(spark, spark.read.parquet(wl.corpus), out)
    grade.write_expected(wl.corpus, wl.expected)
    wl.graded_dir = out
    wl.iterations = [{"i": 0, "op_s": 1.0}]
    assert wl.grade() == {"triple_p": 1.0, "triple_r": 1.0, "graph_p": 1.0, "graph_r": 1.0}
    assert wl.outcome.failed == 0

    ledger = LineageLedger(out)
    triples_dir = ledger.append_increments("triples")[0]
    n_triples = spark.read.parquet(triples_dir).distinct().count()
    n_edges = grade.read_stage(spark, out, "canon_edges").count()
    # one planted error must cross the P/R floor on this corpus size
    assert n_edges >= 1 and n_triples < 1 / (1 - grade.PR_FLOOR)

    def drop_one(rows):
        return [r for r in rows if r != rows[0]]

    _rewrite(spark, triples_dir, "obj_kind", drop_one)  # one triple dropped (all its copies)

    def flip(rows):
        edge = next(r for r in rows if r["src"] != r["dst"])
        edge["src"], edge["dst"] = edge["dst"], edge["src"]
        return rows

    _rewrite(spark, ledger.stage_dir("canon_edges"), "pred", flip)  # one edge flipped

    scores = wl.grade()
    assert scores["triple_r"] < 1.0
    assert min(scores["graph_p"], scores["graph_r"]) < 1.0
    assert wl.outcome.failed == 1


def test_resume_check_flags_a_skipped_stage(spark, tmp_path, monkeypatch):
    corpus, out = str(tmp_path / "corpus"), str(tmp_path / "kg")
    _tiny(spark, corpus, seed=4)
    transcripts = spark.read.parquet(corpus)
    materialize.run_pipeline(spark, transcripts, out)
    before = grade.stage_fingerprints(spark, out)

    # a resume that leaves the lost `nodes` commit out
    kept = grade.crash_tail(out)
    run_stage = LineageLedger.run_stage

    def skipping(ledger, spark_, stage, build, *args, **kwargs):
        if stage == "nodes":
            return spark_.read.parquet(ledger.stage_dir(stage))
        return run_stage(ledger, spark_, stage, build, *args, **kwargs)

    monkeypatch.setattr(LineageLedger, "run_stage", skipping)
    materialize.run_pipeline(spark, transcripts, out)
    monkeypatch.undo()
    recommitted = [r["stage"] for r in grade.ledger_lines(out)[kept:]]
    problems = grade.resume_problems(before, grade.stage_fingerprints(spark, out), recommitted)
    assert any("skipped" in p and "nodes" in p for p in problems), problems

    # the program's own resume passes the same check
    kept = grade.crash_tail(out)
    materialize.run_pipeline(spark, transcripts, out)
    recommitted = [r["stage"] for r in grade.ledger_lines(out)[kept:]]
    assert grade.resume_problems(before, grade.stage_fingerprints(spark, out), recommitted) == []


def test_span_reader_on_a_recorded_event_log(spark, event_log_dir):
    tracer = Tracer(spark.sparkContext)
    tracer.enabled = True
    with tracer.span("outer", "test", kind="op"):
        with tracer.span("shuffle", "test", kind="stage"):
            spark.range(20_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
            spark.range(20_000).selectExpr("id % 5 AS k").distinct().collect()
        spark.range(100).count()
    # the listener flushes the log at every job end
    log = read_event_log(glob.glob(str(event_log_dir / "*"))[0])
    rows = {r["name"]: r for r in span_table(tracer.spans, log)}
    outer, inner = rows["outer"], rows["shuffle"]
    assert inner["jobs"] >= 2 and inner["tasks"] >= 2
    assert inner["shuffle_write_mb"] > 0 and inner["run_s"] >= 0
    # the outer span includes its child and its own job
    assert outer["jobs"] > inner["jobs"] and outer["tasks"] > inner["tasks"]
    for r in (outer, inner):
        assert 0 <= r["driver_gap_s"] <= r["wall_s"]


def test_stopwatch_takes_out_the_stolen_share():
    # 20 of 80 busy ticks stolen
    assert stolen_share((10, 100), (30, 180)) == 0.25
    assert stolen_share((10, 100), (10, 100)) == 0.0
    with Stopwatch() as sw:
        time.sleep(0.05)
    assert sw.wall_s >= 0.05 and 0.0 <= sw.stolen <= 1.0
    assert sw.s == pytest.approx(sw.wall_s * (1.0 - sw.stolen))
