"""The workloads: inputs, untimed preparation and one timed iteration.

Every iteration of every workload does three timed things on one
committed graph:

1. its *operation* (``op_s``), which leaves a committed graph;
2. one pass of a fixed consumer mix over that graph (``query_s``):
   ``node_degree``, ``typed_attrs``, ``khop``, ``bgp_match``,
   ``assembly_query``, ``pagerank`` and a predicate-scoped scan of
   ``canon_edges``;
3. a resuming ``run_pipeline`` after a simulated crash that lost the
   committed canonicalization tail (``resume_s``).

Checks that need Spark jobs run between the timed calls.

- ``build``: ``run_pipeline`` from an empty output dir. Every stage
  does full-corpus work; streaming does nothing.
- ``ingest``: 90% of the conversations are committed in preparation;
  ``stream_ingest`` drains the other 10%, which arrive as parquet files
  partitioned by ``conv_id`` (one micro-batch). Extraction is a small share; per-stage fixed costs,
  ledger reads and the incremental link/CC/node paths carry the load.
"""

from __future__ import annotations

import shutil
import threading
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F

from cimpy_spark import pipeline as P
from cimpy_spark.fixtures.generator import generate_transcripts
from cimpy_spark.operators import materialize
from cimpy_spark.streaming import ingest as streaming

from kgbench import grade
from kgbench.clock import Stopwatch

# Corpus shape. A whole run (set-up, preparation, one iteration,
# grading) must stay near a minute; below ~10^5 turns the pipeline's
# fixed per-stage costs dominate its wall time anyway.
N_CONVS = 400
TURNS_PER_CONV = 50
N_ENTITIES = 2_000
DELTA_MOD = 10  # one conversation in DELTA_MOD arrives in the stream
OP_TIMEOUT_S = 60

BGP = [("?a", "rdf:type", "T0"), ("?a", "controls", "?b"), ("?b", "feeds", "?c")]

# query name -> f(canon_edges, nodes); the consumers of what
# `materialize` writes
MIX = {
    "node_degree": lambda ce, nd: P.node_degree(ce),
    "typed_attrs": lambda ce, nd: P.typed_attrs(nd),
    "khop": lambda ce, nd: P.khop(ce, "connects_to", 3),
    "bgp_match": lambda ce, nd: P.bgp_match(ce, BGP, nd),
    "assembly_query": lambda ce, nd: P.assembly_query(nd, ce),
    "pagerank": lambda ce, nd: P.pagerank(ce, iters=3),
    # predicate-scoped scan: canon_edges is partitioned by pred
    "scan": lambda ce, nd: ce.filter(F.col("pred") == "feeds").select("src", "dst"),
}


def write_corpus(spark, path: str, seed: int, n_convs=N_CONVS, turns=TURNS_PER_CONV, n_entities=N_ENTITIES):
    # the generator's default hot-entity share: nothing measured gives
    # a basis for another
    generate_transcripts(
        spark, n_convs=n_convs, turns_per_conv=turns, n_entities=n_entities, seed=seed
    ).write.mode("overwrite").parquet(path)


def split_delta(spark, corpus: str, base: str, delta: str, seed: int, mod: int = DELTA_MOD, files: int = 4) -> None:
    """Cut whole conversations out of ``corpus`` into a stream feed.

    The feed is partitioned by ``conv_id`` so each conversation arrives
    whole, the arrival invariant of ``stream_ingest``.
    """
    t = spark.read.parquet(corpus)
    in_delta = F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(mod)) == 0
    t.filter(~in_delta).write.mode("overwrite").parquet(base)
    t.filter(in_delta).repartition(files, "conv_id").write.mode("overwrite").parquet(delta)


@contextmanager
def time_limit(spark, seconds: float):
    """Cancel every job and stop every stream once ``seconds`` pass.

    Yields an event that is set if the limit fired; the cancelled
    operation then raises.
    """
    fired = threading.Event()

    def fire():
        fired.set()
        spark.sparkContext.cancelAllJobs()
        for q in spark.streams.active:
            q.stop()

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    try:
        yield fired
    finally:
        timer.cancel()


def record(rec: dict, name: str, sw: Stopwatch) -> None:
    """Store a timed call's figures in an iteration record: ``<name>_s``
    is the steal-corrected time the metrics report (see
    ``kgbench.clock``), ``<name>_wall_s`` and ``<name>_stolen`` what it
    was derived from."""
    rec[f"{name}_s"] = sw.s
    rec[f"{name}_wall_s"] = sw.wall_s
    rec[f"{name}_stolen"] = sw.stolen


class OpFailed(Exception):
    """An operation failed; ``Outcome`` has already counted it."""


class Outcome:
    """Attempted and failed operations of one run, with reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    @contextmanager
    def op(self, spark, what: str):
        """Count one operation; an exception or timeout fails it."""
        self.attempted += 1
        try:
            with time_limit(spark, OP_TIMEOUT_S) as fired:
                yield
        except Exception as exc:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            raise OpFailed(what) from exc
        if fired.is_set():
            self.fail(f"{what}: timed out after {OP_TIMEOUT_S}s")
            raise OpFailed(what)


class Workload:
    """Shared iteration scaffold; subclasses supply the operation."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.outcome = Outcome()
        self.corpus = f"{work}/in/corpus"
        self.expected = f"{work}/expected"
        self.graded_dir: str | None = None
        self.reference: dict | None = None  # tail fingerprints of the graded output
        self.want: dict[str, tuple] = {}  # query name -> fingerprint over the oracle graph
        self.iterations: list[dict] = []

    # -- preparation (untimed) ----------------------------------------
    def inputs(self) -> dict[str, str]:
        """Input name -> parquet path, written by ``write_inputs``."""
        return {"corpus": self.corpus}

    def write_inputs(self) -> None:
        write_corpus(self.spark, self.corpus, self.seed)

    def warm_up(self) -> None:
        """The session's first ``run_pipeline``, over the workload's own
        input; timed as part of ``setup_s``."""
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        grade.write_expected(self.corpus, self.expected)
        # the same queries over the oracle's graph are the expected answers
        ce = self.spark.read.parquet(f"{self.expected}/canon_edges")
        nd = self.spark.read.parquet(f"{self.expected}/nodes")
        self.want = {name: grade.fingerprint(fn(ce, nd)) for name, fn in MIX.items()}

    # -- one timed iteration --------------------------------------------
    def operation(self, i: int, rec: dict) -> str:
        """Run and time the workload's operation; return the committed
        graph dir it leaves behind."""
        raise NotImplementedError

    def iterate(self, i: int) -> dict:
        rec = {"i": i, "traced": self.tracer.enabled}
        self.tracer.iteration = i
        try:
            out = self.operation(i, rec)
            before = grade.stage_fingerprints(self.spark, out)
            self.check_output(out, before)
            self._query_pass(out, rec)
            self._crash_and_resume(out, before, rec)
            rec["out"] = out
        except OpFailed:
            pass
        except Exception:  # noqa: BLE001 -- a failed check fails the iteration
            self.outcome.fail(f"{self.name} iteration {i}: {traceback.format_exc(limit=3)}")
        finally:
            self.tracer.iteration = None
            self.iterations.append(rec)
        return rec

    def check_output(self, out: str, fps: dict) -> None:
        if self.reference is None:
            self.reference, self.graded_dir = fps, out
        elif fps != self.reference:
            self.outcome.fail(f"{self.name}: output of {out} differs from the graded output")

    def _query_pass(self, out: str, rec: dict) -> None:
        ce = grade.read_stage(self.spark, out, "canon_edges")
        nd = grade.read_stage(self.spark, out, "nodes")
        total = wall = 0.0
        with self.tracer.span("queries", "bench", kind="queries"):
            for name, fn in MIX.items():
                try:
                    with self.outcome.op(self.spark, name):
                        with self.tracer.span(name, "query", kind="query"):
                            with Stopwatch() as sw:
                                got = grade.fingerprint(fn(ce, nd))
                            total += sw.s
                            wall += sw.wall_s
                except OpFailed:
                    continue
                if got != self.want[name]:
                    self.outcome.fail(f"query {name}: {got} differs from the oracle graph's {self.want[name]}")
        rec["query_s"] = total
        rec["query_wall_s"] = wall
        rec["query_stolen"] = 1.0 - total / wall if wall > 0 else 0.0

    def _crash_and_resume(self, out: str, before: dict, rec: dict) -> None:
        kept = grade.crash_tail(out)
        corpus = self.spark.read.parquet(self.corpus)
        with self.outcome.op(self.spark, "resume"):
            with self.tracer.span("resume", "bench", kind="resume"):
                with Stopwatch() as sw:
                    materialize.run_pipeline(self.spark, corpus, out)
            record(rec, "resume", sw)
        recommitted = [r["stage"] for r in grade.ledger_lines(out)[kept:]]
        problems = grade.resume_problems(before, grade.stage_fingerprints(self.spark, out), recommitted)
        if problems:
            self.outcome.fail("resume: " + "; ".join(problems))

    def grade(self) -> dict[str, float]:
        if self.graded_dir is None:
            return {"triple_p": 0.0, "triple_r": 0.0, "graph_p": 0.0, "graph_r": 0.0}
        scores = grade.grade_graph(self.spark, self.graded_dir, self.expected)
        if grade.pr_failed(scores["triple_p"], scores["triple_r"]) or grade.pr_failed(
            scores["graph_p"], scores["graph_r"]
        ):
            # every graded operation left this output
            for _ in (r for r in self.iterations if "op_s" in r):
                self.outcome.fail(f"{self.name}: P/R below {grade.PR_FLOOR}: {scores}")
        return scores


class Build(Workload):
    name = "build"

    def operation(self, i, rec):
        out = f"{self.work}/build/it{i}"
        corpus = self.spark.read.parquet(self.corpus)
        rec["ledger_start"] = 0
        with self.outcome.op(self.spark, "build"):
            with self.tracer.span("op", "bench", kind="op"):
                with Stopwatch() as sw:
                    materialize.run_pipeline(self.spark, corpus, out)
            record(rec, "op", sw)
        return out

    def warm_up(self):
        d = f"{self.work}/warm"
        materialize.run_pipeline(self.spark, self.spark.read.parquet(self.corpus), d)
        shutil.rmtree(d)


class Ingest(Workload):
    name = "ingest"

    def __init__(self, *args):
        super().__init__(*args)
        self.base_in = f"{self.work}/in/base"
        self.delta_in = f"{self.work}/in/delta"
        self.base_out = f"{self.work}/base_graph"

    def inputs(self):
        return {"corpus": self.corpus, "delta": self.delta_in}

    def write_inputs(self):
        super().write_inputs()
        split_delta(self.spark, self.corpus, self.base_in, self.delta_in, self.seed)

    def warm_up(self):
        # the committed 90% every iteration starts from
        materialize.run_pipeline(self.spark, self.spark.read.parquet(self.base_in), self.base_out)

    def operation(self, i, rec):
        out = f"{self.work}/ingest/it{i}"
        shutil.copytree(self.base_out, out)
        rec["ledger_start"] = len(grade.ledger_lines(out))
        with self.outcome.op(self.spark, "ingest"):
            with self.tracer.span("op", "bench", kind="op"):
                with Stopwatch() as sw:
                    q = streaming.stream_ingest(self.spark, self.delta_in, out)
            record(rec, "op", sw)
        rec["progress"] = [p["durationMs"] | {"numInputRows": p["numInputRows"]} for p in q.recentProgress]
        return out


WORKLOADS = {w.name: w for w in (Build, Ingest)}
