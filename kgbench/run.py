"""Run one workload of the KG-construction benchmark and print its metrics.

    python3 kgbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its per-span table
to ``kgbench/_out/``. Everything the run writes stays under
``kgbench/``; its scratch dir is removed at exit.

Exit codes: 0 with a result, 3 when an input differs from the one
pinned for its seed (``kgbench/pins.json``), anything else on a crash.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def trace_extras(spark, tracer, rec: dict) -> None:
    """Counts for a traced iteration that need Spark or the ledger;
    taken after the iteration, outside every span."""
    from kgbench import grade

    lines = grade.ledger_lines(rec["out"])[rec["ledger_start"] :]
    rec["commits"] = len(lines)
    rec["files_written"] = sum(len(r.get("partition_rows") or {}) for r in lines)
    rec["ledger_reads"] = tracer.ledger_reads
    rec["bookkeeping_s"] = tracer.bookkeeping_s
    rec["same_links"] = sum(df.count() for df in tracer.same_link_frames)
    if any(r["stage"] == "linked" for r in lines):
        from pyspark.sql import functions as F

        row = spark.read.parquet(f"{rec['out']}/linked").agg(F.avg(F.col("resolved").cast("double")).alias("r")).first()
        rec["resolved_ratio"] = float(row["r"] or 0.0)
    tracer.ledger_reads = 0
    tracer.bookkeeping_s = 0.0
    tracer.same_link_frames.clear()


def _descendants(rows: list[dict], root: str) -> set[str]:
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo += [r["id"] for r in rows if r["parent"] == sid]
    return out


def stop(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit: the JVM exits when its stdin closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def iteration_layers(rows: list[dict], rec: dict) -> dict[str, float]:
    """Per-layer metrics of one traced iteration from its span rows."""
    from kgbench.workloads import MIX

    op = next(r for r in rows if r["kind"] == "op")
    in_op = _descendants(rows, op["id"])
    stages = [r for r in rows if r["kind"] == "stage"]
    top = [r for r in rows if r["parent"] is None]

    def layer(name):
        return [r for r in stages if r["layer"] == name]

    def total(rs, key):
        return float(sum(r[key] for r in rs))

    ext, link, canon = layer("extract"), layer("link"), layer("canon")
    entries = [r for r in rows if r["kind"] == "entry" and r["id"] in in_op]
    prepare = sum(
        e["wall_s"] - sum(r["wall_s"] for r in stages if r["parent"] == e["id"]) for e in entries
    )
    op_stages = [r for r in stages if r["id"] in in_op]
    m = {
        "extract.wall_s": total(ext, "wall_s"),
        "extract.task_cpu_s": total(ext, "cpu_s"),
        "extract.gc_s": total(ext, "gc_s"),
        "link.wall_s": total(link, "wall_s"),
        "link.jobs": total(link, "jobs"),
        "link.shuffle_write_mb": total(link, "shuffle_write_mb"),
        "link.resolved_ratio": rec.get("resolved_ratio", 0.0),
        "canon.wall_s": total(canon, "wall_s"),
        "canon.jobs": total(canon, "jobs"),
        "canon.shuffle_write_mb": total(canon, "shuffle_write_mb"),
        "canon.spill_mb": total(canon, "spill_mb"),
        "canon.same_links": float(rec.get("same_links", 0)),
        "canon.driver_gap_s": total(canon, "driver_gap_s"),
        "lineage.commits": float(rec.get("commits", 0)),
        "lineage.ledger_reads": float(rec.get("ledger_reads", 0)),
        "lineage.files_written": float(rec.get("files_written", 0)),
        "lineage.bytes_written_mb": total(stages, "output_mb"),
        "materialize.stages_resumed": float(sum(1 for r in stages if not r.get("recomputed"))),
        "materialize.stages_recomputed": float(sum(1 for r in stages if r.get("recomputed"))),
        "materialize.prepare_s": float(prepare),
        "spark.jobs": total(top, "jobs"),
        "spark.tasks": total(top, "tasks"),
        "spark.task_run_s": total(top, "run_s"),
        "spark.gc_s": total(top, "gc_s"),
        "spark.driver_gap_s": total(top, "driver_gap_s"),
        # share of the traced operation's wall time spent inside
        # run_pipeline / ingest_increment (stage spans + prepare_s make
        # up all of that by construction); the rest is micro-batch
        # overhead around ingest_increment
        "trace.stage_coverage_pct": 100.0 * (total(op_stages, "wall_s") + prepare) / op["wall_s"],
        "trace.op_s": op["wall_s"],
        # span recording as a share of the traced iteration's timed calls;
        # the event-log listener's cost shows as trace.op_s against the
        # untraced runs' op_s
        "trace.overhead_pct": 100.0 * rec.get("bookkeeping_s", 0.0) / total(top, "wall_s"),
    }
    progress = rec.get("progress", [])
    m["stream.batches"] = float(len(progress))
    m["stream.input_rows"] = float(sum(p.get("numInputRows", 0) for p in progress))
    for phase in STREAM_PHASES:
        m[f"stream.{phase}_ms"] = float(sum(p.get(phase, 0) for p in progress))
    queries = {r["name"]: r for r in rows if r["kind"] == "query"}
    for q in MIX:
        r = queries.get(q)
        m[f"query.{q}.wall_s"] = r["wall_s"] if r else 0.0
        m[f"query.{q}.jobs"] = float(r["jobs"]) if r else 0.0
        m[f"query.{q}.shuffle_read_mb"] = r["shuffle_read_mb"] if r else 0.0
    m["query.scan.bytes_read_mb"] = queries["scan"]["input_mb"] if "scan" in queries else 0.0
    return m


def layer_metrics(table: list[dict], iterations: list[dict], start_s: float, warm_s: float, peak_mb: float) -> dict[str, float]:
    """Median over traced iterations of ``iteration_layers``, plus the
    session and process metrics of the run."""
    traced = [rec for rec in iterations if rec["traced"] and "out" in rec]
    per_it = [iteration_layers([r for r in table if r["iteration"] == rec["i"]], rec) for rec in traced]
    m = {k: statistics.median(it[k] for it in per_it) for k in (per_it[0] if per_it else {})}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warm_s
    m["process.peak_rss_mb"] = peak_mb
    return m


UNITS = {
    "_s": "s", "_ms": "ms", "_mb": "MB", "_pct": "%", "_ratio": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # Python workers import cimpy_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))

    from kgbench import grade
    from kgbench import trace as tr
    from kgbench.clock import Stopwatch
    from kgbench.workloads import WORKLOADS

    work = HERE / "_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # The benchmark writes only under kgbench/, so every scratch file of
    # the JVM, Spark and Python goes to the work dir: Spark's shuffle and
    # spill dir and the JVM's tmpdir move off /tmp, and HotSpot's
    # perf-data file, which always goes to /tmp, is disabled. These are
    # the only settings that differ from get_spark's defaults, apart from
    # the event log of a traced run.
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    extra_conf = {
        "spark.local.dir": str(work / "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if args.trace:
        (work / "eventlog").mkdir()
        extra_conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # the /proc sampler only runs in traced runs, where its thread
    # cannot disturb the end-to-end timings
    sampler = tr.RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    spark = None
    phases: dict[str, float] = {}  # wall time of each part of the run
    t_lap = time.perf_counter()

    def lap(name: str) -> float:
        nonlocal t_lap
        now = time.perf_counter()
        phases[name] = now - t_lap
        t_lap = now
        return phases[name]

    try:
        from cimpy_spark.session import get_spark

        lap("imports")
        with Stopwatch() as start:
            spark = get_spark("kgbench", cores=len(os.sched_getaffinity(0)), extra_conf=extra_conf)
            spark.sparkContext.setLogLevel("ERROR")
        lap("session")
        tracer = tr.Tracer(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, str(work), args.seed, tracer)

        # preparation, untimed except for the warm-up
        wl.write_inputs()
        lap("inputs")
        digests = {name: grade.input_digest(path) for name, path in wl.inputs().items()}
        pins = json.loads((HERE / "pins.json").read_text())
        try:
            pinned = grade.check_pins(grade.pin_key(args.workload, args.seed), digests, pins)
        except grade.InputMismatch as exc:
            print(f"refusing to run: {exc}", file=sys.stderr)
            stop(spark)
            spark = None
            shutil.rmtree(work, ignore_errors=True)
            return 3
        print(f"inputs seed={args.seed} pinned={pinned} {json.dumps(digests, sort_keys=True)}")
        lap("pins")
        with Stopwatch() as warm:
            wl.warm_up()
        lap("warm_up")
        wl.prepare_oracle()
        lap("oracle")

        # measurement: whole iterations until --seconds have passed
        if args.trace:
            tracer.install()
        if sampler:
            sampler.reset()
        deadline = time.monotonic() + args.seconds
        i = 0
        while True:
            tracer.enabled = bool(args.trace)
            rec = wl.iterate(i)
            if tracer.enabled and "out" in rec:
                tracer.enabled = False
                trace_extras(spark, tracer, rec)
            i += 1
            if time.monotonic() >= deadline:
                break
        tracer.enabled = False
        peak_mb = sampler.peak_bytes / tr.MB if sampler else 0.0
        tracer.uninstall()
        lap("iterations")

        # grading, untimed
        scores = wl.grade()
        lap("grade")
        app_id = spark.sparkContext.applicationId
        stop(spark)
        spark = None
        lap("stop")
    finally:
        if sampler:
            sampler.stop()
        if spark is not None:
            stop(spark)

    its = wl.iterations
    start_s, warm_s = start.s, warm.s
    op = [r["op_s"] for r in its if "op_s" in r]
    query = [r["query_s"] for r in its if "query_s" in r]
    resume = [r["resume_s"] for r in its if "resume_s" in r]
    out = wl.outcome
    for problem in out.problems:
        print(f"FAILED {problem}", file=sys.stderr)
    if args.trace:
        table = tr.span_table(tracer.spans, tr.read_event_log(str(work / "eventlog" / app_id)))
        values = layer_metrics(table, its, start_s, warm_s, peak_mb)
        out_dir = HERE / "_out"
        out_dir.mkdir(exist_ok=True)
        dump = {"workload": args.workload, "seed": args.seed, "iterations": its, "spans": table, "metrics": values}
        (out_dir / f"trace-{args.workload}-seed{args.seed}.json").write_text(json.dumps(dump, indent=1, default=str))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(values.items())}
    else:
        metrics = {
            "setup_s": {"value": start_s + warm_s, "unit": "s"},
            "op_s": {"value": statistics.median(op) if op else float("nan"), "unit": "s"},
            "query_s": {"value": statistics.median(query) if query else float("nan"), "unit": "s"},
            "resume_s": {"value": statistics.median(resume) if resume else float("nan"), "unit": "s"},
            "triple_p": {"value": scores["triple_p"], "unit": "ratio"},
            "triple_r": {"value": scores["triple_r"], "unit": "ratio"},
            "graph_p": {"value": scores["graph_p"], "unit": "ratio"},
            "graph_r": {"value": scores["graph_r"], "unit": "ratio"},
            "op_ok_ratio": {"value": 1.0 - out.failed / max(out.attempted, 1), "unit": "ratio"},
        }
        print(f"{args.workload}: {len(its)} iterations; steal-corrected s (wall s, share stolen):")
        print(f"  setup_s {start_s + warm_s:.3f} ({start.wall_s + warm.wall_s:.3f}, {start.stolen:.3f} {warm.stolen:.3f})")
        for name in ("op", "query", "resume"):
            timed = [r for r in its if f"{name}_s" in r]
            print(f"  {name}_s " + " ".join(
                f"{r[f'{name}_s']:.3f} ({r[f'{name}_wall_s']:.3f}, {r[f'{name}_stolen']:.3f})" for r in timed
            ))
    print("phases_s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
