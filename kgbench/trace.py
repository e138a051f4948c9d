"""Tracing from outside the program.

Three sources, none of which needs a change under ``cimpy_spark/``:

- ``Tracer`` wraps the public functions of each layer (the ledger's
  stage runners, ``run_pipeline``, ``ingest_increment``,
  ``same_links``) and records one span per call. Each span sets its
  own Spark job group, so the event log can attribute jobs to it.
- ``read_event_log`` parses Spark's JSON event log
  (``SparkListenerJobStart``, ``SparkListenerStageSubmitted``,
  ``SparkListenerTaskEnd``) into per-span task metrics.
- ``RssSampler`` samples the resident memory of the process tree under
  the benchmark (the JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# stage name -> layer (the module that owns the stage's operator)
STAGE_LAYER = {
    "triples": "extract",
    "meta": "extract",
    "entities": "link",
    "linked": "link",
    "edges": "link",
    "quarantine": "link",
    "cmap_full": "canon",
    "cmap": "canon",
    "canon_edges": "canon",
    "nodes": "canon",
}

MB = 1024 * 1024


class Tracer:
    """Span recorder; spans are kept in memory and written at the end.

    Execution inside one benchmark iteration is sequential (the main
    thread blocks while a streaming ``foreachBatch`` callback runs), so
    one span stack serves every thread.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = False
        self.iteration: int | None = None
        self.ledger_reads = 0
        self.same_link_frames: list = []
        self.bookkeeping_s = 0.0  # time spent recording spans
        self._stack: list[dict] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = {
            "id": f"sp{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iteration": self.iteration,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        sp["start"] = time.time()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t0

    def install(self) -> None:
        """Wrap the layers' public functions (undone by ``uninstall``)."""
        from cimpy_spark import pipeline
        from cimpy_spark.operators import materialize
        from cimpy_spark.plans.lineage import LineageLedger

        tracer = self

        def patch(owner, attr, make):
            orig = getattr(owner, attr)
            setattr(owner, attr, make(orig))
            self._restore.append((owner, attr, orig))

        def stage_runner(orig):
            def run(ledger, spark, stage, build, *args, **kwargs):
                with tracer.span(stage, STAGE_LAYER.get(stage, "materialize"), kind="stage") as sp:
                    def build_recorded():
                        if sp is not None:
                            sp["recomputed"] = True
                        return build()

                    return orig(ledger, spark, stage, build_recorded, *args, **kwargs)

            return run

        def records(orig):
            def run(ledger):
                if tracer.enabled:
                    tracer.ledger_reads += 1
                return orig(ledger)

            return run

        def entry(name):
            def make(orig):
                def run(*args, **kwargs):
                    with tracer.span(name, "materialize", kind="entry"):
                        return orig(*args, **kwargs)

                return run

            return make

        def same_links(orig):
            def run(triples):
                out = orig(triples)
                if tracer.enabled:
                    tracer.same_link_frames.append(out)
                return out

            return run

        patch(LineageLedger, "run_stage", stage_runner)
        patch(LineageLedger, "run_append_stage", stage_runner)
        patch(LineageLedger, "records", records)
        patch(materialize, "run_pipeline", entry("run_pipeline"))
        patch(materialize, "ingest_increment", entry("ingest_increment"))
        patch(pipeline, "same_links", same_links)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "launch": info["Launch Time"] / 1000.0,
        "finish": info["Finish Time"] / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
    }


def read_event_log(path: str) -> dict:
    """Jobs and finished tasks of one application's event log.

    Returns ``{"jobs": [{"id", "group", "submit"}], "tasks": [{"group",
    "launch", "finish", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"}]}``.
    A task's group is the job group its stage was submitted under.
    """
    jobs: list[dict] = []
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):
                break  # the unflushed tail of a running application's log
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    {
                        "id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                    }
                )
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                rec = _task_record(ev)
                sid = ev["Stage ID"]
                rec["group"] = stage_group.get(sid)
                tasks.append(rec)
    return {"jobs": jobs, "tasks": tasks}


def _innermost(spans: list[dict], t: float) -> str | None:
    best = None
    for sp in spans:
        if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
            best = sp
    return best["id"] if best else None


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SUMMED = ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb")


def span_table(spans: list[dict], log: dict) -> list[dict]:
    """Per-span metrics, inclusive of child spans.

    A job or task belongs to the span whose job group it carries; one
    without a known group falls to the innermost span open when it
    started. ``driver_gap_s`` is the span's wall time during which no
    task of the span ran (driver-side work such as collects, planning
    and ledger I/O).
    """
    ids = {sp["id"] for sp in spans}
    own: dict[str, dict] = {
        sp["id"]: {"jobs": 0, "tasks": 0, "intervals": [], **{k: 0.0 for k in SUMMED}} for sp in spans
    }
    for job in log["jobs"]:
        sid = job["group"] if job["group"] in ids else _innermost(spans, job["submit"])
        if sid:
            own[sid]["jobs"] += 1
    for task in log["tasks"]:
        sid = task["group"] if task["group"] in ids else _innermost(spans, task["launch"])
        if sid:
            o = own[sid]
            o["tasks"] += 1
            o["intervals"].append((task["launch"], task["finish"]))
            for k in SUMMED:
                o[k] += task[k]
    children: dict[str, list[str]] = {sp["id"]: [] for sp in spans}
    for sp in spans:
        if sp["parent"] in children:
            children[sp["parent"]].append(sp["id"])

    def subtree(sid):
        out = [sid]
        for c in children[sid]:
            out += subtree(c)
        return out

    table = []
    for sp in spans:
        members = [own[s] for s in subtree(sp["id"])]
        wall = sp["end"] - sp["start"]
        busy = _union_seconds(
            [
                (max(s, sp["start"]), min(e, sp["end"]))
                for m in members
                for s, e in m["intervals"]
                if e > sp["start"] and s < sp["end"]
            ]
        )
        row = {k: v for k, v in sp.items()}
        row["wall_s"] = wall
        row["jobs"] = sum(m["jobs"] for m in members)
        row["tasks"] = sum(m["tasks"] for m in members)
        for k in SUMMED:
            row[k] = sum(m[k] for m in members)
        row["driver_gap_s"] = max(0.0, wall - busy)
        table.append(row)
    return table


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (not ``root``)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process's descendants, sampled every ``period``
    seconds from a background thread between ``reset`` and ``stop``."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak_bytes = 0

    def _run(self) -> None:
        root = os.getpid()
        while not self._halt.wait(self.period):
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)
