"""Checkpoint/resume ledger (north_rule: per-partition lineage +
triple-count metrics, idempotent resume from the last committed
snapshot).

The reference's analog is its grouped error/info accounting printed at
the end of an import (cimpy/cimimport.py:41-66,71-74). Here each
pipeline stage commits (a) its output as a parquet snapshot directory
and (b) a lineage record `(stage, rows_out, partitions, committed,
schema)`.
A stage is *committed* iff its `_SUCCESS` marker and its ledger row
both exist. `run_stage` reuses a committed snapshot only when its
commit is later than the last commit of every stage its build reads;
otherwise it recomputes — re-running a finished pipeline is a no-op,
and a resume after a crash between two commits rebuilds exactly the
stages whose inputs changed.

`run_stages` runs a batch of such stages as a DAG: each build starts
in its own thread once the stages in its `after` are written, so
builds overlap, while records retire in batch order. A record waits
until every record before it is appended; a failed stage retires
nothing after it, so a crash leaves the ledger a sequential run would.
Each record holds its snapshot's schema, so a reused stage is read
without a schema-inference job; a record without one is stale.

On a real cluster the snapshot store is Iceberg (atomic snapshot
commit replaces the `_SUCCESS` convention and gives time travel);
the ledger logic is identical, keyed by Iceberg snapshot id. Parquet
+ `_SUCCESS` is the sandbox stand-in.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class LineageLedger:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "_lineage.jsonl")
        os.makedirs(out_dir, exist_ok=True)
        self._lock = threading.Lock()  # guards the ledger file and _held
        # while `run_stages` runs: records of written stages that wait
        # for the records before them (stage -> record)
        self._held: dict[str, dict] | None = None

    def records(self) -> dict[str, dict]:
        """Last record per stage, with its commit order as `seq`. A
        record held back by a running batch counts as committed after
        every appended one, so a stage's dependents see its commit as
        soon as its data is written."""
        recs: dict[str, dict] = {}
        seq = -1
        with self._lock:
            if os.path.exists(self.path):
                with open(self.path) as f:
                    for seq, line in enumerate(f):
                        if line.strip():
                            r = json.loads(line)
                            r["seq"] = seq  # commit order; last record wins
                            recs[r["stage"]] = r
            held = list((self._held or {}).values())
        for seq, r in enumerate(held, start=seq + 1):
            recs[r["stage"]] = {**r, "seq": seq}
        return recs

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def is_committed(self, stage: str, after: tuple[str, ...] = ()) -> bool:
        """True iff `stage` is committed and its commit is later than
        the last commit of every stage in `after` (the stages it was
        built from)."""
        recs = self.records()
        rec = recs.get(stage)
        if rec is None:
            return False
        if "increments" in rec:  # append-only stage
            ok = self.is_append_committed(stage)
        else:
            # a record without a schema predates schema recording: stale
            ok = "schema" in rec and os.path.exists(
                os.path.join(self.stage_dir(stage), "_SUCCESS")
            )
        return ok and all(rec["seq"] > recs[s]["seq"] for s in after if s in recs)

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """Reader over a committed stage, with the schema its record
        holds (no schema-inference job)."""
        schema = StructType.fromJson(json.loads(self.records()[stage]["schema"]))
        return spark.read.schema(schema).parquet(self.stage_dir(stage))

    def commit(
        self,
        stage: str,
        rows: int,
        parts: int,
        partition_rows: dict[str, int] | None = None,
        increments: list[str] | None = None,
        schema: str | None = None,
    ) -> None:
        rec = {
            "stage": stage,
            "rows_out": rows,
            "partitions": parts,
            "partition_rows": partition_rows or {},
            "committed": True,
        }
        if increments is not None:
            rec["increments"] = increments
        if schema is not None:
            rec["schema"] = schema
        with self._lock:
            if self._held is not None:  # a batch appends it in its turn
                self._held[stage] = rec
                return
            self._append(rec)

    def _append(self, rec: dict) -> None:
        # append-only ledger; last record per stage wins on read
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def _write_and_commit(
        self, stage, df, path, partition_by, increments=None, prev=None
    ) -> None:
        """Write `df` to `path` (parquet writes `_SUCCESS` last), then
        append the stage's ledger record. An append stage passes its
        live `increments` and the `prev` record whose totals the new
        increment adds to."""
        writer = df.write.mode("overwrite")  # overwrites crash leftovers
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        # per-partition lineage (north_rule): row counts per committed
        # file, from the parquet footers (no re-scan job)
        per_file = self._per_file_rows(path, self.stage_dir(stage))
        rows = sum(per_file.values()) + (prev["rows_out"] if prev else 0)
        parts = len(per_file) + (prev["partitions"] if prev else 0)
        self.commit(stage, rows, parts, per_file, increments, df.schema.json())

    def _per_file_rows(self, scan_dir: str, rel_base: str) -> dict[str, int]:
        """Per-file row counts for a just-written parquet dir, read
        from the parquet FOOTERS on the driver (r8): the previous
        implementation ran a full Spark scan + groupBy(input_file_name)
        job per stage commit — a second read of every byte just
        written. Footer metadata is the same row count at O(files)
        metadata reads instead of O(rows). Keys are paths relative to
        `rel_base`, matching the old input_file_name()-derived keys.
        (On Iceberg the manifest carries these counts natively.)"""
        import glob as _glob

        import pyarrow.parquet as _pq

        out: dict[str, int] = {}
        for p in sorted(
            _glob.glob(os.path.join(scan_dir, "**", "*.parquet"), recursive=True)
        ):
            out[os.path.relpath(p, rel_base)] = _pq.ParquetFile(
                p
            ).metadata.num_rows
        return out

    # ---- append-only stages (Iceberg-append stand-in) ----------------
    #
    # A fact stage at 10^12-turn scale must never be rewritten per
    # increment. Each append writes ONLY the increment to
    # <stage>/inc_<n>/ and commits a ledger record listing all live
    # increment dirs; the snapshot reader is the union of those dirs.
    # On Iceberg this is a metadata-only append commit; here the
    # `_SUCCESS`-per-increment + last-ledger-record-wins convention
    # gives the same crash semantics: an increment exists iff its dir
    # is complete AND a committed record lists it. A crash between the
    # two leaves an orphan dir that the retry overwrites in place
    # (same index), so resume is idempotent.

    def append_increments(self, stage: str) -> list[str]:
        """Committed increment dirs for an append stage (absolute)."""
        rec = self.records().get(stage)
        if not rec or "increments" not in rec:
            return []
        return [os.path.join(self.stage_dir(stage), i) for i in rec["increments"]]

    def is_append_committed(self, stage: str) -> bool:
        dirs = self.append_increments(stage)
        return bool(dirs) and all(
            os.path.exists(os.path.join(p, "_SUCCESS")) for p in dirs
        )

    def last_increment_rows(self, stage: str) -> int:
        """Row count of the MOST RECENT committed increment of an
        append stage. The latest ledger record's ``partition_rows``
        map covers only the increment that record committed (it is
        built from a read of the new increment dir alone), so its sum
        is the batch size — free metadata, no Spark job. Consumers use
        it to size-gate broadcast hints on batch-derived frames."""
        rec = self.records().get(stage)
        if not rec or "increments" not in rec:
            raise ValueError(
                f"stage '{stage}' has no committed append increments"
            )
        return sum(rec["partition_rows"].values())

    def read_append_stage(self, spark: SparkSession, stage: str, schema) -> DataFrame:
        # one reader per increment dir, unioned: a single multi-path
        # read over hive-partitioned increments trips Spark's
        # conflicting-directory-structure check, and per-dir readers
        # keep partition pruning per increment (Iceberg replaces this
        # with one snapshot scan)
        from functools import reduce

        dirs = self.append_increments(stage)
        if not dirs:
            # a legacy (non-append) record or an empty increment list —
            # fail loudly instead of reduce() over nothing; callers
            # gate on is_append_committed
            raise ValueError(
                f"stage '{stage}' has no committed append increments "
                f"(legacy-format snapshot? gate on is_append_committed)"
            )
        dfs = [spark.read.schema(schema).parquet(p) for p in dirs]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    def run_append_stage(
        self,
        spark: SparkSession,
        stage: str,
        build_increment: "callable[[], DataFrame]",
        partition_by: list[str] | None = None,
        reset: bool = False,
    ) -> DataFrame:
        """Append one increment to the stage and return the reader over
        ALL committed increments. `reset=True` starts the increment
        list over (bootstrap). Old increment dirs are never rewritten —
        O(increment) IO per call, not O(corpus)."""
        rec = self.records().get(stage)
        incs = (
            list(rec["increments"])
            if (rec and "increments" in rec and not reset)
            else []
        )
        df = build_increment()
        inc_name = f"inc_{len(incs):05d}"
        self._write_and_commit(
            stage,
            df,
            os.path.join(self.stage_dir(stage), inc_name),
            partition_by,
            increments=incs + [inc_name],
            prev=rec if incs else None,
        )
        return self.read_append_stage(spark, stage, df.schema)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        build: "callable[[], DataFrame]",
        after: tuple[str, ...],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Compute-or-resume one stage whose `build` reads the stages
        in `after`.

        If the stage was committed after all of them, return the
        snapshot reader (no recompute — idempotent resume). Otherwise
        compute, write, record lineage, and return the snapshot reader
        so downstream stages consume the *committed* data, never a
        divergent in-memory plan. The new commit is later than every
        stage reading this one, so staleness propagates downstream.
        """
        d = self.stage_dir(stage)
        if self.is_committed(stage, after):
            return self.read_stage(spark, stage)
        df = build()
        self._write_and_commit(stage, df, d, partition_by)
        # explicit schema: an empty stage writes no data files and
        # schema inference would fail on read-back
        return spark.read.schema(df.schema).parquet(d)

    def run_stages(
        self,
        spark: SparkSession,
        stages: list[tuple],
        inputs: dict[str, DataFrame],
    ) -> dict[str, DataFrame]:
        """Run a batch of `(stage, after, build, partition_by)` through
        `run_stage`, as a DAG over `after`, and return every stage's
        reader along with `inputs` (committed stages the batch reads).

        `build` takes `{s: reader of s for s in after}`. A stage starts
        in its own thread once every stage in its `after` is written,
        with the caller's Spark local properties (job group, streaming
        batch). Records are appended in list order: a written stage's
        record waits for the records before it. If a stage fails, the
        stages before it still run and commit, none after it appends a
        record, and the call raises the failure of the first failed
        stage in list order once no stage thread is running.
        """
        order = [stage for stage, *_ in stages]
        for i, (stage, after, *_) in enumerate(stages):
            if not set(after) <= set(inputs) | set(order[:i]):
                raise ValueError(f"{stage} reads a stage that is neither an input nor before it")
        out = dict(inputs)
        started: set[int] = set()
        failed: dict[int, Exception] = {}
        retired = 0  # records appended, in list order
        running = {}
        with self._lock:
            self._held = {}
        try:
            with ThreadPoolExecutor(max_workers=len(stages)) as pool:
                while True:
                    # nothing after the first failure starts
                    for i in range(min(failed, default=len(stages))):
                        stage, after, build, partition_by = stages[i]
                        if i not in started and all(s in out for s in after):
                            started.add(i)
                            run = inheritable_thread_target(spark)(self.run_stage)
                            built = partial(build, {s: out[s] for s in after})
                            running[pool.submit(run, spark, stage, built, after, partition_by)] = i
                    if not running:
                        break
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        i = running.pop(fut)
                        try:
                            out[order[i]] = fut.result()
                        except Exception as exc:  # raised once no stage runs
                            failed[i] = exc
                    while retired < len(order) and order[retired] in out:
                        with self._lock:
                            rec = self._held.pop(order[retired], None)
                            if rec is not None:
                                self._append(rec)
                        retired += 1
        finally:
            with self._lock:
                self._held = None
        if failed:
            raise failed[min(failed)]
        return out
