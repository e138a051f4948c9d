"""Grading: pinned inputs, oracle expectations, P/R, resume and query checks.

Nothing here runs inside a timed region. The oracle
(``cimpy_spark.oracle.run_oracle``) runs once per seed on rows read
with pyarrow, and its expected triples, canonical edges and nodes are
stored as parquet, so grading collects neither the inputs nor the
committed graph to the Spark driver: P/R come from Spark anti-joins.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# north rule: committed triples and graph must reach this P and R
PR_FLOOR = 0.95
# the canonicalization tail a simulated crash loses
TAIL = ("cmap", "canon_edges", "nodes")
# explicit schemas: an empty partitioned stage has no file to infer from
STAGE_SCHEMAS = {
    "cmap": "entity_id string, canonical_id string",
    "canon_edges": "src string, pred string, dst string",
    "nodes": "entity_id string, attr string, value string, profile string",
}


class InputMismatch(RuntimeError):
    """A generated input differs from the one pinned for its seed."""


def input_digest(path: str) -> dict:
    """Row count and order-insensitive hash of a parquet input.

    Read with pyarrow, so the digest does not depend on Spark. Each
    row (columns in name order) is hashed on its own and the hashes
    are summed modulo 2**64.
    """
    table = pq.read_table(path)
    table = table.select(sorted(table.column_names))
    acc = 0
    for row in zip(*(table.column(c).to_pylist() for c in table.column_names)):
        digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "big")) % 2**64
    return {"rows": table.num_rows, "hash": f"{acc:016x}"}


def pin_key(workload: str, seed: int) -> str:
    return f"{workload}:{seed}"


def check_pins(key: str, digests: dict[str, dict], pins: dict) -> bool:
    """Raise ``InputMismatch`` when an input pinned under ``key`` (see
    ``pin_key``) differs. Returns whether ``key`` is pinned at all."""
    pinned = pins.get(key)
    if pinned is None:
        return False
    for name, got in digests.items():
        want = pinned.get(name)
        if want is not None and want != got:
            raise InputMismatch(
                f"input '{name}' of {key} is {got}, pinned {want}: "
                "the generator changed, so runs are not comparable"
            )
    return True


def _write_set(path: str, columns: list[str], rows: set) -> None:
    ordered = sorted(rows)
    table = pa.table({c: pa.array([r[i] for r in ordered], pa.string()) for i, c in enumerate(columns)})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_expected(corpus_path: str, out_dir: str) -> None:
    """Run the oracle over a corpus and store its expected outputs."""
    from cimpy_spark.oracle import run_oracle

    rows = pq.read_table(corpus_path, columns=["conv_id", "turn_idx", "text"]).to_pylist()
    o = run_oracle(rows)
    _write_set(f"{out_dir}/triples", ["subj", "pred", "obj", "obj_kind"], o.triples)
    _write_set(f"{out_dir}/canon_edges", ["src", "pred", "dst"], o.canon_edges)
    _write_set(f"{out_dir}/nodes", ["entity_id", "attr", "value"], o.nodes)


def graph_rows(canon_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """canon_edges ∪ nodes as one (kind, a, b, c) relation."""
    e = canon_edges.select(
        F.lit("e").alias("kind"), F.col("src").alias("a"), F.col("pred").alias("b"), F.col("dst").alias("c")
    )
    n = nodes.select(
        F.lit("n").alias("kind"), F.col("entity_id").alias("a"), F.col("attr").alias("b"), F.col("value").alias("c")
    )
    return e.unionByName(n)


def precision_recall(emitted: DataFrame, expected: DataFrame) -> tuple[float, float]:
    """Set P/R of ``emitted`` against ``expected``.

    The two anti-joins (emitted rows not expected, expected rows not
    emitted) are counted from one full outer join, in one Spark job.
    """
    cols = expected.columns
    em = emitted.select(*cols).distinct().withColumn("_em", F.lit(True))
    ex = expected.select(*cols).distinct().withColumn("_ex", F.lit(True))
    row = (
        em.join(ex, cols, "full_outer")
        .agg(
            F.count("_em").alias("n_em"),
            F.count("_ex").alias("n_ex"),
            F.count(F.when(F.col("_em") & F.col("_ex"), 1)).alias("tp"),
        )
        .first()
    )
    n_em, n_ex, tp = row["n_em"], row["n_ex"], row["tp"]
    if n_em == 0 or n_ex == 0:
        return (1.0, 1.0) if n_em == n_ex else (0.0, 0.0)
    return tp / n_em, tp / n_ex


def pr_failed(p: float, r: float) -> bool:
    return p < PR_FLOOR or r < PR_FLOOR


def expected_frames(spark: SparkSession, exp_dir: str) -> dict[str, DataFrame]:
    return {name: spark.read.parquet(f"{exp_dir}/{name}") for name in ("triples", "canon_edges", "nodes")}


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """A committed stage of the tail, read as the consumers read it."""
    return spark.read.schema(STAGE_SCHEMAS[stage]).parquet(os.path.join(out_dir, stage))


def committed_frames(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    from cimpy_spark.operators.extract import TRIPLE_SCHEMA
    from cimpy_spark.plans.lineage import LineageLedger

    return {
        "triples": LineageLedger(out_dir).read_append_stage(spark, "triples", TRIPLE_SCHEMA),
        "canon_edges": read_stage(spark, out_dir, "canon_edges"),
        "nodes": read_stage(spark, out_dir, "nodes"),
    }


def grade_graph(spark: SparkSession, out_dir: str, exp_dir: str) -> dict[str, float]:
    got = committed_frames(spark, out_dir)
    want = expected_frames(spark, exp_dir)
    tp, tr = precision_recall(got["triples"], want["triples"])
    gp, gr = precision_recall(
        graph_rows(got["canon_edges"], got["nodes"]), graph_rows(want["canon_edges"], want["nodes"])
    )
    return {"triple_p": tp, "triple_r": tr, "graph_p": gp, "graph_r": gr}


def _row_hash(df: DataFrame):
    return F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """Row count and order-insensitive hash of a frame (one Spark job)."""
    row = df.select(_row_hash(df).alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return int(row["n"]), str(row["s"] or 0)


def stage_fingerprints(spark: SparkSession, out_dir: str, stages=TAIL) -> dict[str, tuple[int, str]]:
    """``fingerprint`` of each committed stage, in one Spark job."""
    frames = [read_stage(spark, out_dir, s) for s in stages]
    tagged = [df.select(F.lit(s).alias("stage"), _row_hash(df).alias("h")) for s, df in zip(stages, frames)]
    rows = (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()
    )
    out = {s: (0, "0") for s in stages}
    out.update({r["stage"]: (int(r["n"]), str(r["s"])) for r in rows})
    return out


def ledger_lines(out_dir: str) -> list[dict]:
    """The ledger's records in commit order (read without the program)."""
    with open(os.path.join(out_dir, "_lineage.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def crash_tail(out_dir: str) -> int:
    """Simulate a crash while the ``cmap`` stage was being written.

    The ledger loses every record after the last ``cmap_full`` one and
    the tail stages lose their ``_SUCCESS`` markers. Returns the number
    of ledger records kept.
    """
    path = os.path.join(out_dir, "_lineage.jsonl")
    with open(path) as f:
        lines = [line for line in f if line.strip()]
    last = max(i for i, line in enumerate(lines) if json.loads(line)["stage"] == "cmap_full")
    with open(path, "w") as f:
        f.writelines(lines[: last + 1])
    for stage in TAIL:
        marker = os.path.join(out_dir, stage, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
    return last + 1


def resume_problems(before: dict, after: dict, recommitted: list[str]) -> list[str]:
    """What a resume after ``crash_tail`` got wrong, if anything.

    A correct resume recommits exactly the lost tail stages and leaves
    them equal to the uninterrupted build's.
    """
    problems = []
    skipped = [s for s in TAIL if s not in recommitted]
    if skipped:
        problems.append(f"resume skipped lost stages {skipped}")
    redone = [s for s in recommitted if s not in TAIL]
    if redone:
        problems.append(f"resume recomputed committed stages {redone}")
    for stage, fp in before.items():
        if after.get(stage) != fp:
            problems.append(f"resumed {stage} {after.get(stage)} differs from uninterrupted {fp}")
    return problems
