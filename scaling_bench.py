"""The scale harness: every at-scale measurement BENCH.md cites, from
one registry of entries (an input plus an operator call).

Inputs are derived from the fixture in $SPARK_GRAFT_SF_DIR: the ×REP
mutated documents, the hub-skewed graph with its type table, the
perturbed embeddings, the truth-discovery claims, the containment
corpus, the 8-attribute node table, the PQ vectors and the replicated
transcripts. Each input a run needs is staged once as parquet under
a temporary directory, which is removed at exit. Sizes are the `Sizes`
defaults (the values BENCH.md last cites); `--scale` multiplies them
all (each size at least 1).

Every timed call is forced through `force`, a hash over every output
column (`count()` would prune the columns and time a bare scan), and
prints one JSON line per entry. Two modes:

- Without `--base`, each named entry runs once, in process, at the
  session's default cores (the CPUs the process may run on).
- With `--base N`, each entry runs at N and at 4N cores, each level in
  a fresh JVM `taskset`-pinned to exactly that many CPUs (so the small
  level cannot borrow idle cores for GC and Arrow work), over the same
  staged input with a constant partition count (identical physical
  tasks at both levels, only concurrency differs, as on a real N vs 4N
  cluster). Each level warms until a pass gains less than 15% (at most
  4 passes: worker fork, JIT and cache residency are start-up, not
  throughput), then takes the median of 5 passes. The line carries the
  efficiency (thr_4N / thr_N) / 4; the north-rule target is >= 0.8.

Usage:
  python scaling_bench.py --list
  python scaling_bench.py extract --base 4     # extraction, 4 -> 16 cores
  python scaling_bench.py docs --scale 0.1     # every entry on one input
  python scaling_bench.py pagerank_5 ppr_4     # named entries, in process
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import asdict, dataclass, field
from types import SimpleNamespace
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cimpy_spark import pipeline as P
from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
from cimpy_spark.fixtures.organic import (
    lined_documents,
    organic_documents,
    organic_truth_pairs,
)
from cimpy_spark.functions import bpe as B
from cimpy_spark.functions import dedup as D
from cimpy_spark.functions import similarity as S
from cimpy_spark.functions import text as T
from cimpy_spark.functions import text_arrow as TA
from cimpy_spark.operators.extract import extract_triples
from cimpy_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# constant across levels: the SAME physical job runs at both levels.
# The transcripts get more, smaller tasks (~30k turns each at 4M turns,
# enough to amortize the Arrow round-trip).
PARTITIONS = 64
TURN_PARTITIONS = 128
# the dedup_ingest batch: a deterministic 1% id-hash slice
BATCH_PCT = 1
# the smallest --scale; the harness test runs every entry at it
MIN_SCALE = 0.001


@dataclass(frozen=True)
class Sizes:
    turn_rep: int = 40  # sf0.1 transcripts x40 = 4M turns
    doc_rep: int = 100  # sf0.1 documents x100 = 500k docs
    # sf0.1 embeddings x100 = 200k vectors; must stay < 101, the
    # perturbation modulus, or factor patterns repeat
    emb_rep: int = 100
    # semdedup cells stay O(10^2-10^3) vectors as the corpus scales
    semdedup_k: int = 256
    nodes: int = 1_000_000
    edges: int = 5_000_000
    containment_docs: int = 500_000
    pq_vecs: int = 500_000
    claims: int = 10_000_000
    sources: int = 100_000
    claim_entities: int = 500_000

    def scaled(self, k: float) -> Sizes:
        return Sizes(**{n: max(1, int(v * k)) for n, v in asdict(self).items()})


@dataclass
class Level:
    """What an entry sees at one parallelism level."""

    spark: SparkSession
    cores: int
    sizes: Sizes
    tmp: str  # per-pass state lives here
    memo: dict = field(default_factory=dict)  # set-up shared by passes


# ---- inputs: one builder each; every builder is deterministic ------


def _docs(spark, sz: Sizes, sf_dir: str) -> dict:
    """Documents x doc_rep. Every 4th word of replica r > 0 is salted,
    so replicas are distinct documents (cross-replica Jaccard ~0.1),
    not planted duplicates; replica 0 is the original."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    reps = spark.range(sz.doc_rep).select(F.col("id").cast("int").alias("rep"))
    words = F.split(F.trim("text"), r"\s+")
    mutated = F.array_join(
        F.transform(
            words,
            lambda w, i: F.when(
                (i % 4 == 3) & (F.col("rep") > 0),
                F.concat(w, F.lit("_r"), F.col("rep").cast("string")),
            ).otherwise(w),
        ),
        " ",
    )
    docs = base.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        mutated.alias("text"),
        "source",
    )
    return {"docs": docs}


def _types(spark, nodes: int, prefix: str) -> DataFrame:
    """Five entity types by id hash (T0 is the ppr seed slice)."""
    return spark.range(nodes).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("entity_id"),
        F.concat(F.lit("T"), F.pmod(F.xxhash64("id"), F.lit(5)).cast("string")).alias(
            "type"
        ),
    )


def _graph(spark, sz: Sizes, sf_dir: str) -> dict:
    """A preferential-attachment-style multigraph built without RNG:
    edge i joins src = i mod N to dst = xxhash64(i) mod (i mod N + 1),
    so later nodes attach toward low ids and node 0 collects a
    harmonic share of the edges (the skew the hub caps exist for)."""
    n = sz.nodes
    edges = spark.range(sz.edges).select(
        F.concat(F.lit("N"), (F.col("id") % n).cast("string")).alias("src"),
        F.concat(
            F.lit("N"),
            F.pmod(F.xxhash64("id"), (F.col("id") % n) + 1).cast("string"),
        ).alias("dst"),
        F.lit("rel").alias("pred"),
    )
    return {"edges": edges, "types": _types(spark, n, "N")}


def _embeddings(spark, sz: Sizes, sf_dir: str) -> dict:
    """Embeddings x emb_rep, each replica directionally perturbed by a
    zero-mean per-(rep, coordinate) factor over a prime modulus, so
    cross-replica cosine is ~0.8 and no exact duplicates appear (a
    scalar multiple keeps cosine; a roll repeats mod dim). Every 11th
    replica-0 vector gets an amplitude-modulated copy (cos ~0.98) so
    the drop path stays live."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    reps = spark.range(sz.emb_rep).select(F.col("id").cast("int").alias("rep"))
    perturbed = F.transform(
        "embedding",
        lambda x, i: x
        * (
            F.lit(1.0)
            + (F.pmod((i + 1) * (F.col("rep") * 31 + 7), F.lit(101)) - F.lit(50))
            * F.lit(0.016)
        ),
    )
    big = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        perturbed.alias("embedding"),
    )
    dup = big.filter((F.col("vec_id") % 11 == 2) & (F.col("vec_id") < 10_000_000)).select(
        (F.col("vec_id") + 10_000_000 * sz.emb_rep + 1).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.2)).otherwise(F.lit(0.8)),
        ).alias("embedding"),
    )
    return {"vecs": big.unionByName(dup)}


def _claims(spark, sz: Sizes, sf_dir: str) -> dict:
    """Truth-discovery claims, column-only. Claim id enumerates (fact,
    k); source s has planted reliability 50 + s % 51 percent and asserts
    the fact's true value with that probability (an xxhash64 draw),
    else a source-specific wrong value, so trust differentiates."""
    n_ent, n_attrs = sz.claim_entities, 4
    fact = F.col("id") % F.lit(n_ent * n_attrs)
    ent = (fact % F.lit(n_ent)).cast("string")
    attr = F.concat(F.lit("a"), (fact / F.lit(n_ent)).cast("int").cast("string"))
    src_n = F.pmod(F.xxhash64(F.lit("s"), "id"), F.lit(sz.sources))
    reliability = F.lit(50) + src_n % F.lit(51)
    draw = F.pmod(F.xxhash64(F.lit("d"), "id"), F.lit(100))
    true_val = F.concat(F.lit("v"), F.pmod(fact, F.lit(997)).cast("string"))
    wrong_val = F.concat(F.lit("w"), F.pmod(src_n, F.lit(31)).cast("string"))
    claims = spark.range(sz.claims).select(
        F.concat(F.lit("E"), ent).alias("subj"),
        attr.alias("pred"),
        F.when(draw < reliability, true_val).otherwise(wrong_val).alias("obj"),
        F.lit("literal").alias("obj_kind"),
        F.concat(F.lit("c"), src_n.cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit(0).alias("mention_idx"),
        F.lit("user").alias("role"),
    )
    cmap = (
        spark.range(n_ent)
        .select(F.concat(F.lit("E"), F.col("id").cast("string")).alias("entity_id"))
        .select("entity_id", F.col("entity_id").alias("canonical_id"))
    )
    return {"claims": claims, "cmap": cmap}


def _containment(spark, sz: Sizes, sf_dir: str) -> dict:
    """~40-word hash-vocabulary documents plus, for every 100th, its
    first 24 words as a contained excerpt (the operator's target)."""
    n = sz.containment_docs
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") + F.lit(j * n)), F.lit(50_000)).cast(
                        "string"
                    ),
                )
                for j in range(40)
            ],
        ).alias("text"),
    )
    trunc = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).cast("long").alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 24), " ").alias("text"),
    )
    return {"docs": base.unionByName(trunc)}


def _attrs(spark, sz: Sizes, sf_dir: str) -> dict:
    """An 8-attribute node table over `nodes` entities, typed five
    ways. a1 is derived from the entity id, so one functional
    dependency holds."""
    n = sz.nodes
    attr_no = (F.col("id") / n).cast("int")
    nodes = spark.range(n * 8).select(
        F.concat(F.lit("E"), (F.col("id") % n).cast("string")).alias("entity_id"),
        F.concat(F.lit("a"), attr_no.cast("string")).alias("attr"),
        F.when(attr_no == 1, F.pmod(F.xxhash64(F.col("id") % n), F.lit(2)).cast("string"))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(100)).cast("string"))
        .alias("value"),
        F.lit("user").alias("profile"),
    )
    return {"nodes": nodes, "types": _types(spark, n, "E")}


def _pq(spark, sz: Sizes, sf_dir: str) -> dict:
    """64-dim hash vectors with coordinates in [-1, 1)."""
    n = sz.pq_vecs
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("id") + F.lit(i * n)), F.lit(2_000)).cast("double")
                / F.lit(1_000.0)
                - F.lit(1.0)
                for i in range(64)
            ]
        ).alias("embedding"),
    )
    return {"vecs": vecs}


def _turns(spark, sz: Sizes, sf_dir: str) -> dict:
    """Transcripts derived from the events, x turn_rep."""
    reps = spark.range(sz.turn_rep).select(F.col("id").alias("rep"))
    turns = (
        transcripts_from_events(spark, sf_dir)
        .crossJoin(reps)
        .withColumn("conv_id", F.concat_ws("_", "conv_id", "rep"))
        .select("conv_id", "turn_idx", "role", "text")
    )
    return {"turns": turns}


# input -> (builder, the table whose rows throughput counts)
INPUTS: dict[str, tuple[Callable[..., dict], str]] = {
    "docs": (_docs, "docs"),
    "graph": (_graph, "edges"),
    "embeddings": (_embeddings, "vecs"),
    "claims": (_claims, "claims"),
    "containment": (_containment, "docs"),
    "attrs": (_attrs, "nodes"),
    "pq": (_pq, "vecs"),
    "turns": (_turns, "turns"),
}


def stage(spark, name: str, sizes: Sizes, root: str, sf_dir: str = SF_DIR) -> SimpleNamespace:
    """Write input `name` as parquet under `root` and read it back."""
    parts = TURN_PARTITIONS if name == "turns" else PARTITIONS
    for table, df in INPUTS[name][0](spark, sizes, sf_dir).items():
        df.repartition(parts).write.mode("overwrite").parquet(f"{root}/{name}/{table}")
    return load(spark, name, root)


def load(spark, name: str, root: str) -> SimpleNamespace:
    return SimpleNamespace(
        **{t: spark.read.parquet(f"{root}/{name}/{t}") for t in os.listdir(f"{root}/{name}")}
    )


def rows(name: str, data: SimpleNamespace) -> int:
    return getattr(data, INPUTS[name][1]).count()


def input_hash(data: SimpleNamespace) -> int:
    """Order-insensitive hash over every table of a staged input."""
    return sum(force(df)[0] or 0 for df in vars(data).values())


# ---- the registry ---------------------------------------------------


class Op(NamedTuple):
    input: str
    # timed: run(level, data, *setup result) -> the frame to force
    run: Callable[..., DataFrame]
    # untimed, before every pass; its result is run's last argument
    setup: Callable[..., object] | None = None


def _cached_turns(lv: Level, d) -> DataFrame:
    """The in-memory input: the cluster analog where every executor
    scans its local shard, isolating the parallelizable work."""
    if "turns" not in lv.memo:
        lv.memo["turns"] = d.turns.repartition(TURN_PARTITIONS).cache()
        lv.memo["turns"].count()
    return lv.memo["turns"]


def _late() -> Column:
    return F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(100)) < BATCH_PCT


def _ingest_state(lv: Level, d) -> str:
    """A fresh copy of the state bootstrapped on every document outside
    the arriving batch (the bootstrap itself runs once per level)."""
    if "ingest_boot" not in lv.memo:
        boot = lv.memo["ingest_boot"] = tempfile.mkdtemp(dir=lv.tmp)
        D.dedup_ingest(lv.spark, d.docs.filter(~_late()).select("doc_id", "text"), boot)
    state = tempfile.mkdtemp(dir=lv.tmp)
    shutil.copytree(lv.memo["ingest_boot"], state, dirs_exist_ok=True)
    return state


def _first_500(docs: DataFrame) -> DataFrame:
    return docs.orderBy("doc_id").limit(500)


def _docs_op(fn) -> Op:
    return Op("docs", lambda lv, d: fn(d.docs))


def _graph_op(fn) -> Op:
    return Op("graph", lambda lv, d: fn(d.edges))


REGISTRY: dict[str, Op] = {
    # curation operators over the x100 documents
    "pack_sequences": Op("docs", lambda lv, d: T.pack_sequences(d.docs, n_shards=lv.cores)),
    "mixture_sample": _docs_op(T.mixture_sample),
    "pii_scrub": _docs_op(T.pii_scrub),
    "repetition_score": _docs_op(T.repetition_score),
    "chunk_documents": _docs_op(T.chunk_documents),
    "vocab_sketch": _docs_op(T.vocab_sketch),
    "heavy_hitters_cms": _docs_op(T.heavy_hitters_cms),
    "hash_split": _docs_op(T.hash_split),
    "fingerprint_md5": _docs_op(T.fingerprint),
    "fingerprint_v2_xxh64": _docs_op(T.fingerprint_v2),
    "gopher_rules": _docs_op(lambda x: T.gopher_rules(x, min_mean_len=4.5)),
    "dup_spans": _docs_op(T.dup_spans),
    "bm25_score": _docs_op(T.bm25_score),
    # the benchmark set is the 500 lowest doc ids, whatever the
    # partitioning (a bare limit(500) takes whichever rows come first)
    "contamination": _docs_op(lambda x: T.contamination(x, _first_500(x), n=5)),
    "line_dedup": _docs_op(lambda x: T.line_dedup(lined_documents(x))),
    "setsim_join": _docs_op(D.setsim_join),
    "bpe_merges_k8": _docs_op(lambda x: B.bpe_merges(x, k=8)),
    "bpe_token_count": _docs_op(lambda x: B.bpe_token_count(x, k=8)),
    "script_profile": _docs_op(T.script_profile),
    "mad_outliers": _docs_op(T.mad_outliers),
    "source_terms": _docs_op(T.source_terms),
    "epoch_allocation": _docs_op(T.epoch_allocation),
    "repetition_score_arrow": _docs_op(TA.repetition_score_arrow),
    "dup_spans_arrow": _docs_op(TA.dup_spans_arrow),
    "contamination_arrow": _docs_op(lambda x: TA.contamination_arrow(x, _first_500(x), n=5)),
    "dsir_weights": _docs_op(lambda x: T.dsir_weights(x, target_source="src0")),
    "token_entropy": _docs_op(T.token_entropy),
    "readability": _docs_op(T.readability),
    "dup_cluster_stats": _docs_op(D.dup_cluster_stats),
    # organic planting over the scaled base: its +1M..+4M offsets
    # cannot collide with the rep * 10M id lanes
    "dedup_eval": _docs_op(
        lambda x: D.dedup_eval(D.dedup_corpus(organic_documents(x)), organic_truth_pairs(x))
    ),
    # the family is passed explicitly: a bare call measures whatever
    # the default is at the time
    "dedup_corpus": _docs_op(lambda x: D.dedup_corpus(x.select("doc_id", "text"), family="xxh64")),
    "dedup_corpus_md5": _docs_op(lambda x: D.dedup_corpus(x.select("doc_id", "text"), family="md5")),
    # the batch arrives as the whole corpus against the bootstrapped
    # state; the corpus-sized work left is one anti-join against the
    # seen set. The one-shot alternative is `dedup_corpus`.
    "dedup_ingest": Op(
        "docs",
        lambda lv, d, state: D.dedup_ingest(lv.spark, d.docs.select("doc_id", "text"), state),
        _ingest_state,
    ),
    # the size gate's above-threshold path: touched joins as shuffles
    "dedup_ingest_shuffle": Op(
        "docs",
        lambda lv, d, state: D.dedup_ingest(
            lv.spark, d.docs.select("doc_id", "text"), state, broadcast_touched_max=0
        ),
        _ingest_state,
    ),
    # graph operators over the hub-skewed multigraph
    "degree_distribution": _graph_op(P.degree_distribution),
    "pagerank_5": _graph_op(lambda e: P.pagerank(e, iters=5)),
    "lpa_2": _graph_op(lambda e: P.lpa_communities(e, iters=2)),
    "kcore_k3": _graph_op(lambda e: P.kcore(e, k=3, rounds=4)),
    "triangles": _graph_op(P.triangle_stats),
    "ppr_4": Op(
        "graph",
        lambda lv, d: P.ppr(
            d.edges, d.types.filter(F.col("type") == "T0").select("entity_id"), iters=4
        ),
    ),
    "walks_w1_l3": _graph_op(lambda e: P.walk_corpus(e, walks_per_node=1, length=3)),
    "wl_colors": Op("graph", lambda lv, d: P.wl_colors(d.edges, d.types, rounds=2)),
    "linkpred_eval_k2": _graph_op(lambda e: P.linkpred_eval(e, k=2)),
    "conductance_i1": _graph_op(lambda e: P.community_conductance(e, iters=1)),
    # a selective 2-hop from one constant source; an unselective
    # 2-hop over a power-law graph is the documented wedge blowup
    "bgp_2hop_const_src": Op(
        "graph",
        lambda lv, d: P.bgp_match(
            d.edges,
            [(f"N{min(12345, lv.sizes.nodes - 1)}", "rel", "?b"), ("?b", "rel", "?c")],
        ),
    ),
    "containment_9_10": Op(
        "containment", lambda lv, d: D.containment_join(d.docs, num=9, den=10)
    ),
    "funcdeps": Op("attrs", lambda lv, d: P.funcdeps(d.nodes)),
    # impute over a ~1/5 holdout with the threshold off, so the output
    # is the full modal-suggestion surface
    "attr_impute": Op(
        "attrs",
        lambda lv, d: P.attr_impute(
            d.nodes.filter(F.pmod(F.xxhash64("entity_id", "attr"), F.lit(5)) != 0),
            d.types,
            d.types.select("entity_id", F.col("entity_id").alias("canonical_id")),
            num=0,
            den=1,
        ),
    ),
    "pq_topk": Op(
        "pq", lambda lv, d: S.pq_topk(d.vecs, m=4, k=16, iters=2, n_queries=8, topk=10)
    ),
    "semdedup": Op(
        "embeddings",
        lambda lv, d: S.semdedup(d.vecs, k=lv.sizes.semdedup_k, iters=2, threshold=0.95),
    ),
    "truth_discovery_i1": Op("claims", lambda lv, d: P.truth_discovery(d.claims, d.cmap, iters=1)),
    "truth_discovery_i2": Op("claims", lambda lv, d: P.truth_discovery(d.claims, d.cmap, iters=2)),
    "source_trust": Op("claims", lambda lv, d: P.source_trust(d.claims, d.cmap, iters=2)),
    "extract": Op("turns", lambda lv, d, turns: extract_triples(turns), _cached_turns),
    # the vectorized parquet reader feeds Arrow columnarly: higher
    # absolute throughput, but single-VM storage fixed costs favour
    # the small level, so the ratio evidence stays on `extract`
    "extract_parquet": Op("turns", lambda lv, d: extract_triples(d.turns)),
}


# ---- running --------------------------------------------------------


def force(df: DataFrame) -> tuple[int | None, int]:
    """Evaluate every output column; returns (hash, rows). The pmod
    keeps the ANSI sum from overflowing."""
    r = df.select(
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return r["h"], r["n"]


def timed(lv: Level, name: str, data: SimpleNamespace) -> tuple[float, int | None, int]:
    """One pass of entry `name`: set-up untimed, then call and force."""
    op = REGISTRY[name]
    args = () if op.setup is None else (op.setup(lv, data),)
    t0 = time.perf_counter()
    h, n = force(op.run(lv, data, *args))
    return time.perf_counter() - t0, h, n


def _level(cores: int, name: str, root: str, sizes: Sizes) -> dict:
    """One scaling level of `name` in this process (a pinned child)."""
    spark = get_spark(f"scaling-{name}-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    inp = REGISTRY[name].input
    data = load(spark, inp, root)
    lv = Level(spark, cores, sizes, tempfile.mkdtemp(dir=root))
    n_rows = rows(inp, data)
    # one pass is not enough at high parallelism (observed: the first
    # two timed passes 2x slower at 16 cores)
    prev = float("inf")
    for _ in range(4):
        cur = timed(lv, name, data)[0]
        if cur > 0.85 * prev:
            break
        prev = cur
    passes = [timed(lv, name, data) for _ in range(5)]
    spark.stop()
    sec = statistics.median(p[0] for p in passes)
    return {
        "cores": cores,
        "rows": n_rows,
        "sec": round(sec, 3),
        "rows_per_sec": round(n_rows / sec, 1),
        "runs": [round(p[0], 3) for p in passes],
        "out_rows": passes[0][2],
        "hash": passes[0][1],
    }


def _scaling(name: str, base: int, root: str, scale: float) -> dict:
    levels = {}
    for cores in (base, 4 * base):
        # taskset confines the whole process tree (JVM, GC threads,
        # Python workers) to exactly `cores` CPUs: local[N] alone would
        # let the low level borrow idle cores and inflate the baseline
        proc = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, os.path.abspath(__file__),
             name, "--scale", str(scale), "--level", str(cores), "--stage", root],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(proc.stdout[-3000:], proc.stderr[-3000:], file=sys.stderr)
            raise RuntimeError(f"{name} at {cores} cores failed")
        levels[cores] = json.loads(line[-1][len("RESULT "):])
    lo, hi = levels[base], levels[4 * base]
    return {
        "metric": f"{name}_scaling_efficiency_{base}_to_{4 * base}",
        "value": round(hi["rows_per_sec"] / lo["rows_per_sec"] / 4, 3),
        "unit": "ratio",
        "levels": levels,
        "scale": scale,
        "loadavg": round(os.getloadavg()[0], 2),
    }


def select(names: list[str]) -> list[str]:
    """Entry names; an input name stands for every entry on it."""
    out = []
    for n in names:
        if n in REGISTRY:
            out.append(n)
        elif n in INPUTS:
            out += [e for e, op in REGISTRY.items() if op.input == n]
        else:
            raise SystemExit(f"unknown entry or input {n!r}; see --list")
    return list(dict.fromkeys(out))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0], formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("entries", nargs="*", help="entry or input names")
    ap.add_argument("--base", type=int, help="run at N and 4N pinned cores")
    ap.add_argument("--scale", type=float, default=1.0, help="multiplies every size")
    ap.add_argument("--list", action="store_true", help="print the registry and exit")
    ap.add_argument("--level", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--stage", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.list:
        for name, op in REGISTRY.items():
            print(f"{op.input:12s} {name}")
        return
    if args.scale < MIN_SCALE:
        raise SystemExit(f"--scale must be >= {MIN_SCALE}")
    names = select(args.entries)
    if not names:
        ap.error("name at least one entry or input")
    sizes = Sizes().scaled(args.scale)
    if args.level:
        print("RESULT " + json.dumps(_level(args.level, names[0], args.stage, sizes)))
        return

    root = tempfile.mkdtemp(prefix="scaling_bench_")
    try:
        spark = get_spark("scaling-bench")
        spark.sparkContext.setLogLevel("ERROR")
        staged = {
            inp: stage(spark, inp, sizes, root)
            for inp in dict.fromkeys(REGISTRY[n].input for n in names)
        }
        if args.base:
            spark.stop()
            for name in names:
                print(json.dumps(_scaling(name, args.base, root, args.scale)), flush=True)
            return
        lv = Level(spark, spark.sparkContext.defaultParallelism, sizes, root)
        n_rows = {inp: rows(inp, data) for inp, data in staged.items()}
        for name in names:
            inp = REGISTRY[name].input
            sec, h, n = timed(lv, name, staged[inp])
            print(json.dumps({
                "entry": name,
                "input": inp,
                "rows": n_rows[inp],
                "sec": round(sec, 3),
                "hash": h,
                "out_rows": n,
                "cores": lv.cores,
                "scale": args.scale,
                "loadavg": round(os.getloadavg()[0], 2),
            }), flush=True)
        spark.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
