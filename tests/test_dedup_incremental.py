"""Incremental corpus dedup (dedup_ingest, emb_ingest): per-batch
work touches only new rows' keys and the buckets the batch changed,
yet the committed result must equal the one-shot `dedup_corpus` /
`emb_dedup_corpus` of the full corpus — including the subtle
retro-drop case where a bucket crosses `max_bucket` between batches.
Both families run one ingest protocol, so the protocol tests are
parametrized over both."""

from __future__ import annotations

import shutil
import tempfile
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from cimpy_spark.fixtures.organic import (
    ORGANIC_COS_THRESHOLD,
    ORGANIC_N_TABLES,
    organic_documents,
    organic_embeddings,
)
from cimpy_spark.functions import dedup as D
from cimpy_spark.functions import similarity as SIM
from tests.conftest import SF_TINY

_DUP_TEXT = "alpha beta gamma delta epsilon zeta eta theta"
_DUP_VEC = [1.0, 0.5, 0.25, 0.125]

# one row per dedup family: its ingest and one-shot entry points, its
# id column, organic corpus, and the two committed stages after the
# arrivals commit (the crash windows)
FAMILIES = [
    pytest.param(
        SimpleNamespace(
            ingest=D.dedup_ingest,
            one_shot=D.dedup_corpus,
            id_col="doc_id",
            kw={},
            organic=lambda spark: organic_documents(
                spark.read.parquet(f"{SF_TINY}/documents.parquet")
            ),
            dups=lambda spark, ids: spark.createDataFrame(
                [(i, _DUP_TEXT) for i in ids], "doc_id long, text string"
            ),
            pairs_stage="doc_pairs",
            scores_stage="doc_jaccard",
        ),
        id="doc",
    ),
    pytest.param(
        SimpleNamespace(
            ingest=SIM.emb_ingest,
            one_shot=SIM.emb_dedup_corpus,
            id_col="vec_id",
            kw=dict(threshold=ORGANIC_COS_THRESHOLD, n_tables=ORGANIC_N_TABLES),
            organic=lambda spark: organic_embeddings(
                spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
            ),
            dups=lambda spark, ids: spark.createDataFrame(
                [(i, _DUP_VEC) for i in ids],
                "vec_id long, embedding array<double>",
            ),
            pairs_stage="emb_pairs",
            scores_stage="emb_cos",
        ),
        id="emb",
    ),
]


@pytest.fixture(params=FAMILIES)
def fam(request):
    return request.param


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="cimpy_test_dedup_incr_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    """(id, canonical_id, is_kept) rows of either family's output."""
    return {tuple(r) for r in df.collect()}


def _first_half(fam):
    return F.pmod(F.xxhash64(F.col(fam.id_col).cast("string")), F.lit(2)) == 0


def test_two_batch_ingest_equals_one_shot(spark, out_dir, fam):
    corpus = fam.organic(spark).cache()
    fam.ingest(spark, corpus.filter(_first_half(fam)), out_dir, **fam.kw)
    inc = fam.ingest(spark, corpus, out_dir, **fam.kw)
    assert _rows(inc) == _rows(fam.one_shot(corpus, **fam.kw))


def test_cap_crossing_bucket_retro_drops_pairs(spark, out_dir):
    """A bucket under the cap in batch 1 (pairs emitted) that crosses
    `max_bucket` in batch 2 must retro-drop those pairs — the one-shot
    semantics treat the bucket as boilerplate. The (band, band_key)
    provenance on the committed pair snapshot is what makes this
    exact."""
    text = "alpha beta gamma delta epsilon zeta"
    filler = [
        (100 + i, f"unique{i} filler{i} words{i} here{i} now{i}")
        for i in range(4)
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    batch1 = mk([(i, text) for i in range(3)] + filler)
    full = mk(
        [(i, text) for i in range(3)]
        + filler
        + [(10 + i, text) for i in range(3)]
    )
    r1 = D.dedup_ingest(spark, batch1, out_dir, max_bucket=4)
    # batch 1: the 3 copies cluster (bucket size 3 <= 4)
    kept1 = {r["doc_id"] for r in r1.filter("is_kept").collect()}
    assert kept1 == {0} | {r[0] for r in filler}
    # batch 2: 3 more copies -> bucket size 6 > 4 -> boilerplate;
    # every pair it justified must disappear
    r2 = D.dedup_ingest(spark, full, out_dir, max_bucket=4)
    assert _rows(r2) == _rows(D.dedup_corpus(full, max_bucket=4))
    assert r2.filter(~F.col("is_kept")).count() == 0


def test_second_ingest_is_o_increment(spark, out_dir):
    """The committed signature stage grows by the batch only: ingest 2
    appends keys for exactly the fresh docs (old docs are never
    re-signed), and re-arriving docs are skipped entirely."""
    from cimpy_spark.plans.lineage import LineageLedger

    docs = organic_documents(
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
    ).cache()
    first = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2)) == 0
    b1 = docs.filter(first)
    D.dedup_ingest(spark, b1, out_dir)
    ledger = LineageLedger(out_dir)
    arrivals_after_1 = ledger.records()["doc_arrivals"]["rows_out"]
    D.dedup_ingest(spark, docs, out_dir)
    rec = LineageLedger(out_dir).records()
    # the arrivals stage grew by the fresh docs only: n_bands key rows
    # per shingled doc + one null-band row per no-shingle doc
    b2 = docs.join(b1.select("doc_id"), "doc_id", "left_anti")
    fresh_with_shingles = b2.filter(
        F.size(F.split(F.trim("text"), r"\s+")) >= 3
    ).count()
    fresh_keyless = b2.count() - fresh_with_shingles
    assert (
        rec["doc_arrivals"]["rows_out"] - arrivals_after_1
        == fresh_with_shingles * D.N_BANDS + fresh_keyless
    )
    # third ingest of the SAME corpus: nothing fresh, result unchanged
    r3 = D.dedup_ingest(spark, docs, out_dir)
    assert _rows(r3) == _rows(D.dedup_corpus(docs))


def test_emb_cap_crossing_bucket_retro_drops_pairs(spark, out_dir):
    """Same retro-drop semantics as the doc side: identical vectors
    always share every bucket; once their bucket crosses max_bucket
    the pairs it justified must disappear, matching one-shot."""
    from cimpy_spark.functions import similarity as SIM

    base = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").limit(5)
    one_vec = base.filter(F.col("vec_id") == 0).select("embedding")
    mk_copies = lambda n, off: (
        one_vec.crossJoin(
            spark.range(n).select(F.col("id").cast("long").alias("k"))
        ).select((F.lit(off) + F.col("k")).alias("vec_id"), "embedding")
    )
    # fillers exclude vec 0 — they must not duplicate the copied vector
    fillers = base.filter(F.col("vec_id") > 0).select(
        (F.col("vec_id") + 500).alias("vec_id"), "embedding"
    )
    batch1 = mk_copies(3, 0).unionByName(fillers)
    full = batch1.unionByName(mk_copies(3, 100))
    kw = dict(threshold=0.999, max_bucket=4)
    r1 = SIM.emb_ingest(spark, batch1, out_dir, **kw)
    assert r1.filter(~F.col("is_kept")).count() == 2  # 3 copies cluster
    r2 = SIM.emb_ingest(spark, full, out_dir, **kw)
    one = SIM.emb_dedup_corpus(full, **kw)
    a = {(r["vec_id"], r["canonical_vec_id"], r["is_kept"]) for r in r2.collect()}
    b = {(r["vec_id"], r["canonical_vec_id"], r["is_kept"]) for r in one.collect()}
    assert a == b
    # the 6-copy bucket (> cap) is boilerplate now: nobody dropped
    assert r2.filter(~F.col("is_kept")).count() == 0


def _crash_on_stage(monkeypatch, stage_name, method_name):
    """Make the FIRST ledger commit of `stage_name` raise — simulating
    a crash in the window after earlier commits of the same ingest."""
    from cimpy_spark.plans.lineage import LineageLedger

    real = getattr(LineageLedger, method_name)

    def boom(self, spark, stage, *a, **k):
        if stage == stage_name:
            raise RuntimeError(f"injected crash before {stage} commit")
        return real(self, spark, stage, *a, **k)

    monkeypatch.setattr(LineageLedger, method_name, boom)
    return real


def test_crash_between_arrivals_and_pairs_recovers(
    spark, out_dir, monkeypatch, fam
):
    """Crash window: batch-2 arrivals committed, pair snapshot not.
    Without the staleness guard the next run would trust a pair
    snapshot that never saw batch 2's keys and silently drop its
    duplicates; with it, a full re-pair recovery restores exact
    one-shot equality."""
    from cimpy_spark.plans.lineage import LineageLedger

    corpus = fam.organic(spark).cache()
    fam.ingest(spark, corpus.filter(_first_half(fam)), out_dir, **fam.kw)

    real = _crash_on_stage(monkeypatch, fam.pairs_stage, "run_stage")
    with pytest.raises(RuntimeError, match="injected crash"):
        fam.ingest(spark, corpus, out_dir, **fam.kw)
    monkeypatch.setattr(LineageLedger, "run_stage", real)

    # retry after the crash: arrivals for batch 2 are committed (the
    # seen-skip must NOT re-ingest them) and the stale pair snapshot
    # must NOT be trusted
    rec = fam.ingest(spark, corpus, out_dir, **fam.kw)
    assert _rows(rec) == _rows(fam.one_shot(corpus, **fam.kw))


def test_crash_before_jaccard_append_self_heals(
    spark, out_dir, monkeypatch, fam
):
    """Crash window: pair snapshot committed, verify cache (Jaccard or
    cosine) not — the missing pairs must simply re-verify on the
    retry."""
    from cimpy_spark.plans.lineage import LineageLedger

    corpus = fam.organic(spark).cache()
    fam.ingest(spark, corpus.filter(_first_half(fam)), out_dir, **fam.kw)

    real = _crash_on_stage(monkeypatch, fam.scores_stage, "run_append_stage")
    with pytest.raises(RuntimeError, match="injected crash"):
        fam.ingest(spark, corpus, out_dir, **fam.kw)
    monkeypatch.setattr(LineageLedger, "run_append_stage", real)

    rec = fam.ingest(spark, corpus, out_dir, **fam.kw)
    assert _rows(rec) == _rows(fam.one_shot(corpus, **fam.kw))


def test_touched_join_broadcast_gate(spark, out_dir):
    """The touched-bucket set is batch-sized, so its broadcast must be
    a SIZE-GATED decision: above the gate both ingest joins are plain
    shuffle joins (no forced BroadcastExchange on the touched side —
    a 10^9-doc batch would otherwise broadcast ~4×10^9 keys), below
    it the hint is applied. auto-broadcast is disabled for the probe
    so the only possible BroadcastExchange is the explicit hint."""
    old_pairs = spark.createDataFrame(
        [(0, "k0", 1, 2), (1, "k1", 3, 4)],
        "band int, band_key string, doc_a long, doc_b long",
    )
    all_keys = spark.createDataFrame(
        [(1, 0, "k0"), (2, 0, "k0"), (5, 1, "k2")],
        "doc_id long, band int, band_key string",
    )
    touched = spark.createDataFrame([(0, "k0")], "band int, band_key string")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for use_broadcast in (False, True):
            carried, in_touched = D._touched_joins(
                old_pairs, all_keys, touched, ["band", "band_key"], use_broadcast
            )
            for df in (carried, in_touched):
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert ("BroadcastExchange" in plan) == use_broadcast, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ingest_shuffle_path_matches_broadcast_path(spark, out_dir, fam):
    """Forcing the above-gate (shuffle) path end-to-end must leave the
    committed result identical to the broadcast path and to the
    one-shot closed form."""
    corpus = fam.organic(spark).cache()
    kw = dict(fam.kw, broadcast_touched_max=0)
    fam.ingest(spark, corpus.filter(_first_half(fam)), out_dir, **kw)
    inc = fam.ingest(spark, corpus, out_dir, **kw)
    assert _rows(inc) == _rows(fam.one_shot(corpus, **fam.kw))


def test_ingest_rejects_batch_only_corpus(spark, out_dir, fam):
    """The widest-corpus contract is ENFORCED: a second ingest passed
    only the new batch (carried pairs then reference absent old rows)
    fails fast instead of silently dropping known duplicates at the
    verify join."""
    fam.ingest(spark, fam.dups(spark, [0, 1]), out_dir, **fam.kw)
    with pytest.raises(ValueError, match="widest corpus"):
        fam.ingest(spark, fam.dups(spark, [2]), out_dir, **fam.kw)


def test_broadcast_gate_bounds_touched_from_above(spark, out_dir):
    """The broadcast size gate reads last_increment_rows('doc_arrivals')
    — pinned here as a true UPPER bound on |touched| (the distinct
    (band, band_key) set of the increment's banded rows), so the gate
    is conservative: it can push a borderline batch to the repartition
    path but can never admit an oversized broadcast (ADVICE r5)."""
    from cimpy_spark.plans.lineage import LineageLedger

    docs = organic_documents(
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
    ).cache()
    first = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2)) == 0
    D.dedup_ingest(spark, docs.filter(first), out_dir)
    D.dedup_ingest(spark, docs, out_dir)
    ledger = LineageLedger(out_dir)
    batch_gate = ledger.last_increment_rows("doc_arrivals")
    last_inc = ledger.append_increments("doc_arrivals")[-1]
    inc = spark.read.parquet(last_inc)
    touched = (
        inc.filter(F.col("band").isNotNull())
        .select("band", "band_key")
        .distinct()
        .count()
    )
    assert 0 < touched <= batch_gate
    # and the gate equals the increment's total row count exactly
    assert batch_gate == inc.count()
