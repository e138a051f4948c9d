"""Property tests for training-data ops (exact values are covered by
the DuckDB oracle gate; these check semantic invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cimpy_spark.functions import dedup as D
from cimpy_spark.functions import similarity as SIM
from cimpy_spark.functions import text as T
from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet").cache()


def _with_copies(df, key):
    return df.select(key, *[c for c in df.columns if c != key]).union(
        df.select((F.col(key) + 1000000).alias(key), *[c for c in df.columns if c != key])
    )


def test_exact_dedup_finds_planted_copies(spark, docs):
    dupd = _with_copies(docs.select("doc_id", "text"), "doc_id")
    groups = D.exact_duplicates(dupd)
    n_distinct_texts = docs.select("text").distinct().count()
    assert groups.count() == n_distinct_texts
    assert groups.filter(F.col("n_docs") < 2).count() == 0


def test_minhash_finds_identical_docs(spark, docs):
    """Identical texts have identical signatures → identical band keys
    → must appear as candidates (recall 1.0 on exact dups)."""
    sample = docs.select("doc_id", "text").limit(50)
    dupd = _with_copies(sample, "doc_id")
    cands = D.minhash_candidates(dupd)
    planted = sample.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1000000).alias("doc_b")
    )
    missed = planted.join(cands, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0


def test_jaccard_identical_is_one(spark, docs):
    sample = docs.select("doc_id", "text").limit(20)
    dupd = _with_copies(sample, "doc_id")
    pairs = sample.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1000000).alias("doc_b")
    )
    jac = D.ngram_jaccard(dupd, pairs)
    assert jac.filter(F.col("jaccard") != 1.0).count() == 0


def test_simhash_identical_texts_collide(spark, docs):
    sh = D.simhash(docs)  # 60-bit production default
    joined = (
        docs.select("doc_id", "text")
        .join(sh, "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("simhash").alias("n"))
    )
    assert joined.filter(F.col("n") > 1).count() == 0
    # 60-bit range, sign bit untouched
    assert sh.filter((F.col("simhash") < 0) | (F.col("simhash") >= 2**60)).count() == 0
    # legacy 16-bit fixture-scale case stays in range
    sh16 = D.simhash(docs, n_bits=16)
    assert sh16.filter((F.col("simhash") < 0) | (F.col("simhash") >= 65536)).count() == 0


def test_simhash_60bit_matches_oracle(spark, docs):
    """The widened fingerprint (bit (j-1)//32 of hex digit (j-1)%32,
    integer-shift packing) matches the independent DuckDB derivation
    bit for bit — double-power packing would already diverge at
    j > 53."""
    import duckdb

    from cimpy_spark.functions.doc_oracles import simhash_sql
    from tests.conftest import SF_TINY

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    oracle = {
        r[0]: r[1] for r in con.execute(simhash_sql(n_bits=60)).fetchall()
    }
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, n_bits=60).collect()}
    assert got == oracle
    # 60 bits actually used somewhere (not silently 32-truncated)
    assert any(v >= 2**53 for v in got.values())


def test_cosine_topk_shape(spark, emb):
    topk = SIM.cosine_topk(emb, n_queries=4, k=5)
    rows = topk.collect()
    assert len(rows) == 4 * 5
    assert all(-1.0 <= r["sim"] <= 1.0 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_neardup_finds_planted_identicals(spark, emb):
    dupd = _with_copies(emb.select("vec_id", "embedding"), "vec_id")
    pairs = SIM.neardup_pairs(dupd, threshold=0.999)
    n = emb.count()
    # every planted identical pair shares every LSH bucket → found
    assert pairs.filter(F.col("sim") >= 0.999999).count() >= n


def test_max_bucket_bounds_boilerplate_pairs(spark):
    """One giant boilerplate bucket must NOT explode into O(n²) pairs:
    the cap drops it, oversize_buckets reports it, and genuine dups
    outside the bucket are still found."""
    boiler = [
        (i, "the same boilerplate disclaimer text repeated for every doc")
        for i in range(120)
    ]
    real = [
        (1000, "a genuinely unique document about spark shuffle behavior"),
        (1001, "a genuinely unique document about spark shuffle behavior"),
    ]
    docs = spark.createDataFrame(boiler + real, "doc_id int, text string")
    cands = D.minhash_candidates(docs)  # default cap 32 < 120
    rows = cands.collect()
    # all 7140 boilerplate pairs suppressed; the real dup remains
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1000, 1001)]
    over = D.oversize_buckets(docs)
    assert over.count() == D.N_BANDS  # the boilerplate bucket, per band
    assert over.filter(F.col("n_docs") != 120).count() == 0
    # uncapped for contrast: the explosion the cap prevents
    assert D.minhash_candidates(docs, max_bucket=10**9).count() == 120 * 119 // 2 + 1


def test_bucket_pairs_repeated_id_yields_no_self_pair(spark):
    """An id repeated inside one bucket must emit neither (x, x) nor a
    duplicate pair: ids [7, 7, 9] yield only (7, 9)."""
    keys = spark.createDataFrame(
        [(0, 1, 7), (0, 1, 7), (0, 1, 9)], "band int, band_key long, doc_id long"
    )
    rows = D.bucket_pairs(keys, ["band", "band_key"], max_bucket=32).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(7, 9)]


def test_neardup_max_bucket_bounds_degenerate_pairs(spark, emb):
    """A degenerate LSH bucket (many copies of one vector) is dropped
    by the cap instead of producing O(n²) candidate pairs."""
    one = emb.select("vec_id", "embedding").limit(1)
    copies = one.crossJoin(
        spark.range(200).select(F.col("id").cast("int").alias("k"))
    ).select((F.col("vec_id") + 10000 + F.col("k")).alias("vec_id"), "embedding")
    pairs = SIM.neardup_pairs(copies, threshold=0.999, max_bucket=50)
    assert pairs.count() == 0
    uncapped = SIM.neardup_pairs(copies, threshold=0.999, max_bucket=10**9)
    assert uncapped.count() == 200 * 199 // 2


def test_simhash_candidates_find_identicals(spark, docs):
    """Identical texts have identical fingerprints → hamming 0 → found
    whenever their buckets survive the cap; with the cap lifted,
    recall on exact dups is 1.0."""
    sample = docs.select("doc_id", "text").limit(40)
    dupd = _with_copies(sample, "doc_id")
    planted = sample.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1000000).alias("doc_b")
    )
    uncapped = D.simhash_candidates(dupd, max_bucket=10**9)
    missed = planted.join(uncapped, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0
    # every planted pair that IS emitted carries hamming 0
    assert planted.join(uncapped, ["doc_a", "doc_b"]).filter(
        F.col("hamming") != 0
    ).count() == 0
    # the default cap stays sound: emitted pairs are a subset of the
    # uncapped pairs
    capped = D.simhash_candidates(dupd)
    assert capped.join(uncapped, ["doc_a", "doc_b"], "left_anti").count() == 0


def test_dedup_corpus_transitive_clusters(spark, docs):
    """A≈B≈C must collapse to ONE cluster with min-id canonical, and
    unique docs keep themselves."""
    sample = docs.select("doc_id", "text").limit(30)
    trip = (
        sample.union(
            sample.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        ).union(
            sample.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
        )
    )
    res = D.dedup_corpus(trip, threshold=0.99)
    rows = {r["doc_id"]: (r["canonical_doc_id"], r["is_kept"]) for r in res.collect()}
    assert len(rows) == 90
    base_ids = [r["doc_id"] for r in sample.collect()]
    for b in base_ids:
        # identical triplet {b, b+1000, b+2000} -> canonical min = b
        assert rows[b] == (b, True)
        assert rows[b + 1000][0] == rows[b + 2000][0] == rows[b][0]
        assert not rows[b + 1000][1] and not rows[b + 2000][1]
    # survivors = one per cluster
    assert sum(1 for v in rows.values() if v[1]) == res.select(
        "canonical_doc_id"
    ).distinct().count()


def test_emb_dedup_corpus_transitive_clusters(spark, emb):
    """Identical-vector triplets {v, v+1000, v+2000} must collapse to
    one cluster with min-id canonical; unique vectors keep themselves
    (the embedding-side mirror of dedup_corpus)."""
    sample = emb.select("vec_id", "embedding").limit(20)
    trip = sample.union(
        sample.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    ).union(
        sample.select((F.col("vec_id") + 2000).alias("vec_id"), "embedding")
    )
    res = SIM.emb_dedup_corpus(trip, threshold=0.999)
    rows = {r["vec_id"]: (r["canonical_vec_id"], r["is_kept"]) for r in res.collect()}
    assert len(rows) == 60
    for b in [r["vec_id"] for r in sample.collect()]:
        assert rows[b] == (b, True)
        assert rows[b + 1000][0] == rows[b + 2000][0] == b
        assert not rows[b + 1000][1] and not rows[b + 2000][1]
    with pytest.raises(ValueError, match="non-negative vec_id"):
        SIM.emb_dedup_corpus(
            trip.select((F.col("vec_id") - 10**9).alias("vec_id"), "embedding")
        )


def test_fingerprint_deterministic_per_text(spark, docs):
    fp = T.fingerprint(docs)
    joined = (
        docs.select("doc_id", "text")
        .join(fp, "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("fingerprint").alias("n"))
    )
    assert joined.filter(F.col("n") > 1).count() == 0


def test_dedup_corpus_rejects_negative_doc_ids(spark):
    """The zero-padded ordering contract is enforced, not just
    documented: a negative doc_id would lexicographically mis-order
    against numeric min, so the operator fails fast."""
    bad = spark.createDataFrame(
        [(-1, "some text with enough words to shingle properly here"),
         (2, "other text with enough words to shingle properly here")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="non-negative doc_id"):
        D.dedup_corpus(bad)


def test_jaccard_explode_restricted_to_candidates(spark, docs):
    """Plan regression: the shingle arrays must be built over the
    candidate SUBSET (broadcast semi-join upstream), not the whole
    corpus — verify-stage cost is O(candidates) — and since r8 the
    intersection is IN-ROW (array_intersect): reintroducing a
    per-shingle explode into the verify would put a corpus-shaped
    Generate back into the plan."""
    sample = docs.select("doc_id", "text").limit(20)
    pairs = sample.limit(3).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1000000).alias("doc_b")
    )
    jac = D.ngram_jaccard(_with_copies(sample, "doc_id"), pairs)
    plan = jac._jdf.queryExecution().executedPlan().toString()
    # the only LeftSemi in this plan is the candidate restriction;
    # the in-row verify has NO explode (r8)
    assert "LeftSemi" in plan, plan
    assert "Generate" not in plan, plan
    # semantics: only candidate docs are verified, all planted
    # identical pairs score 1.0
    rows = jac.collect()
    assert len(rows) == 3
    assert all(r["jaccard"] == 1.0 for r in rows)


def test_signature_ops_are_pure_projections(spark, docs, emb):
    """Plan regression (PLANS.md): simhash and lsh_buckets must stay
    ZERO-exchange projections — a reintroduced explode/shuffle in the
    signature path is a scale regression even if results stay right."""
    for df in (
        D.simhash(docs),
        SIM.lsh_buckets(emb),
        T.fingerprint(docs),
        # round 6: the xxhash64 fingerprint family and the zip-shift
        # _gram_array must ALSO stay zero-exchange pure projections —
        # the quadratic-HOF fix may not reintroduce a shuffle or an
        # explode, and neither may the v2 signature fold
        T.fingerprint_v2(docs),
        docs.select("doc_id", T._gram_array(5).alias("g")),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan, plan  # no explodes
    # v2 band keys: exactly ONE Generate (the band explode), zero
    # Exchange — same contract as v1's minhash_band_keys
    plan = (
        D.minhash_band_keys_v2(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert plan.count("Generate") == 1, plan


def test_hash_split_stable_under_corpus_growth(spark, docs):
    """The property RNG splits lack: a doc's split depends only on its
    id and the salt, so adding documents never moves existing ones —
    and re-salting yields an independent assignment."""
    full = T.hash_split(docs)
    half = T.hash_split(docs.filter(F.col("doc_id") % 2 == 0))
    fm = {r["doc_id"]: (r["bucket"], r["split"]) for r in full.collect()}
    for r in half.collect():
        assert fm[r["doc_id"]] == (r["bucket"], r["split"])
    # split fractions roughly honored (5/5/90 over 100 buckets)
    n = len(fm)
    by = {}
    for _, s in fm.values():
        by[s] = by.get(s, 0) + 1
    assert by["train"] > 0.8 * n
    assert 0 < by.get("val", 0) < 0.15 * n
    # re-salt: assignments differ somewhere
    other = {
        r["doc_id"]: r["bucket"]
        for r in T.hash_split(docs, salt="split1").collect()
    }
    assert any(other[d] != b for d, (b, _) in fm.items())


def test_source_quota_keeps_top_k_per_source(spark, docs):
    k = 3
    out = T.source_quota(docs, k=k).collect()
    per_src = {}
    for r in out:
        per_src.setdefault(r["source"], []).append((r["rk"], r["quality"]))
    q = {r["doc_id"]: r["quality"] for r in T.quality_score(docs).collect()}
    src_of = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    for src, rows in per_src.items():
        assert len(rows) == min(k, sum(1 for d in src_of.values() if d == src))
        ranked = sorted(rows)
        # quality non-increasing down the ranks
        assert all(
            ranked[i][1] >= ranked[i + 1][1] for i in range(len(ranked) - 1)
        )
        # nothing outside the quota beats the last kept quality
        kept_min = ranked[-1][1]
        kept_ids = {r["doc_id"] for r in out if r["source"] == src}
        for d, srcd in src_of.items():
            if srcd == src and d not in kept_ids:
                assert q[d] <= kept_min


def test_contamination_flags_ngram_overlap(spark, docs):
    """A train doc sharing any 5-gram with the benchmark is flagged;
    one with disjoint vocabulary is not; hit counts are distinct-gram
    counts."""
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "totally different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        # shares the 5-grams 'alpha..epsilon' and 'beta..zeta'
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
           for r in T.contamination(train, bench, n=5).collect()}
    assert out[1] == (2, True)
    assert out[2] == (0, False)
    # every source doc of a planted trunc90 mutation is contaminated
    # against the organic benchmark (prefix property: the mutation's
    # 5-grams are a subset of its source's)
    from cimpy_spark.fixtures.organic import organic_documents

    org = organic_documents(docs)
    bench2 = org.filter(
        (F.col("doc_id") >= 2_000_000) & (F.col("doc_id") < 3_000_000)
    )
    res = T.contamination(docs.select("doc_id", "text"), bench2)
    sources = {r["doc_id"] - 2_000_000 for r in bench2.select("doc_id").collect()}
    flagged = {r["doc_id"] for r in res.filter("contaminated").collect()}
    # sources whose trunc90 kept >= 5 words must be flagged
    long_enough = {
        r["doc_id"]
        for r in docs.filter(
            F.greatest(F.lit(1), (F.size(F.split(F.trim("text"), r"\s+")) * 9).cast("long") / 10) >= 5
        ).select("doc_id").collect()
    }
    assert (sources & long_enough) <= flagged


def test_kmeans_ivf_cell_ranking_is_one_join_not_k_unions(spark, emb):
    """At a real IVF cell count (2^14+) a per-centroid union loop is a
    plan-size explosion (k branches with literal vectors baked into
    the plan). Cell ranking must be ONE broadcast join against a k-row
    centroid table: the plan at k=64 contains no Union node at all."""
    df = SIM.kmeans_ivf_topk(emb, k=64, iters=1, n_queries=2, topk=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert df.count() == 2 * 3


def test_kmeans_sample_fraction_trains_on_hash_sample(spark, emb):
    """Train-on-sample: centroid updates see only the deterministic
    hash sample, but the returned assignment covers EVERY vector and
    cells stay the seed ids. sample_fraction=1.0 is the exact path."""
    full_assign, full_cents = SIM.kmeans_cells(emb, k=4, iters=2)
    samp_assign, samp_cents = SIM.kmeans_cells(
        emb, k=4, iters=2, sample_fraction=0.5
    )
    n = emb.count()
    assert samp_assign.count() == n == full_assign.count()
    assert set(samp_cents) == set(full_cents) == {0, 1, 2, 3}
    # deterministic: same sample → same centroids, run to run
    again_assign, again_cents = SIM.kmeans_cells(
        emb, k=4, iters=2, sample_fraction=0.5
    )
    assert again_cents == samp_cents
    with pytest.raises(ValueError, match="sample_fraction"):
        SIM.kmeans_cells(emb, k=4, sample_fraction=0.0)


def test_contamination_broadcasts_hashed_grams(spark):
    """The broadcast side must carry xxhash64(gram) (8 bytes), not raw
    gram strings — a real eval suite is millions of 13-grams and the
    broadcast is this plan's only scale pressure point. Raw grams are
    allowed only in the candidate-restricted collision re-verify."""
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    df = T.contamination(train, bench, n=5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan
    # the hash semi-join key is present and hinted for broadcast
    assert "gram_h" in plan


def test_pack_sequences_invariants(spark, docs):
    """Packing invariants: every doc lands in exactly one (shard,
    seq); offset is the doc's start inside its sequence (cum_excl mod
    budget); per-shard token sums reconcile with the highest seq_id;
    derivation is deterministic call-to-call."""
    budget = 64
    out = T.pack_sequences(docs, budget=budget, n_shards=4).cache()
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    assert out.filter((F.col("offset") < 0) | (F.col("offset") >= budget)).count() == 0
    # shard totals: max seq's start == sum of preceding docs' tokens
    per_shard = (
        out.groupBy("shard")
        .agg(
            F.sum("n_tokens").alias("tot"),
            F.max(F.col("seq_id") * budget + F.col("offset") + F.col("n_tokens")).alias("hi"),
        )
        .collect()
    )
    for r in per_shard:
        # the last doc's end position equals the shard's total tokens
        assert r["hi"] == r["tot"], r
    again = T.pack_sequences(docs, budget=budget, n_shards=4)
    assert out.exceptAll(again).count() == 0


def test_mixture_sample_rates_and_determinism(spark, docs):
    """Keep rates follow the weights: unweighted sources never
    sampled; a clamped source (rate 1.0) keeps every doc; sampling is
    a stable per-doc hash decision (re-salt changes it, same salt
    doesn't)."""
    out = T.mixture_sample(
        docs, weights={"src0": 0.9, "src1": 0.05}, budget_tokens=5_000
    ).cache()
    rates = {r["source"]: r["rate"] for r in out.select("source", "rate").distinct().collect()}
    assert rates["src0"] == 1.0  # 0.9*5000 > src0's ~1435 tokens → clamp
    assert 0.0 < rates["src1"] < 1.0
    assert all(v == 0.0 for s, v in rates.items() if s not in ("src0", "src1"))
    assert out.filter((F.col("rate") == 0.0) & F.col("sampled")).count() == 0
    src0 = out.filter(F.col("source") == "src0")
    assert src0.filter(~F.col("sampled")).count() == 0
    again = T.mixture_sample(
        docs, weights={"src0": 0.9, "src1": 0.05}, budget_tokens=5_000
    )
    assert out.exceptAll(again).count() == 0
    resalt = T.mixture_sample(
        docs, weights={"src0": 0.9, "src1": 0.05}, budget_tokens=5_000,
        salt="mix1",
    )
    assert out.exceptAll(resalt).count() > 0  # src1's fractional picks move


def test_pii_scrub_redacts_planted_items(spark, docs):
    """Every planted class is counted once on its docs and redacted in
    clean_text; no pattern matches the scrubbed output; PII-free docs
    pass through byte-identical."""
    from cimpy_spark.fixtures.organic import pii_documents

    pii = pii_documents(docs)
    out = T.pii_scrub(pii).cache()
    d = F.col("doc_id")
    for m, col, token in [
        (1, "n_email", "<EMAIL>"), (2, "n_url", "<URL>"),
        (3, "n_ip", "<IP>"), (4, "n_phone", "<PHONE>"),
    ]:
        sub = out.filter(d % 7 == m)
        assert sub.filter(F.col(col) != 1).count() == 0, col
        assert sub.filter(~F.col("clean_text").contains(token)).count() == 0
    # nothing matchable survives scrubbing
    for _, pat, _repl in T.PII_PATTERNS:
        assert out.filter(
            F.size(F.regexp_extract_all(F.col("clean_text"), F.lit(pat), F.lit(0))) > 0
        ).count() == 0, pat
    # untouched docs: clean_text == text
    joined = out.join(pii, "doc_id").filter(d % 7 > 4)
    assert joined.filter(F.col("clean_text") != F.col("text")).count() == 0


def test_repetition_score_flags_looping_text(spark):
    """A doc that repeats one phrase has high duplicate-gram fractions;
    an all-distinct doc scores 0; short docs (no grams) score 0."""
    d = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham"),
            (2, "one two three four five six seven eight"),
            (3, "single"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_score(d).collect()}
    assert out[1]["repetitive"] and out[1]["dup_2gram_frac"] > 0.5
    assert not out[2]["repetitive"] and out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["dup_2gram_frac"] == 0.0 and out[3]["dup_3gram_frac"] == 0.0


def test_chunk_documents_covers_every_word_minimally(spark, docs):
    """Chunking invariants: chunk 0 starts at word 0; consecutive
    chunks overlap by exactly `overlap` when full; every word index is
    covered; no chunk beyond the minimal count; reconstruction of
    chunk 0 equals the first max_tokens words."""
    mt, ov = 16, 4
    stride = mt - ov
    ws = docs.select("doc_id", F.size(F.split(F.trim("text"), "\\s+")).alias("n"))
    out = T.chunk_documents(docs, max_tokens=mt, overlap=ov)
    joined = out.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("last"), F.count(F.lit(1)).alias("k")
    ).join(ws, "doc_id")
    rows = joined.collect()
    import math
    for r in rows:
        expect_last = max(0, math.ceil((r["n"] - mt) / stride))
        assert r["last"] == expect_last, r
        assert r["k"] == expect_last + 1
        # coverage: last chunk reaches the end
        assert expect_last * stride + mt >= r["n"] or r["n"] <= mt
    # chunk token counts: full chunks have mt tokens, the tail has the rest
    bad = out.join(ws, "doc_id").filter(
        (F.col("chunk_idx") * stride + mt <= F.col("n"))
        & (F.col("n_tokens") != mt)
    )
    assert bad.count() == 0
    with pytest.raises(ValueError):
        T.chunk_documents(docs, max_tokens=8, overlap=8)


def test_emb_contamination_flags_modulated_sources(spark, emb):
    """Every train vector whose organic modulated copy (cos≈0.98) is
    in the benchmark must be flagged when its LSH bucket collides;
    vectors with no planted copy are never flagged (hard negatives
    sit at cos≈0)."""
    from cimpy_spark.fixtures.organic import organic_embeddings

    bench = organic_embeddings(emb).filter(
        (F.col("vec_id") >= 1_000_000) & (F.col("vec_id") < 2_000_000)
    )
    out = SIM.emb_contamination(emb, bench).cache()
    flagged = {r["vec_id"] for r in out.filter("contaminated").collect()}
    sources = {r["vec_id"] for r in emb.filter(F.col("vec_id") % 11 == 2).select("vec_id").collect()}
    # flagged ⊆ sources (nothing else is near any bench vector) ...
    assert flagged <= sources
    # ... and LSH recall at 3 tables catches most planted pairs
    assert len(flagged) >= 0.8 * len(sources)


def test_quantize_embeddings_bounds_and_reconstruction(spark, emb):
    """Quantized components fit int8 symmetric range; reconstruction
    error is bounded by scale/2; all-zero vectors quantize cleanly."""
    out = SIM.quantize_embeddings(emb).cache()
    rows = out.collect()
    for r in rows:
        qs = [int(x) for x in r["qvec"].split(",")]
        assert all(-127 <= q <= 127 for q in qs), r["vec_id"]
        # err is 6dp-rounded, so allow the half-ulp of that rounding
        assert r["max_abs_err"] <= r["scale"] / 2 + 5e-7
    zero = spark.createDataFrame(
        [(0, [0.0] * 4)], "vec_id long, embedding array<double>"
    )
    zrow = SIM.quantize_embeddings(zero).collect()[0]
    assert zrow["scale"] == 0.0 and zrow["qvec"] == "0,0,0,0"
    assert zrow["max_abs_err"] == 0.0


def test_vocab_sketch_estimates_within_kmv_error(spark, docs):
    """KMV invariants: the estimate is within the ~1/√k band of the
    exact distinct count for sources with > k tokens; sources with
    ≤ k distinct tokens report EXACTLY (kth_u null → est == exact);
    deterministic run to run (no RNG — the hash IS the randomness)."""
    k = 64
    out = {r["source"]: r for r in T.vocab_sketch(docs, k=k).collect()}
    exact = {
        r["source"]: r["n"]
        for r in docs.select("source", F.explode(F.split(F.trim("text"), "\\s+")).alias("t"))
        .distinct()
        .groupBy("source")
        .agg(F.countDistinct("t").alias("n"))
        .collect()
    }
    import math
    for s, r in out.items():
        if r["kth_u"] is None:
            assert r["est_distinct"] == exact[s] and exact[s] <= k
        else:
            # 4/sqrt(k) ≈ 4-sigma band — deterministic fixture, no flake
            assert abs(r["est_distinct"] - exact[s]) <= 4 * exact[s] / math.sqrt(k), (s, r, exact[s])
    again = {r["source"]: r for r in T.vocab_sketch(docs, k=k).collect()}
    assert again == out


def test_heavy_hitters_cms_overestimates_only(spark, docs):
    """CMS invariants: every estimate ≥ the exact count (collisions
    only add); with enough width the top hitters estimate exactly;
    deterministic run to run."""
    out = T.heavy_hitters_cms(docs, d=4, w=2048, k=10).cache()
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)
    # wide sketch: overestimate bounded well below 2N/w
    n_total = docs.select(F.explode(F.split(F.trim("text"), "\\s+"))).count()
    assert all(
        r["est_cnt"] - r["exact_cnt"] <= 2 * n_total / 2048 for r in rows
    )
    again = T.heavy_hitters_cms(docs, d=4, w=2048, k=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_quantize_small_magnitude_vectors_stay_int8(spark):
    """Regression (round-5 review finding): quantizing with a
    decimals-rounded scale underestimated it for small-magnitude
    vectors and emitted q=190 > 127. The scale used in the math must
    be the exact max|v|/127, so every component lands in [-127, 127]
    regardless of magnitude."""
    tiny = spark.createDataFrame(
        [(0, [1.8986e-7, 1e-8, -5e-8, 2e-8]), (1, [3e-12, -2.9e-12, 0.0, 1e-13])],
        "vec_id long, embedding array<double>",
    )
    for r in SIM.quantize_embeddings(tiny).collect():
        qs = [int(x) for x in r["qvec"].split(",")]
        assert all(-127 <= q <= 127 for q in qs), (r["vec_id"], qs)
        assert max(abs(q) for q in qs) == 127  # max component saturates


def test_curation_ops_plan_shapes(spark, docs, emb):
    """Plan regression for the round-5 curation ops (PLANS.md claims
    made durable): repetition and quantization are ZERO-exchange
    projections; packing is exactly ONE shard-window exchange;
    mixture sampling shuffles only the tiny per-source aggregate (one
    hash exchange) and reaches the corpus via a broadcast join, never
    a corpus shuffle."""
    for df in (T.repetition_score(docs), SIM.quantize_embeddings(emb)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    pack = T.pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert pack.count("Exchange hashpartitioning") == 1, pack
    mix = T.mixture_sample(docs)._jdf.queryExecution().executedPlan().toString()
    assert mix.count("Exchange hashpartitioning") <= 1, mix
    assert "BroadcastExchange" in mix, mix


def test_lm_quality_scores_probable_text_higher(spark):
    """A doc whose bigrams repeat corpus-typical patterns scores a
    higher (less negative) mean log-prob than a doc of one-off
    bigrams; single-word docs carry no bigram (null score); scores
    are deterministic."""
    d = spark.createDataFrame(
        [
            (1, "the table the table the table the table"),
            # common first word 'the' with one-off continuations:
            # P(zebra|the) = 1/9 etc. — improbable under the corpus LM
            (2, "the zebra the apple the onion"),
            (3, "word"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.lm_quality(d).collect()}
    # doc 1's 'the table' dominates P(·|the) -> far higher log-prob
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[1]["n_bigrams"] == 7 and out[2]["n_bigrams"] == 5
    assert out[3]["n_bigrams"] == 0 and out[3]["avg_logprob"] is None
    again = {r["doc_id"]: r for r in T.lm_quality(d).collect()}
    assert again == out


def test_gopher_rules_flags_compose_and_split(spark, docs):
    out = T.gopher_rules(docs, min_mean_len=4.5).cache()
    # keep is exactly the AND of the four rule flags
    bad = out.filter(
        F.col("keep")
        != (
            F.col("rule_word_count")
            & F.col("rule_word_len")
            & F.col("rule_stopwords")
            & F.col("rule_diversity")
        )
    )
    assert bad.count() == 0
    # the gate parameterization must exercise both branches of at
    # least word-count, word-len and diversity on the real corpus
    for flag in ("rule_word_count", "rule_word_len", "rule_diversity"):
        n_true = out.filter(F.col(flag)).count()
        assert 0 < n_true < out.count(), flag
    out.unpersist()


def test_gopher_rules_short_and_repetitive_docs_fail(spark):
    d = spark.createDataFrame(
        [
            (1, "too short"),
            (2, " ".join(["the word is of and to in repeated"] * 10)),
            (3, "the of and to " + " ".join(f"word{i:02d}" for i in range(28))),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.gopher_rules(d).collect()}
    assert not rows[1]["rule_word_count"] and not rows[1]["keep"]
    # 80 words, 8 distinct -> distinct_ratio 0.1 fails diversity
    assert not rows[2]["rule_diversity"] and not rows[2]["keep"]
    assert rows[3]["keep"]


def test_bm25_tf_and_idf_ordering(spark):
    filler = "alpha beta gamma delta epsilon zeta eta theta"
    d = spark.createDataFrame(
        [
            (1, f"spark {filler}"),
            (2, f"spark spark spark {filler}"),
            (3, f"{filler} {filler}"),
            (4, f"vector {filler}"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.bm25_score(d).collect()}
    # no query term -> zero score
    assert rows[3]["bm25"] == 0.0
    # higher tf of the same term -> strictly higher score
    assert rows[2]["bm25"] > rows[1]["bm25"] > 0.0
    assert rows[2]["tf_spark"] == 3 and rows[1]["tf_spark"] == 1
    # 'vector' (df=1) is rarer than 'spark' (df=2): with equal tf and
    # equal dl the rarer term must contribute more
    assert rows[4]["bm25"] > rows[1]["bm25"]


def _span_docs(spark):
    common = " ".join(f"c{i}" for i in range(15))
    return spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(10)) + " " + common),
            (2, common + " " + " ".join(f"b{i}" for i in range(10))),
            (3, " ".join(f"u{i}" for i in range(25))),
            (4, " ".join([f"d{i}" for i in range(5)] * 2) + " x y z"),
        ],
        "doc_id long, text string",
    )


def test_dup_spans_cross_doc_and_within_doc(spark):
    d = _span_docs(spark)
    rows = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_grams"]
        for r in T.dup_spans(d, n=5).collect()
    }
    # shared 15-word run: words 10..24 in doc 1, 0..14 in doc 2 —
    # exactly the 11 five-grams fully inside the run, merged maximal
    assert rows == {
        (1, 10, 24): 11,
        (2, 0, 14): 11,
        # doc 4: the repeated 5-word phrase duplicates the grams at
        # positions 0 and 5 (gap 5 <= n merges them into one span)
        (4, 0, 9): 2,
    }


def test_dup_span_stats_zero_for_clean_docs(spark):
    d = _span_docs(spark)
    rows = {r["doc_id"]: r for r in T.dup_span_stats(d, n=5).collect()}
    assert rows[3]["n_dup_words"] == 0 and rows[3]["dup_frac"] == 0.0
    assert rows[1]["n_dup_words"] == 15
    assert rows[1]["dup_frac"] == round(15 / 25, 6)
    assert set(rows) == {1, 2, 3, 4}


def test_dup_spans_parity_vs_duckdb(spark):
    """The driver-style sorted-column value compare the tail entries
    rely on until their r6 gate row (doc_dup_spans is past this
    round's 50-slot prefix)."""
    import duckdb

    from cimpy_spark.functions import doc_oracles as O
    from cimpy_spark.fixtures.organic import organic_documents

    docs = organic_documents(
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    for sdf, sql in (
        (T.dup_spans(docs), O.dup_spans_sql()),
        (T.dup_span_stats(docs), O.dup_span_stats_sql()),
    ):
        sp = sdf.toPandas()
        du = con.execute(sql).df()
        cols = sorted(sp.columns)
        sp = sp[cols].sort_values(cols).reset_index(drop=True)
        du = du[cols].sort_values(cols).reset_index(drop=True)
        assert list(sp.dtypes) == list(du.dtypes)
        assert sp.equals(du)


def test_length_quantiles_integer_rank_selection(spark):
    # source A lengths {1,2,3,4}: ranks ceil(.25*4)=1, ceil(.5*4)=2,
    # ceil(.75*4)=3, ceil(.9*4)=4 -> values 1,2,3,4
    d = spark.createDataFrame(
        [(i, "w " * i, "A") for i in (1, 2, 3, 4)]
        + [(10, "x", "B")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in T.length_quantiles(d).collect()}
    a = rows["A"]
    assert (a["n_docs"], a["p25"], a["p50"], a["p75"], a["p90"]) == (4, 1, 2, 3, 4)
    b = rows["B"]
    assert (b["n_docs"], b["p25"], b["p90"]) == (1, 1, 1)


def test_fingerprint_v2_parity_vs_duckdb(spark, docs):
    """fingerprint_v2 (xxhash64 family, VERDICT r5 #3) against the
    pure-SQL XXH64 port — bit-exact per doc, not just hash-of-sorted:
    this pins the oracle's 128-bit arithmetic and byte handling."""
    import duckdb

    from cimpy_spark.functions import doc_oracles as O

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = {r["doc_id"]: r["fingerprint"]
          for r in T.fingerprint_v2(docs).collect()}
    du = dict(con.execute(O.fingerprint_v2_sql()).fetchall())
    assert sp == du


def test_fingerprint_v2_edge_inputs(spark):
    """Short-doc fallback (xxhash64 of the full text) and exotic
    inputs (empty text, unicode, >32-byte shingles that exercise the
    oracle's recursive stripe loop) stay bit-identical cross-engine."""
    import duckdb

    from cimpy_spark.functions import doc_oracles as O

    rows = [
        (1, ""),                             # empty → fallback
        (2, "one two three four"),           # 4 words → fallback
        (3, "ünïcode wörds häßlich çedilla fünf sechs"),
        (4, " ".join(f"verylongword{i}extrapayload" for i in range(12))),
        (5, "a b c d e f g h i j"),
        (6, None),                           # NULL text → 42 (seed), not a dropped row
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sp = {r["doc_id"]: r["fingerprint"]
          for r in T.fingerprint_v2(d).collect()}
    du = dict(con.execute(O.fingerprint_v2_sql()).fetchall())
    assert sp == du


def test_length_quantiles_parity_vs_duckdb(spark, docs):
    import duckdb

    from cimpy_spark.functions import doc_oracles as O

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = T.length_quantiles(docs).toPandas()
    du = con.execute(O.length_quantiles_sql()).df()
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert list(sp.dtypes) == list(du.dtypes)
    assert sp.equals(du)


def test_temperature_mixture_flattens_toward_small_sources(spark):
    # big: 10 docs x 40 words; small: 2 docs x 10 words
    d = spark.createDataFrame(
        [(i, "w " * 40, "big") for i in range(10)]
        + [(100 + i, "w " * 10, "small") for i in range(2)],
        "doc_id long, text string, source string",
    )
    r = {
        row["source"]: row["rate"]
        for row in T.temperature_mixture(d, alpha=0.3, budget_tokens=100)
        .select("source", "rate")
        .distinct()
        .collect()
    }
    # alpha<1 up-weights the small source: its keep RATE must exceed
    # the big source's (and both stay in (0, 1])
    assert 0 < r["big"] < r["small"] <= 1.0
    # alpha=1 is proportional sampling: equal rates for every source
    # (each source's target = its own share of the budget)
    r1 = {
        row["source"]: row["rate"]
        for row in T.temperature_mixture(d, alpha=1.0, budget_tokens=100)
        .select("source", "rate")
        .distinct()
        .collect()
    }
    assert abs(r1["big"] - r1["small"]) < 1e-9


def test_temperature_mixture_parity_vs_duckdb(spark, docs):
    import duckdb

    from cimpy_spark.functions import doc_oracles as O

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = T.temperature_mixture(docs).toPandas()
    du = con.execute(O.temperature_mixture_sql()).df()
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert list(sp.dtypes) == list(du.dtypes)
    assert sp.equals(du)


def test_knn_graph_planted_copy_is_rank_one(spark, emb):
    """The organic amplitude-modulated copy (vec_id + 1e6, cos ≈ .98)
    must surface as its source's rank-1 neighbor whenever the pair is
    co-bucketed (3 tables recall most); ranks are consecutive from 1
    and sims non-increasing within a vector."""
    from cimpy_spark.fixtures.organic import organic_embeddings

    g = SIM.knn_graph(organic_embeddings(emb)).cache()
    rows = g.collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], []).append(r)
    for vid, rs in by_vec.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
    # planted pairs found at rank 1 (source side), for most sources
    planted = [
        (r["vec_id"], r["neighbor_id"])
        for r in rows
        if r["rank"] == 1 and r["neighbor_id"] == r["vec_id"] + 1_000_000
    ]
    n_planted_sources = len([v for v in by_vec if v + 1_000_000 in by_vec])
    assert len(planted) >= 0.8 * n_planted_sources > 0
    g.unpersist()


def test_domain_flags_blocklist_and_multi_url(spark):
    d = spark.createDataFrame(
        [
            (1, "see https://ex.org/a and http://ok.example/b here"),
            (2, "clean text no links"),
            (3, "https://tracker.bad/x https://ex.org/y"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.domain_flags(d).collect()}
    assert rows[1]["n_urls"] == 2
    assert rows[1]["domains"] == "ex.org,ok.example"
    assert rows[1]["n_blocked"] == 1 and rows[1]["blocked"]
    assert rows[2]["n_urls"] == 0 and rows[2]["domains"] == "" and not rows[2]["blocked"]
    assert rows[3]["n_blocked"] == 2 and rows[3]["blocked"]


def test_domain_flags_parity_vs_duckdb(spark, docs):
    import duckdb

    from cimpy_spark.functions import doc_oracles as O
    from cimpy_spark.fixtures.organic import pii_documents

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = T.domain_flags(pii_documents(docs)).toPandas()
    du = con.execute(O.domain_flags_sql()).df()
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert list(sp.dtypes) == list(du.dtypes)
    assert sp.equals(du)


def test_corpus_card_values(spark):
    d = spark.createDataFrame(
        [
            (1, "the a of and to in words here", "A"),
            (2, "the a of and to in words here", "A"),   # exact dup of 1
            (3, "completely different unique text body", "B"),
        ],
        "doc_id long, text string, source string",
    )
    row = T.corpus_card(d).collect()[0]
    assert row["n_docs"] == 3 and row["n_sources"] == 2
    assert row["total_ws_tokens"] == 8 + 8 + 5
    assert row["n_dup_docs"] == 2  # both members of the dup group
    assert row["pct_exact_dup"] == round(2 / 3, 6)
    # fixed-point mean equals the rounded mean of per-doc qualities
    qs = [r["quality"] for r in T.quality_score(d).collect()]
    assert row["mean_quality"] == round(
        sum(round(q * 1e6) for q in qs) / 1e6 / 3, 6
    )


def test_asof_join_semantics(spark):
    """Inclusive <= tie, latest-preceding pick, null when nothing
    precedes — pinned on a hand-built timeline."""
    from cimpy_spark.analytics import asof_join

    left = spark.createDataFrame(
        [
            (100, 1, "2024-01-01 00:00:10"),
            (101, 1, "2024-01-01 00:00:20"),
            (102, 2, "2024-01-01 00:00:05"),
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (200, 1, "2024-01-01 00:00:10"),  # == left 100 ts (inclusive)
            (201, 1, "2024-01-01 00:00:15"),  # latest before left 101
            (202, 2, "2024-01-01 00:00:30"),  # AFTER left 102 -> no match
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: r["asof_event_id"]
        for r in asof_join(left, right, key="user_id").collect()
    }
    assert out == {100: 200, 101: 201, 102: None}


def test_range_join_bins_and_boundaries(spark):
    """Inclusive endpoints, intervals spanning multiple bins, and
    no-match points — the bin bucketing must be invisible."""
    from cimpy_spark.analytics import range_join

    points = spark.createDataFrame(
        [(1, 1000), (1, 1600), (1, 2200), (1, 999), (2, 1500)],
        "user_id long, click_s long",
    )
    # interval [1000, 2200] spans 3 bins at bin_seconds=600
    iv = spark.createDataFrame(
        [(10, 1, 1000, 2200)],
        "iv_id long, user_id long, start_s long, end_s long",
    )
    for bins in (600, 100, 10_000):
        got = sorted(
            r["click_s"]
            for r in range_join(
                points, iv, key="user_id", ts="click_s", bin_seconds=bins
            ).collect()
        )
        assert got == [1000, 1600, 2200], bins  # both endpoints in; 999 and user 2 out

def test_line_dedup_removes_cross_doc_footers_keeps_unique(spark):
    d = spark.createDataFrame(
        [
            (1, "alpha beta\ncopyright A\ngamma"),
            (2, "delta\ncopyright A"),
            (3, "epsilon zeta\nCOPYRIGHT a  \nonly here line 3"),
            (4, "solo doc untouched"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.line_dedup(d, min_docs=2).collect()}
    # 'copyright A' normalizes (trim+lower) equal across docs 1-3
    assert out[1]["clean_text"] == "alpha beta\ngamma"
    assert out[1]["n_lines"] == 3 and out[1]["n_boiler"] == 1
    assert out[2]["clean_text"] == "delta"
    assert out[3]["clean_text"] == "epsilon zeta\nonly here line 3"
    assert out[4]["clean_text"] == "solo doc untouched"
    assert out[4]["n_boiler"] == 0


def test_line_dedup_doc_count_not_occurrences(spark):
    # a line repeated WITHIN one doc only is not boilerplate
    # (doc-count semantics); a fully-boilerplate doc empties out
    d = spark.createDataFrame(
        [
            (1, "same line\nsame line\nbody one"),
            (2, "shared footer"),
            (3, "shared footer"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.line_dedup(d, min_docs=2).collect()}
    assert out[1]["clean_text"] == "same line\nsame line\nbody one"
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[3]["n_boiler"] == 1


def test_line_dedup_min_docs_threshold(spark):
    d = spark.createDataFrame(
        [(i, "common\nbody %d" % i) for i in range(1, 4)],
        "doc_id long, text string",
    )
    # min_docs=4 > corpus occurrences → nothing removed
    kept_all = T.line_dedup(d, min_docs=4)
    assert kept_all.filter(F.col("n_boiler") > 0).count() == 0
    assert T.line_dedup(d, min_docs=3).filter(
        F.col("n_boiler") == 1
    ).count() == 3


def test_line_dedup_parity_vs_duckdb(spark):
    import duckdb

    from cimpy_spark.functions import doc_oracles as O
    from cimpy_spark.fixtures.organic import lined_documents

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = T.line_dedup(
        lined_documents(spark.read.parquet(f"{SF_TINY}/documents.parquet"))
    ).toPandas()
    du = con.execute(O.line_dedup_sql()).df()
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert list(sp.dtypes) == list(du.dtypes)
    assert sp.equals(du)
    # planted semantics hold on the fixture corpus too: every %3!=0
    # doc lost at least its footer; every %97==5 doc kept its marker
    full = T.line_dedup(
        lined_documents(spark.read.parquet(f"{SF_TINY}/documents.parquet"))
    )
    assert full.filter(
        (F.col("doc_id") % 3 != 0) & (F.col("n_boiler") == 0)
    ).count() == 0
    assert full.filter(F.col("doc_id") % 97 == 5).filter(
        ~F.col("clean_text").contains("unique marker")
    ).count() == 0


def test_setsim_join_exact_boundary_and_planted(spark):
    # J exactly at the 4/5 threshold is KEPT (>=, exact integer
    # comparison); just below is excluded; identical docs give J=1
    d = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7"),   # 5 shingles
            (2, "w1 w2 w3 w4 w5 w6"),      # 4-shingle prefix subset: J=4/5
            (3, "w1 w2 w3 w4 w5"),         # 3 of 5: J=3/5 < 4/5
            (4, "w1 w2 w3 w4 w5 w6 w7"),   # exact copy of 1
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r for r in D.setsim_join(d).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)]["jaccard"] == 0.8
    assert (1, 4) in rows and rows[(1, 4)]["jaccard"] == 1.0
    assert (2, 4) in rows  # same sets as (1,2)
    assert not any(3 in k for k in rows)


def test_setsim_join_no_false_negatives_vs_bruteforce(spark, docs):
    # prefix filtering must lose NOTHING vs the quadratic join on a
    # real corpus slice (the completeness theorem, checked empirically)
    from cimpy_spark.fixtures.organic import organic_documents

    corpus = organic_documents(docs.limit(80))
    fast = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.setsim_join(corpus).collect()
    }
    sh = corpus.filter(T.has_shingles(3)).select(
        "doc_id", F.explode(T.shingle_array(3)).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    brute = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(F.lit(5) * F.col("c") >= F.lit(4) * (F.col("na") + F.col("nb") - F.col("c")))
        .select(
            "doc_a", "doc_b",
            F.round(F.col("c") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("c")), 6).alias("j"),
        )
    )
    slow = {(r["doc_a"], r["doc_b"], r["j"]) for r in brute.collect()}
    assert fast == slow and len(fast) > 0


def test_setsim_join_parity_vs_duckdb(spark):
    import duckdb

    from cimpy_spark.functions import doc_oracles as O
    from cimpy_spark.fixtures.organic import organic_documents

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_TINY}/documents.parquet')"
    )
    sp = D.setsim_join(
        organic_documents(spark.read.parquet(f"{SF_TINY}/documents.parquet"))
    ).toPandas()
    du = con.execute(O.setsim_join_sql()).df()
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert list(sp.dtypes) == list(du.dtypes)
    assert sp.equals(du)


def test_script_profile_classes_and_dominant(spark):
    d = spark.createDataFrame(
        [
            (1, "abc de"),          # alpha-dominant
            (2, "12345 6789!"),     # digit-dominant
            (3, "!!! ?? ."),        # punct-dominant
            (4, "café üß"),  # non-ASCII bytes count as other
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.script_profile(d).collect()}
    assert (out[1]["n_alpha"], out[1]["n_space"], out[1]["main_class"]) == (5, 1, "alpha")
    assert (out[2]["n_digit"], out[2]["n_punct"], out[2]["main_class"]) == (9, 1, "digit")
    assert (out[3]["n_punct"], out[3]["main_class"]) == (6, "punct")
    assert out[4]["n_other"] == 3 and out[4]["n_alpha"] == 3  # é/ü/ß not ASCII
    # counts always partition n_chars
    for r in out.values():
        assert (
            r["n_alpha"] + r["n_digit"] + r["n_space"]
            + r["n_punct"] + r["n_other"] == r["n_chars"]
        )


def test_mad_outliers_exact_median_and_flag(spark):
    # n_words: [1, 2, 3, 4, 100] → lower median 3, adevs [2,1,0,1,97]
    # → mad 1 → only the 100-word doc exceeds 5*1
    rows = [(i, " ".join(["w"] * n)) for i, n in
            [(1, 1), (2, 2), (3, 3), (4, 4), (5, 100)]]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.mad_outliers(d).collect()}
    assert out[1]["med"] == 3 and out[1]["mad"] == 1
    assert [out[i]["is_outlier"] for i in range(1, 6)] == [
        False, False, False, False, True
    ]
    # even-count corpus takes the LOWER median (rank ceil(n/2))
    d2 = spark.createDataFrame(rows[:4], "doc_id long, text string")
    assert T.mad_outliers(d2).collect()[0]["med"] == 2


def test_epoch_allocation_cap_and_budget(spark):
    # big: 100 tokens, small: 10 tokens; budget 220 → proportional
    # raw shares 200/20; cap at 4 epochs → small capped at 40?? no:
    # raw small = 220*10//110 = 20 < 4*10=40 → uncapped. With budget
    # 2200: raw small = 200 > 40 → capped at 40, epochs_milli 4000.
    rows = [(1, " ".join(["w"] * 100), "big"), (2, " ".join(["w"] * 10), "small")]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in T.epoch_allocation(d, budget=2200, max_epochs=4).collect()}
    assert out["small"]["alloc_tokens"] == 40 and out["small"]["capped"]
    assert out["small"]["epochs_milli"] == 4000
    # big raw share 2000 also exceeds its 4-epoch cap of 400
    assert out["big"]["alloc_tokens"] == 400 and out["big"]["capped"]
    assert out["big"]["epochs_milli"] == 4000
    low = {r["source"]: r for r in T.epoch_allocation(d, budget=110, max_epochs=4).collect()}
    assert low["big"]["alloc_tokens"] == 100 and low["big"]["epochs_milli"] == 1000
    assert low["small"]["alloc_tokens"] == 10


def test_source_terms_surfaces_distinctive_not_frequent(spark):
    # 'filler' floods both sources but appears in both → idf 0 →
    # score 0; each source's unique term ranks first despite lower tf
    d = spark.createDataFrame(
        [
            (1, "filler filler filler filler quantum", "A"),
            (2, "filler filler filler filler", "A"),
            (3, "filler filler filler filler biology", "B"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["source"], r["rank"]): r for r in T.source_terms(d, k=2).collect()}
    import math
    assert out[("A", 1)]["term"] == "quantum"
    assert out[("A", 1)]["score"] == round(math.log(2), 6)
    assert out[("B", 1)]["term"] == "biology"
    # the ubiquitous term scores exactly 0 and ranks below
    assert out[("A", 2)]["term"] == "filler" and out[("A", 2)]["score"] == 0.0
    assert out[("A", 2)]["tf"] == 8 and out[("A", 2)]["src_df"] == 2


def test_source_terms_rank_ties_break_on_term(spark):
    d = spark.createDataFrame(
        [(1, "zeta alpha", "S"), (2, "beta", "T")],
        "doc_id long, text string, source string",
    )
    # both S-terms unique to S with tf=1 → identical score; rank
    # order must be alphabetical
    out = [r["term"] for r in T.source_terms(d, k=2)
           .filter(F.col("source") == "S").orderBy("rank").collect()]
    assert out == ["alpha", "zeta"]


def test_source_overlap_counts_distinct_texts_not_copies(spark):
    d = spark.createDataFrame(
        [
            (1, "shared text one", "A"),
            (2, "shared text one", "B"),
            (3, "shared text one", "B"),   # extra copy in B: still 1
            (4, "shared text two", "A"),
            (5, "shared text two", "B"),
            (6, "only in a", "A"),
            (7, "shared text one", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["source_a"], r["source_b"]): r["n_shared_texts"]
           for r in T.source_overlap(d).collect()}
    assert out == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a run of
    >= w + n - 1 = 8 words share at least one selected fingerprint;
    a doc with no overlap shares none (w=4, n=5)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    d = spark.createDataFrame(
        [
            (1, shared + " tail one here now"),
            (2, "prefix words go first " + shared),
            (3, "совершенно other content without any overlap at all"),
        ],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: set(r["fingerprints"].split(","))
          for r in T.winnow_fingerprints(d).collect()}
    assert fp[1] & fp[2]
    assert not (fp[1] & fp[3]) and not (fp[2] & fp[3])


def test_winnow_short_doc_and_density(spark):
    d = spark.createDataFrame(
        [
            (1, "a b c d e"),        # exactly one 5-gram -> one window
            (2, "a b"),              # no 5-gram -> empty
            (3, " ".join("w%d" % i for i in range(30))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.winnow_fingerprints(d).collect()}
    assert out[1]["n_fingerprints"] == 1
    assert out[2]["n_fingerprints"] == 0 and out[2]["fingerprints"] == ""
    # density: ~1/w of the 26 grams selected, never more than windows
    assert 1 <= out[3]["n_fingerprints"] <= 26 - 4 + 1
    # csv is sorted numerically
    vals = [int(x) for x in out[3]["fingerprints"].split(",")]
    assert vals == sorted(vals)


def test_quality_percentile_rank_semantics(spark):
    # four docs with strictly increasing quality -> percentiles
    # 25/50/75/100; ties share a rank (both '<=' count both)
    d = spark.createDataFrame(
        [
            (1, "short"),
            (2, "a few more words here now ok"),
            (3, "the a of and to in the a of and to in words words"),
            (4, "the a of and to in the a of and to in words words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pct_rank"]
           for r in T.quality_percentile(d).collect()}
    assert out[3] == out[4] == 100  # tied top quality
    assert sorted(out.values())[0] == 25
    assert len(set(out.values())) == 3


def test_curation_pipeline_stage_interactions(spark):
    """The composition contract on a closed-form corpus: footers are
    cut before rules run (doc 1 passes gopher only because its
    boilerplate is gone); a verbatim pair dedups to the min id; a
    fully-boilerplate doc drops out entirely."""
    base = ("the a of and to in every line needs twenty good words "
            "to clear the gopher floor easily right here now")  # 20 words
    d = spark.createDataFrame(
        [
            (1, base + "\nfooter line\nfooter tail"),
            (2, "short stub\nfooter line\nfooter tail"),
            (3, base + "\nfooter line\nfooter tail"),   # copy of 1
            (4, "footer line\nfooter tail"),            # pure boilerplate
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in T.curation_pipeline(d, min_mean_len=3.0, min_docs=3).collect()}
    assert 4 not in out                       # emptied out
    assert out[1]["n_boiler"] == 2
    assert out[1]["gopher_keep"] and out[1]["dedup_kept"] and out[1]["selected"]
    assert not out[2]["gopher_keep"]          # stub fails word count
    assert not out[3]["dedup_kept"]           # copy loses the election
    assert not out[3]["selected"]


def test_normalize_text_collapse_and_flags(spark):
    d = spark.createDataFrame(
        [
            (1, "  a\t\tb\nc  "),
            (2, "already clean"),
            (3, "ctrl\x01chars\x7fhere"),
            (4, "a\tb"),  # same length after collapse — still changed
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.normalize_text(d).collect()}
    assert out[1]["clean_text"] == "a b c" and out[1]["changed"]
    assert out[2]["clean_text"] == "already clean" and not out[2]["changed"]
    assert out[3]["clean_text"] == "ctrlcharshere" and out[3]["changed"]
    assert out[4]["clean_text"] == "a b" and out[4]["changed"]
    assert out[4]["n_chars_before"] == out[4]["n_chars_after"] == 3


def test_label_centroids_fixed_point_mean(spark):
    d = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, -2.5], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
           for r in SIM.label_centroids(d).collect()}
    assert out[(0, 0)] == (2.0, 2) and out[(0, 1)] == (3.0, 2)
    assert out[(1, 0)] == (10.0, 1) and out[(1, 1)] == (-2.5, 1)


def test_continuation_ops_plan_shapes(spark, docs):
    """Plan regression for the continuation-session ops (the PLANS.md
    claims made durable): script_profile / winnow / normalize are
    ZERO-exchange projections; mad_outliers' exchanges carry only
    value-histogram and 1-row frames (no corpus-scale sort: zero Sort
    nodes over the full input before an aggregate); epoch_allocation
    reaches the corpus once with a broadcast total."""
    for df in (
        T.script_profile(docs),
        T.winnow_fingerprints(docs),
        T.normalize_text(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    mad = T.mad_outliers(docs)._jdf.queryExecution().executedPlan().toString()
    # windows run over the distinct-value histograms; the corpus
    # itself is never globally sorted (no rangepartitioning exchange)
    assert "rangepartitioning" not in mad, mad
    ep = T.epoch_allocation(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in ep or "BroadcastNestedLoopJoin" in ep, ep


def test_containment_parity_vs_duckdb(spark):
    from tools.compare import compare
    from tests.conftest import SF_TINY

    assert compare(spark, SF_TINY, ["doc_containment"])


def test_containment_catches_what_jaccard_misses(spark):
    # the organic trunc60 mutation sits at J≈0.57 — below the 0.8
    # setsim gate — but its shingles are (almost) a subset of the
    # source's, so the containment join at 0.9 MUST report it; this
    # is the operator's reason to exist
    from cimpy_spark.fixtures.organic import organic_documents
    from cimpy_spark.functions import dedup as D
    from tests.conftest import SF_TINY

    org = organic_documents(
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
    )
    cont = D.containment_join(org, num=9, den=10)
    setsim = D.setsim_join(org, num=4, den=5)
    cont_pairs = {(r["doc_a"], r["doc_b"]) for r in cont.collect()}
    sym = {tuple(sorted(p)) for p in cont_pairs}
    setsim_pairs = {
        tuple(sorted((r["doc_a"], r["doc_b"]))) for r in setsim.collect()
    }
    only_containment = sym - setsim_pairs
    assert only_containment, (
        "containment found nothing beyond the symmetric Jaccard gate"
    )


def test_containment_is_asymmetric(spark):
    # X's 12 words are a prefix of Y's 24: C(X->Y)=1.0 >= 0.9, while
    # C(Y->X) ~= 0.45 — only the (X, Y) direction may appear
    from cimpy_spark.functions import dedup as D

    base = " ".join(f"w{i}" for i in range(12))
    big = base + " " + " ".join(f"z{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, base), (2, big)], "doc_id long, text string"
    )
    rows = D.containment_join(docs, num=9, den=10).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}
    assert rows[0]["containment"] == 1.0


def test_containment_integer_threshold_boundary(spark):
    # A has 10 shingles; B shares exactly 9 -> kept at 9/10, and a
    # C sharing 8 -> dropped: the rational threshold is exact
    from cimpy_spark.functions import dedup as D

    wa = [f"w{i}" for i in range(12)]        # 10 3-gram shingles
    b = " ".join(wa[:11]) + " zz"            # shares 9 shingles
    c = " ".join(wa[:10]) + " zz yy"         # shares 8 shingles
    docs = spark.createDataFrame(
        [(1, " ".join(wa)), (2, b), (3, c)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_inter"]
        for r in D.containment_join(docs, num=9, den=10).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 9
    assert (1, 3) not in got
