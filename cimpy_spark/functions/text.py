"""Text-analysis operators for training-data pipelines over the
`documents` table: token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure column expressions (`pyspark.sql.functions` only — JVM-side,
whole-stage codegen, no Python). Each has an exact DuckDB oracle in
cimpy_spark/functions/doc_oracles.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BPE-ish tokenizer: letter runs, digit runs, single other non-space.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in"]
DATA_STOPWORDS = ["data", "table", "row", "column", "query"]


def _words(col: str = "text"):
    return F.split(F.trim(F.col(col)), "\\s+")


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) — whitespace and BPE-ish
    regex token counts."""
    return docs.select(
        "doc_id",
        F.size(_words()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


def _ratio(hits, total):
    return F.round(hits * F.lit(1.0) / total, 6)


def _quality_cols() -> dict:
    """The quality-score feature Columns, shared by `quality_score`
    and the fused `corpus_filter` pass (r8) — one definition so the
    two can never diverge."""
    w = _words()
    n_tok = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(EN_STOPWORDS)))
    avg_word_len = F.round(
        F.length(F.trim(F.col("text"))) * F.lit(1.0) / n_tok, 6
    )
    stop_ratio = _ratio(stop_hits, n_tok)
    score = F.round(
        F.least(n_tok * F.lit(1.0) / 50, F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + F.least(avg_word_len / 10, F.lit(1.0)) * 0.2,
        6,
    )
    return {
        "n_tokens": n_tok,
        "stopword_ratio": stop_ratio,
        "avg_word_len": avg_word_len,
        "quality": score,
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score.

    Deterministic arithmetic only (same association order as the SQL
    oracle, rounded to 6 decimals so both engines hash-match).
    """
    cols = _quality_cols()
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def _lang_pred_col():
    """The language-ID prediction Column (shared with the fused
    `corpus_filter` pass, r8)."""
    w = _words()
    en_hits = F.size(F.filter(w, lambda x: x.isin(EN_STOPWORDS)))
    data_hits = F.size(F.filter(w, lambda x: x.isin(DATA_STOPWORDS)))
    pred = (
        F.when(en_hits >= 2, F.lit("en"))
        .when(data_hits >= 3, F.lit("dataese"))
        .otherwise(F.lit("unk"))
    )
    return en_hits, data_hits, pred


def lang_id(docs: DataFrame) -> DataFrame:
    """n-gram/stopword language-ID heuristic (the real thing would
    score character n-grams per language; same plumbing)."""
    en_hits, data_hits, pred = _lang_pred_col()
    return docs.select(
        "doc_id",
        en_hits.alias("en_hits"),
        data_hits.alias("data_hits"),
        pred.alias("lang_pred"),
    )


def _gram_array(n: int, col: str = "text"):
    """ALL word n-grams of `col` in order (duplicates kept) — THE
    single n-gram construction: `shingle_array` is its distinct set,
    `repetition_score` consumes the multiset. One body, so a
    tokenization tweak moves every n-gram consumer together. Narrow;
    docs shorter than n words yield an empty array.

    Built by zipping n shifted copies of the word array (struct
    accumulation, then one concat_ws pass) rather than by
    `element_at(w, i+j)` inside a positions transform. The two are
    value-identical, but Catalyst substitutes HOF arguments into
    every reference with no CSE, so the element_at form re-evaluated
    the SPLIT per lambda reference — O(n·len) split evaluations of
    O(len) each = quadratic in document length. Measured at 500k docs
    (~28M grams): 45s → 3.2s for the bare n=5 gram array, and every
    consumer (fingerprints, MinHash shingles, repetition, dup_spans,
    contamination) inherits the fix. Here each zip_with level is
    referenced once and `w` a constant n times → linear. The
    null-padded tail positions zip_with produces (slice(w, j) is
    shorter than w) are cut by the final slice to len-n+1 grams."""
    w = _words(col)
    if n == 1:
        # preserve the contract for degenerate inputs: null text must
        # yield [] like every other n (review finding — returning the
        # raw split would yield NULL)
        return F.when(F.size(w) >= 1, w).otherwise(
            F.array().cast("array<string>")
        )
    big = 1 << 30
    acc = F.zip_with(
        w,
        F.slice(w, 2, big),
        lambda a, b: F.struct(a.alias("f0"), b.alias("f1")),
    )
    def _extend(width: int):
        # a closure factory, NOT a default arg: PySpark introspects
        # the lambda's parameter count, so a `j=j` default would be
        # mistaken for a third lambda argument
        return lambda s, x: F.struct(
            *[s[f"f{i}"].alias(f"f{i}") for i in range(width - 1)],
            x.alias(f"f{width - 1}"),
        )

    for j in range(3, n + 1):
        acc = F.zip_with(acc, F.slice(w, j, big), _extend(j))
    grams = F.transform(
        acc, lambda s: F.concat_ws(" ", *[s[f"f{i}"] for i in range(n)])
    )
    nw = F.size(_words(col))
    return F.when(nw >= n, F.slice(grams, 1, nw - n + 1)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_array(n: int = 3, col: str = "text"):
    """Distinct word n-grams of `col` — the shingle set shared by
    fingerprinting, MinHash and Jaccard (the distinct view of
    `_gram_array`, the one n-gram body)."""
    return F.array_distinct(_gram_array(n, col))


def has_shingles(n: int = 3):
    """Predicate: the doc has at least one n-gram shingle — derived
    from the SAME `_words` tokenization as `shingle_array` so the two
    can never diverge."""
    return F.size(_words()) >= n


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams — the exploded form of
    `shingle_array`."""
    return docs.select("doc_id", F.explode(shingle_array(n)).alias("shingle"))


def corpus_filter(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple = ("en", "dataese"),
    dedup_threshold: float = 0.8,
) -> DataFrame:
    """Training-corpus selection — the decision a data pipeline
    actually ships: quality gate + language gate + near-duplicate
    keep, in one plan. Output: (doc_id, quality, lang_pred, is_kept,
    selected). All three inputs are existing oracle-gated operators;
    joins are on doc_id (co-partitioned aggregations, no skew)."""
    from cimpy_spark.functions.dedup import dedup_corpus

    # r8: quality + lang are per-row projections of the SAME doc row —
    # ONE narrow pass computes both instead of joining two derivations
    # of the same table (guide §2.4: that join was a pure-overhead
    # shuffle at every scale; doc_id is the corpus key, so the fused
    # row set is identical)
    ql = docs.select(
        "doc_id",
        _quality_cols()["quality"].alias("quality"),
        _lang_pred_col()[2].alias("lang_pred"),
    )
    keep = dedup_corpus(docs, threshold=dedup_threshold).select(
        "doc_id", "is_kept"
    )
    return (
        ql.join(keep, "doc_id")
        .select(
            "doc_id",
            "quality",
            "lang_pred",
            "is_kept",
            (
                (F.col("quality") >= min_quality)
                & F.col("lang_pred").isin(*langs)
                & F.col("is_kept")
            ).alias("selected"),
        )
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint = lexicographic-min md5 over word 5-grams
    (a 1-permutation MinHash; rolling-hash analog), falling back to
    md5(text) for very short docs (empty shingle array → null →
    coalesce).

    ZERO-shuffle per-row fold — the same narrow-signature discipline
    as `minhash_signatures`: the round-1 explode + groupBy-min +
    join-back shape shuffled every shingle's md5 for a value each row
    can compute alone. Honest local timing: 53.3s → 48.8s on a
    500k-doc corpus (the md5-per-shingle fold dominates either way);
    the structural win is the ELIMINATED exchange — the old plan
    shuffled one 32-byte md5 row per shingle (≈ corpus word count),
    which is exactly the volume that stops fitting the network at
    the 100 TB target, plus the removed groupBy and join."""
    fp = F.array_min(F.transform(shingle_array(5), lambda s: F.md5(s)))
    return docs.select(
        "doc_id", F.coalesce(fp, F.md5("text")).alias("fingerprint")
    )


def fingerprint_v2(docs: DataFrame) -> DataFrame:
    """Hash-family v2 of `fingerprint`: lexicographic-min SIGNED
    xxhash64 (XXH64, seed 42 — Spark's JVM intrinsic) over word
    5-grams, falling back to xxhash64(text) for very short docs.
    Same 1-permutation-MinHash semantics and zero-shuffle per-row
    fold as v1; the hash swap removes v1's constant-factor hot spot
    (md5 = a full digest round + 32-byte hex string per shingle;
    xxhash64 = a codegen'd long — no allocation). v1 stays the
    compatibility gate; corpora fingerprinted under one family must
    be re-fingerprinted to compare under the other. The DuckDB
    oracle (doc_oracles.fingerprint_v2_sql) runs a bit-exact XXH64
    port in pure SQL. Output: (doc_id, fingerprint BIGINT)."""
    fp = F.array_min(F.transform(shingle_array(5), lambda s: F.xxhash64(s)))
    return docs.select(
        "doc_id", F.coalesce(fp, F.xxhash64("text")).alias("fingerprint")
    )


def hash_split(
    docs: DataFrame, salt: str = "split0", val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """Deterministic hash-based train/val/test split — the
    reproducible-corpus-split primitive a training pipeline needs
    instead of RNG sampling: bucket = first 8 hex digits of
    md5(salt#doc_id) mod 100, so a document's split (a) never changes
    when OTHER documents arrive or depart (stable under corpus
    growth, unlike any fraction-based random split), (b) is
    recomputable by any engine from the id alone, and (c) re-salts
    into an independent split. Output: (doc_id, bucket, split)."""
    bucket = _md5_bucket(salt, 100).cast("int")
    split = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select(
        "doc_id", bucket.alias("bucket"), split.alias("split")
    )


def source_quota(docs: DataFrame, k: int = 10) -> DataFrame:
    """Per-source quality quota: the top `k` documents of each source
    by (quality desc, doc_id asc) — the per-domain selection/mixing
    step of corpus curation (cap each domain's contribution, keep its
    best). One window over the (source, quality) projection; at scale
    this is a rank-based top-K per partition key, spillable, no
    collect. Output: (doc_id, source, quality, rk)."""
    from pyspark.sql import Window

    q = quality_score(docs).select("doc_id", "quality")
    joined = docs.select("doc_id", "source").join(q, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "source", "quality", "rk")
    )


def contamination(train: DataFrame, bench: DataFrame, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with a benchmark/eval corpus (the GPT-3-style 13-gram
    check, here parameterized; default 5 suits the short synthetic
    docs). Output: (doc_id, n_hit_grams, contaminated) for every
    training doc.

    Scale shape: the benchmark side is SMALL by definition, but a real
    eval suite is still millions of 13-grams — so what broadcasts is
    the xxhash64 of each distinct benchmark gram (8 bytes vs ~80-byte
    raw strings, ~10× fewer broadcast bytes). The training side is one
    narrow explode feeding that broadcast hash semi-join; candidate
    hits (a tiny fraction) are then re-verified against the RAW gram
    set with a plain join, so a 64-bit hash collision can never flag a
    clean document — exactness is preserved without ever broadcasting
    raw grams. The corpus is read once and never shuffled (only hit
    rows reach the verify join and the aggregation). No per-row
    Python anywhere."""
    from cimpy_spark.plans.checkpoints import checkpoint_df

    # materialize ONCE: consumed by both the hash-set build and the
    # collision re-verify join — uncached, the bench explode+distinct
    # would recompute per consumer (doubling the bench pass at the
    # millions-of-13-grams eval-suite scale this op targets)
    bench_grams = checkpoint_df(
        bench.select(F.explode(shingle_array(n)).alias("gram")).distinct()
    )
    bench_hashes = bench_grams.select(
        F.xxhash64("gram").alias("gram_h")
    ).distinct()
    train_grams = train.select(
        "doc_id", F.explode(shingle_array(n)).alias("gram")
    )
    candidates = train_grams.withColumn(
        "gram_h", F.xxhash64("gram")
    ).join(F.broadcast(bench_hashes), "gram_h")
    hits = (
        candidates.join(bench_grams, "gram")  # collision re-verify
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .fillna(0, ["n_hit_grams"])
        .select(
            "doc_id",
            F.col("n_hit_grams").cast("bigint").alias("n_hit_grams"),
            (F.col("n_hit_grams") > 0).alias("contaminated"),
        )
    )


def _md5_bucket(salt: str, mod: int, id_col: str = "doc_id"):
    """Portable deterministic bucket: first 8 hex digits of
    md5(salt#id) mod `mod` — the same engine-independent hash family
    as `hash_split` (recomputable from the id alone, stable under
    corpus growth, re-salts into an independent stream)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (h % mod).cast("long")


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    salt: str = "pack0",
) -> DataFrame:
    """Sequence packing for training batches: concatenate documents
    (in stable order) into fixed-token-budget sequences and report
    each document's position — the sample-packing step between corpus
    curation and the training dataloader.

    Distributed semantics (deterministic, no RNG): each document is
    hash-bucketed into one of ``n_shards`` independent packing shards
    (md5 bucket — stable under corpus growth); within a shard,
    documents pack in doc_id order with an exclusive running token
    sum, and a document's sequence is ``floor(cum_excl / budget)``
    ("concatenate-then-chop": a document straddling a boundary starts
    in seq's tail — exactly how packed pretraining streams chop, with
    `offset` telling the loader where in the sequence the doc begins).

    Scale shape: ONE window (sum over shard partitions ordered by
    doc_id) — the shard is the parallelism unit, so n_shards is sized
    to the cluster (each shard sorts corpus/n_shards rows, spillable);
    no global sort, no collect. Output: (doc_id, shard, n_tokens,
    seq_id, offset).
    """
    toks = token_count(docs).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    from pyspark.sql import Window

    shard = _md5_bucket(salt, n_shards).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return (
        toks.withColumn("shard", shard)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.floor(cum_excl / budget).cast("long").alias("seq_id"),
            (cum_excl % budget).cast("int").alias("offset"),
        )
    )


def corpus_diff(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Dataset-version diff — the provenance record between two
    corpus snapshots (a recrawl, a re-curation pass, an incremental
    ingest): per doc_id, `added` (only in new), `removed` (only in
    old), or `changed` (both, content hash differs); unchanged docs
    are NOT emitted, so the output is delta-sized — the property that
    makes a 100 TB-corpus diff a small artifact. Content equality is
    md5 over coalesce(text, '') on both engines (a NULL-text doc
    compares equal to an empty-text doc — the documented contract;
    ids, not text, are the identity). The graph twin is
    `kg_graph_diff`; this is the document-side version a dataset
    card's "what changed since v1" section consumes.

    Scale shape: two content-hash projections (in-row md5 over the
    columnar scan) and ONE full outer join on doc_id — both sides
    shuffle once on the id key, output only the delta. Output:
    (doc_id, status)."""
    o = old_docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("__oh")
    )
    n = new_docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("__nh")
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("__oh").isNull(), F.lit("added"))
        .when(F.col("__nh").isNull(), F.lit("removed"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select("doc_id", status.alias("status"))
        .filter(F.col("status") != "unchanged")
    )


def pack_stats(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    salt: str = "pack0",
) -> DataFrame:
    """Packing-efficiency report over `pack_sequences` — the
    dataloader-facing datasheet row per shard: how many documents and
    tokens landed there, how many documents STRADDLE a sequence
    boundary (the loader must handle a mid-document sequence start),
    how many full sequences the shard fills, and the padding waste of
    its final partial sequence as an exact micro-unit fraction of the
    shard's padded token footprint ((budget − tail)·1e6 div
    (n_seqs·budget); 0 when the shard chops exactly). Concatenate-
    then-chop wastes ONLY that final partial sequence — this report
    is what proves it against a per-document-padding baseline.

    All integers from the packing's own columns — nothing to round.
    Scale shape: pack_sequences' one per-shard window, then a
    map-side-combinable aggregate to n_shards rows. Output: (shard,
    n_docs, total_tokens, n_straddle, n_seqs, tail_tokens,
    pad_waste_micro)."""
    p = pack_sequences(docs, budget, n_shards, salt)
    agg = p.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("offset") + F.col("n_tokens") > budget, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_straddle"),
    )
    tail = F.col("total_tokens") % budget
    n_seqs = F.expr(f"total_tokens div {budget}") + F.when(
        tail > 0, F.lit(1)
    ).otherwise(F.lit(0))
    return agg.select(
        "shard",
        "n_docs",
        "total_tokens",
        "n_straddle",
        n_seqs.cast("long").alias("n_seqs"),
        tail.cast("long").alias("tail_tokens"),
        F.when(
            tail > 0,
            F.expr(
                f"(({budget} - total_tokens % {budget}) * 1000000) div "
                f"(((total_tokens div {budget}) + 1) * {budget})"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pad_waste_micro"),
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    budget_tokens: int = 2_000,
    salt: str = "mix0",
) -> DataFrame:
    """Corpus mixture sampling: down-sample each source to hit a
    target token mixture — the domain-reweighting step of corpus
    curation (give source s a ``weights[s]`` share of a
    ``budget_tokens`` training budget).

    Per-source keep rate = min(1, weights[s] × budget / tokens_s)
    (sources without a weight rate 0), applied as a DETERMINISTIC
    md5-bucket threshold per document — so the sample is reproducible,
    stable under corpus growth (a doc's fate never depends on other
    docs' arrival), and any engine can recompute it from the id.
    Rates are rounded to 6dp before thresholding so both engines
    compare identical doubles.

    Scale shape: one per-source token aggregate (map-side combinable,
    |sources| rows) broadcast back onto the corpus as a rate column,
    then a narrow filterable projection — the corpus itself is never
    shuffled. Output: (doc_id, source, n_tokens, rate, sampled) for
    EVERY doc (filter on `sampled` downstream).
    """
    if weights is None:
        # default exercises all regimes: clamped-to-1, fractional, zero
        weights = {"src0": 0.8, "src1": 0.1, "src2": 0.06, "src3": 0.04}
    # n_tokens inline in ONE projection — joining token_count(docs)
    # back to docs on doc_id would shuffle the whole corpus twice for
    # a value that is a narrow per-row expression
    base = docs.select(
        "doc_id", "source", F.size(_words()).alias("n_tokens")
    )
    totals = base.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    wmap = F.create_map(
        *[x for s, v in sorted(weights.items()) for x in (F.lit(s), F.lit(float(v)))]
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.coalesce(wmap[F.col("source")], F.lit(0.0))
            * F.lit(float(budget_tokens))
            / F.col("src_tokens"),
        ),
        6,
    )
    bucket = _md5_bucket(salt, 1_000_000)
    return (
        base.join(F.broadcast(totals), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            rate.alias("rate"),
            (bucket < F.round(rate * 1_000_000).cast("long")).alias("sampled"),
        )
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the lexical-
    diversity quality signal (low entropy = repetitive/templated
    text, the population Gopher's dup-fraction rules aim at from the
    other side; high entropy on short docs = noise/garble): H = ln n
    − (Σ_w c_w ln c_w)/n over whitespace tokens.

    Cross-engine determinism (the `dsir_weights` discipline): each
    per-word term round(c·ln c · 1e6) is fixed-pointed to a BIGINT
    from IDENTICAL integer counts, the per-doc Σ is exact integer
    addition, and H_micro = round(ln n · 1e6) − Σ_t // n uses integer
    division — no float accumulation anywhere, the one double per
    term is ln of the same integer on both engines rounded at 1e-6.
    NULL-text docs drop on both engines (split(NULL) → no rows);
    empty text tokenizes to the single '' token (n = 1, H = 0) the
    way `token_count` counts it.

    Scale shape: one corpus-scale (doc_id, word) map-side-combinable
    count, one per-doc aggregate — two shuffles on the same doc_id
    key, output one row per doc. No sorts, no broadcast, nothing
    driver-side. Output: (doc_id, n_tokens, n_distinct,
    entropy_micro, entropy)."""
    c = (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = F.round(F.col("c") * F.log("c") * F.lit(1_000_000)).cast("long")
    agg = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_distinct"),
        F.sum(t).cast("long").alias("sum_t"),
    )
    h_micro = F.round(F.log("n") * F.lit(1_000_000)).cast("long") - F.expr(
        "sum_t div n"
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("int").alias("n_tokens"),
        "n_distinct",
        h_micro.alias("entropy_micro"),
        (h_micro / F.lit(1_000_000.0)).alias("entropy"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease per document — the classic grade-level
    curation signal (Flesch 1948; the rule-based ancestor of the
    educational-value classifiers modern corpus builders train):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/word), with
    sentences = runs of [.!?] (floor 1) and syllables = per-word
    vowel-group count (floor 1 — the standard heuristic; both
    regexes are ASCII-literal so Java and RE2 agree).

    Determinism: every count is an exact integer from the in-row
    text, and the score is MICRO-unit fixed point — 206835000 −
    (1015000·w) div s − (84600000·syl) div w, two integer divisions
    in a fixed order (non-negative operands, so Spark's truncating
    `div` equals DuckDB's flooring `//`) — no float arithmetic at
    all. NULL-text docs are filtered on both engines (the explicit
    contract; three-valued NULL propagation through greatest()
    differs too subtly between engines to hash).

    Scale shape: a single zero-exchange projection — word splits,
    regex counts, and the syllable fold all run in-row over the
    columnar scan; output one row per doc with no shuffle at any
    size. Output: (doc_id, n_words, n_sentences, n_syllables,
    flesch_micro, flesch)."""
    words = _words()
    nw = F.size(words).cast("long")
    ns = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))),
    ).cast("long")
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), F.lit(0))
            ),
        ).cast("long"),
    )
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        nw.alias("n_words"),
        ns.alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    score = (
        F.lit(206_835_000).cast("long")
        - F.expr("(1015000 * n_words) div n_sentences")
        - F.expr("(84600000 * n_syllables) div n_words")
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        score.alias("flesch_micro"),
        (score / F.lit(1_000_000.0)).alias("flesch"),
    )


def dsir_weights(
    docs: DataFrame,
    target_source: str,
    n_buckets: int = 1024,
    alpha: int = 1,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    Data Selection for Language Models via Importance Resampling):
    score every document by how target-like its hashed-n-gram profile
    is, log w(doc) = Σ_g [ln p_target(b(g)) − ln p_raw(b(g))], where
    b hashes word uni+bigrams into `n_buckets` buckets and the two
    bucket distributions are add-`alpha`-smoothed counts over the
    target subset (`source == target_source`) vs the rest — a NULL
    source counts as raw (coalesced identically on both engines).
    High-logw raw docs are the ones importance resampling keeps.

    Determinism/cross-engine contract: per-bucket log-ratios are
    computed once on the B-row frame from IDENTICAL integer counts
    (ln of the same double on both engines, rounded to 6dp — the
    kg_cooccurrence PMI discipline) and fixed-pointed to micro-units
    (BIGINT), so the per-doc Σ is an exact integer sum — no
    float-accumulation order anywhere; the single final /1e6 maps
    equal integers to equal doubles. The oracle hashes grams with the
    bit-exact pure-SQL XXH64 port over DISTINCT grams.

    Scale shape: the (doc_id, is_target, bucket) gram stream is
    DERIVED TWICE from the pruned columnar scan — once for the
    B-bounded bucket count, once for the per-doc sum — rather than
    checkpointed for its two consumers: materializing it is a
    full-corpus-scale write (the line_dedup lesson), and measured at
    500k docs the recompute variant is 1.7× faster (11.2 s vs 18.9)
    AND runs in the default-memory JVM where the checkpointed stream
    plus the aggregations blew execution memory. The ratio table is
    B rows (broadcast), totals a 1-row broadcast; one corpus-scale
    shuffle per consumer (bucket count is map-side combinable to ≤B
    rows per task). Output: (doc_id, is_target, n_grams, logw)."""

    def gram_stream() -> DataFrame:
        # NULL source is RAW, not a third state: without the coalesce
        # the when(~is_target) arm drops NULL-source grams from BOTH
        # distributions (Spark three-valued logic), silently shifting
        # every bucket's totals away from the oracle (review finding,
        # confirmed divergent on a NULL-source repro)
        tgt = F.coalesce(
            F.col("source") == F.lit(target_source), F.lit(False)
        )
        return docs.select(
            "doc_id",
            tgt.alias("is_target"),
            F.explode(
                F.concat(_gram_array(1), _gram_array(2))
            ).alias("g"),
        ).select(
            "doc_id",
            "is_target",
            F.pmod(F.xxhash64("g"), F.lit(n_buckets)).alias("b"),
        )

    cnt = gram_stream().groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    denom_t = F.col("tt") + F.lit(alpha * n_buckets)
    denom_r = F.col("tr") + F.lit(alpha * n_buckets)
    ratio = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                (
                    F.log((F.col("ct") + F.lit(alpha)) / denom_t)
                    - F.log((F.col("cr") + F.lit(alpha)) / denom_r)
                )
                * F.lit(1_000_000)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    return (
        gram_stream().join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "is_target")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            (F.sum("fp") / F.lit(1_000_000.0)).alias("logw"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    alpha: float = 0.3,
    budget_tokens: int = 2_000,
    salt: str = "temp0",
) -> DataFrame:
    """Temperature-based mixture sampling — the multilingual/
    multi-domain alpha-sampling of mT5/XLM-R: source shares are
    derived FROM the corpus itself as tokens_s^alpha / sum_s
    tokens_s^alpha (alpha<1 up-weights small sources, alpha=1 is
    proportional, alpha=0 uniform), instead of `mixture_sample`'s
    hand-given weight table. Keep rates apply as the same
    deterministic md5-bucket threshold.

    Cross-engine determinism: pow() can differ in the last ulp
    between engines, so the share numerator is FIXED-POINT —
    round(pow(tokens_s, alpha), 6) scaled to a bigint at 1e6 — and
    the denominator is an exact integer SUM of those (float
    aggregation order can move a double sum; bigint addition cannot;
    same discipline as pipeline.pagerank). The rate then divides two
    integers in a fixed expression order, rounded to 6dp.

    Scale shape identical to mixture_sample: one |sources|-row
    map-side-combinable aggregate, broadcast back, corpus never
    shuffles. Output: (doc_id, source, n_tokens, rate, sampled)."""
    from pyspark.sql import Window

    base = docs.select(
        "doc_id", "source", F.size(_words()).alias("n_tokens")
    )
    totals = base.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("src_tokens")
    )
    # round AFTER the 1e6 scale, then cast: `cast(long)` truncates in
    # Spark but CAST(.. AS BIGINT) rounds in DuckDB, so the cast must
    # only ever see an already-integral double
    fp = F.round(F.pow("src_tokens", F.lit(float(alpha))) * 1_000_000).cast(
        "long"
    )
    shares = totals.select(
        "source", "src_tokens", fp.alias("share_fp")
    ).withColumn(
        "total_fp", F.sum("share_fp").over(Window.partitionBy())
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.col("share_fp")
            * F.lit(float(budget_tokens))
            / F.col("total_fp")
            / F.col("src_tokens"),
        ),
        6,
    )
    bucket = _md5_bucket(salt, 1_000_000)
    return (
        base.join(F.broadcast(shares), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            rate.alias("rate"),
            (bucket < F.round(rate * 1_000_000).cast("long")).alias("sampled"),
        )
    )


# PII scrubbing patterns — dialect-safe (Java regex == RE2 here):
# applied in THIS order, since an email/IP can be a URL substring.
PII_PATTERNS = [
    ("url", "https?://[A-Za-z0-9./_-]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9]{7,15}", "<PHONE>"),
]


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction for training corpora: replace emails, URLs, IPv4
    addresses and international phone numbers with typed placeholder
    tokens and report per-class hit counts.

    Pure JVM-side projection (regexp_extract_all for the counts,
    chained regexp_replace for the redaction — ordered so a URL's
    host can't be re-matched as an email/IP); zero shuffles, zero
    Python. Counts are taken on the ORIGINAL text per class, before
    any replacement, so classes count independently. Output:
    (doc_id, n_url, n_email, n_ip, n_phone, clean_text).
    """
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        .cast("int")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col("text")
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return docs.select("doc_id", *counts, clean.alias("clean_text"))


def repetition_score(
    docs: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Intra-document repetition detection — the Gopher-rules quality
    signal that catches boilerplate/looping text a stopword-based
    quality score misses: the fraction of DUPLICATE word 2-grams and
    3-grams (1 − distinct/total; 0 for docs too short to have any).

    Pure per-row array arithmetic — narrow, zero shuffles. Each
    fraction is ONE fold over the SORTED gram array (duplicate count
    = adjacent-equal pairs; total and ratio computed in the same
    pass, ratio emitted by the finish lambda): HOF results get
    substituted into every consumer by projection collapse with no
    CSE, so the earlier size/array_distinct/size formulation rebuilt
    the gram array ~8× per reference — measured 333s → ~13s for
    500k docs (scaling_bench.py repetition_score). Ratios rounded to 6dp
    for cross-engine parity. Output: (doc_id, dup_2gram_frac,
    dup_3gram_frac, repetitive) with `repetitive` = either fraction
    ≥ threshold.
    """
    def frac(n: int):
        g = F.array_sort(_gram_array(n))
        init = F.struct(
            F.lit(0).alias("cnt"),
            F.lit(0).alias("dup"),
            F.lit(None).cast("string").alias("prev"),
        )

        def step(acc, x):
            return F.struct(
                (acc["cnt"] + 1).alias("cnt"),
                (
                    acc["dup"]
                    + F.when(x == acc["prev"], F.lit(1)).otherwise(F.lit(0))
                ).alias("dup"),
                x.alias("prev"),
            )

        def fin(acc):
            return F.when(
                acc["cnt"] > 0,
                F.round(acc["dup"] * F.lit(1.0) / acc["cnt"], 6),
            ).otherwise(F.lit(0.0))

        return F.aggregate(g, init, step, fin)

    f2, f3 = frac(2), frac(3)
    return docs.select(
        "doc_id",
        f2.alias("dup_2gram_frac"),
        f3.alias("dup_3gram_frac"),
        ((f2 >= threshold) | (f3 >= threshold)).alias("repetitive"),
    )


def chunk_documents(
    docs: DataFrame, max_tokens: int = 64, overlap: int = 8
) -> DataFrame:
    """Overlapping-window document chunking — the long-document
    splitter feeding embedding/indexing pipelines: chunk i covers
    words [i·stride, i·stride + max_tokens) with stride =
    max_tokens − overlap, so consecutive chunks share `overlap`
    words; the last chunk is the final partial window (every word
    belongs to ≥1 chunk, no empty trailing chunk).

    One narrow explode over the per-doc chunk-start sequence — row
    amplification is ceil(len/stride) per doc by construction, the
    output size itself; no shuffle, no Python. Chunk text is the
    space-join of the word slice (tokenization already normalized
    whitespace, so both engines reconstruct identical bytes).
    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("require 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    w = _words()
    n = F.size(w)
    # minimal chunk count: one chunk covers n <= max_tokens; beyond
    # that, each extra stride-step covers `stride` more words -> last
    # start index = ceil((n - max_tokens) / stride), floored at 0 (a
    # short/empty doc still gets exactly one chunk)
    last = F.greatest(
        F.lit(0),
        F.ceil((n - max_tokens) * F.lit(1.0) / stride).cast("int"),
    )
    starts = F.sequence(F.lit(0), last)
    # slice INSIDE the transform, BEFORE the explode: each generated
    # row then carries only its own piece. Exploding (chunk_idx,
    # start) and slicing afterwards would replicate the ENTIRE word
    # array into every generated row — O(words × chunks) bytes per
    # doc, a real hazard for book-length documents; this shape is
    # O(words × max_tokens/stride) ≈ 1.14× at the defaults.
    pieces = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(w, i * stride + 1, max_tokens).alias("piece"),
        ),
    )
    ex = docs.select("doc_id", F.explode(pieces).alias("c"))
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.piece").alias("n_tokens"),
        F.concat_ws(" ", F.col("c.piece")).alias("chunk_text"),
    )


def vocab_sketch(docs: DataFrame, k: int = 64) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch of each source's
    vocabulary — the corpus-profiling sketch class done PORTABLY:
    hash every distinct (source, token) to a uniform fraction
    u = md5-prefix / 16^12 ∈ [0,1); the k-th smallest u per source
    estimates the distinct count as (k−1)/u_k (the classic KMV
    estimator, ±1/√k relative error). Because the hash family is md5,
    the estimate is DETERMINISTIC and bit-identical in any engine —
    unlike approx_count_distinct's HLL++, it can be oracle-gated
    exactly, and the sketch is mergeable (union the min-k sets) which
    is the 100 TB story: per-partition min-k combines map-side, only
    k values per source ever shuffle. Sources with fewer than k
    distinct tokens report the exact count (estimate = n, u_k null).
    Output: (source, n_min_k, kth_u, est_distinct).
    """
    tok = (
        docs.select("source", F.explode(_words()).alias("tok"))
        .distinct()
        .select(
            "source",
            (
                F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("double")
                / F.lit(float(16**12))
            ).alias("u"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("u")
    ranked = tok.withColumn("rk", F.row_number().over(w))
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.min(F.when(F.col("rk") == k, F.col("u"))).alias("kth_u"),
    )
    est = F.when(
        F.col("kth_u").isNotNull(),
        F.round((k - 1) / F.col("kth_u")),
    ).otherwise(F.col("n_distinct").cast("double"))
    return agg.select(
        "source",
        F.least(F.col("n_distinct"), F.lit(k)).cast("int").alias("n_min_k"),
        F.round("kth_u", 9).alias("kth_u"),
        est.cast("long").alias("est_distinct"),
    )


def heavy_hitters_cms(
    docs: DataFrame, d: int = 4, w: int = 512, k: int = 20
) -> DataFrame:
    """Count-min-sketch frequency estimation for corpus heavy hitters
    — the second sketch class (frequency, vs `vocab_sketch`'s
    cardinality): token occurrences hash into `d` independent rows of
    `w` counters (bucket_j = md5(j#tok) mod w); a token's estimate is
    the MIN over its d counters, which can only OVERCOUNT (collisions
    add, never subtract) by ≤ 2N/w with probability 1−2^−d.

    Scale shape — the entire point of CMS: the corpus explodes to
    tokens once, then aggregates onto d×w ≈ 2k FIXED shuffle keys
    with map-side combine, so sketch construction cost is independent
    of vocabulary size (a groupBy-token exact count shuffles the full
    vocabulary). The hash family is md5 → the sketch is deterministic
    and exactly oracle-gateable. The candidate set queried here (the
    top-`k` exact tokens, count desc / tok asc tie-break) is
    gate-scale convenience — at corpus scale candidates come from a
    sample or a prior round, and the sketch answers point queries.
    Output: (tok, exact_cnt, est_cnt) with est_cnt ≥ exact_cnt.
    """
    toks = docs.select(F.explode(_words()).alias("tok"))
    rows = F.array(*[F.lit(j) for j in range(d)])

    # ONE bucket expression for both the sketch build and the point
    # queries — two inline copies would let an edit silently
    # desynchronize them (every estimate then wrong but plausible)
    def bucket():
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("j").cast("string"), "tok")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % w
        ).alias("bucket")

    keyed = toks.select("tok", F.explode(rows).alias("j")).select(
        "tok", "j", bucket()
    )
    sketch = keyed.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(k)
    )
    cand = exact.select(
        "tok", "exact_cnt", F.explode(rows).alias("j")
    ).select("tok", "exact_cnt", "j", bucket())
    return (
        cand.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select("tok", "exact_cnt", "est_cnt")
    )


def lm_quality(docs: DataFrame) -> DataFrame:
    """Perplexity-style language-model quality score — the
    KenLM-filter analog of corpus curation (filter docs whose text is
    improbable under a reference LM), here with the bigram model
    trained ON the corpus itself (deterministic, self-contained; a
    production run would swap in a held-out reference model — same
    plumbing): score(doc) = mean over the doc's bigram OCCURRENCES of
    ln P(w2|w1), with P = c(w1 w2) / c(w1) from corpus counts.

    Cross-engine determinism: each ln is rounded to 9dp before the
    mean and the mean to 6dp (the `ivf_topk` centroid precedent —
    aggregation order cannot move a 6dp rounding except on
    measure-zero boundaries). Scale shape: one bigram explode (≈ word
    count) feeding two map-side-combinable count aggregates, then a
    count join back on the bigram key — hot bigrams skew that join,
    which is AQE-skew-join territory, not a broadcast (the bigram
    table is corpus-vocabulary-sized). Output: (doc_id, n_bigrams,
    avg_logprob) — avg_logprob null for docs with no bigram.
    """
    bi = docs.select(
        "doc_id", F.explode(_gram_array(2)).alias("gram")
    )
    uni = docs.select(F.explode(_words()).alias("w"))
    c2 = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
        .select(F.col("w").alias("w1"), "c1")
    )
    scored = (
        bi.join(c2, "gram")
        .withColumn("w1", F.split("gram", " ")[0])
        .join(c1, "w1")
        .select(
            "doc_id",
            F.round(F.log(F.col("c2") * F.lit(1.0) / F.col("c1")), 9).alias(
                "lp"
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            "avg_logprob",
        )
    )


def gopher_rules(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 10_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stop_hits: int = 2,
    min_distinct_ratio: float = 0.5,
) -> DataFrame:
    """Gopher-style rule-based quality gate (the Rae et al. 2021
    heuristic battery, adapted to this corpus's word-salad shape —
    the sentence-punctuation rules are vacuous here): per-document
    named pass/fail flags plus the composed `keep`, so curation can
    report WHY a document dropped, not just that it did (the flag
    columns are the per-rule removal-rate report a data card needs).

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_len, max_mean_len]; ≥ min_stop_hits English stopwords
    (gibberish screen); distinct-word ratio ≥ min_distinct_ratio
    (repetition screen — the cheap cousin of repetition_score).

    Single narrow projection: every measure folds over the one
    in-row word array (no explode, no shuffle, no UDF) — at 100 TB
    this runs at scan speed and the filter composes with predicate
    pushdown on any downstream join. Ratios rounded to 6dp for
    cross-engine hashing."""
    w = _words()
    n = F.size(w)
    sum_len = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.round(sum_len * F.lit(1.0) / n, 6)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(EN_STOPWORDS)))
    distinct_ratio = F.round(
        F.size(F.array_distinct(w)) * F.lit(1.0) / n, 6
    )
    r_words = (n >= min_words) & (n <= max_words)
    r_len = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    r_stop = stop_hits >= min_stop_hits
    r_div = distinct_ratio >= min_distinct_ratio
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        distinct_ratio.alias("distinct_ratio"),
        r_words.alias("rule_word_count"),
        r_len.alias("rule_word_len"),
        r_stop.alias("rule_stopwords"),
        r_div.alias("rule_diversity"),
        (r_words & r_len & r_stop & r_div).alias("keep"),
    )


BM25_QUERY_TERMS = ("spark", "merge", "vector")


def bm25_score(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query-term
    set — the retrieval-side scoring a curation pipeline uses to mine
    topic-targeted subsets (and the classic lexical baseline next to
    the embedding ANN path in functions/similarity.py).

    Determinism across engines: the corpus statistics (N, avgdl, one
    df per term) are ONE aggregate row cross-joined back (a broadcast
    at cluster scale), per-term tf comes from the in-row word array,
    and the score is a FIXED-ORDER sum of per-term contributions
    (each idf and contribution rounded to 9dp, the total to 6dp) —
    no groupBy touches floats, so aggregation order cannot move the
    hash. idf = ln(1 + (N - df + 0.5)/(df + 0.5)) ≥ 0.

    Scale shape: one map-side-combinable stats aggregate (scan 1) +
    one scan emitting scores (scan 2, or a cached/columnar re-read);
    nothing shuffles doc rows."""
    w = _words()
    dl = F.size(w)
    stats_aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(_words())).alias("avgdl"),
    ] + [
        F.sum(
            F.when(F.array_contains(_words(), t), 1).otherwise(0)
        ).alias(f"df_{i}")
        for i, t in enumerate(terms)
    ]
    stats = docs.agg(*stats_aggs)
    def _tf(term: str):
        # closure, NOT a default arg: a two-parameter lambda in
        # F.filter means (element, index) — a `lit_t=...` default
        # would silently bind to the array-index Column
        return F.size(F.filter(_words(), lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    base = docs.select("doc_id", dl.alias("dl"), *tf_cols).crossJoin(
        F.broadcast(stats)
    )
    idf = lambda i: F.round(  # noqa: E731
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        ),
        9,
    )
    contrib = lambda i: F.round(  # noqa: E731
        idf(i)
        * (F.col(f"tf_{i}") * (k1 + 1))
        / (
            F.col(f"tf_{i}")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        ),
        9,
    )
    total = contrib(0)
    for i in range(1, len(terms)):
        total = total + contrib(i)
    return base.select(
        "doc_id",
        "dl",
        *[F.col(f"tf_{i}").alias(f"tf_{t}") for i, t in enumerate(terms)],
        F.round(total, 6).alias("bm25"),
    )


DOMAIN_BLOCKLIST = ("ex.org", "spam.example", "tracker.bad")


def domain_flags(
    docs: DataFrame, blocklist: tuple = DOMAIN_BLOCKLIST
) -> DataFrame:
    """Per-document URL-domain extraction + blocklist flagging — the
    domain-filter step of web-corpus curation (UT1/adult/spam domain
    lists): which documents cite which hosts, and whether any host is
    on the blocklist. Output: (doc_id, n_urls, domains sorted-csv,
    n_blocked, blocked).

    Pure zero-shuffle projection: URLs via the same pattern the PII
    scrubber redacts, host = the authority prefix of each, blocklist
    membership as an in-row filter. A config-sized blocklist (up to
    ~1e5 hosts) belongs inline like this; a TABLE-scale list (UT1 is
    millions) becomes explode(domains) -> broadcast semi-join ->
    count, trading the projection for one narrow join — same
    downstream columns."""
    url_re = PII_PATTERNS[0][1]
    urls = F.regexp_extract_all(F.col("text"), F.lit(url_re), F.lit(0))
    domains = F.transform(
        urls,
        lambda u: F.regexp_extract(u, "https?://([A-Za-z0-9.-]+)", 1),
    )
    n_blocked = F.size(F.filter(domains, lambda d: d.isin(list(blocklist))))
    return docs.select(
        "doc_id",
        F.size(urls).alias("n_urls"),
        F.concat_ws(",", F.array_sort(domains)).alias("domains"),
        n_blocked.alias("n_blocked"),
        (n_blocked > 0).alias("blocked"),
    )


def dup_spans(docs: DataFrame, n: int = 10, min_count: int = 2) -> DataFrame:
    """Maximal duplicated-substring spans at word granularity — the
    exact-substring deduplication of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally instead of via suffix arrays: a position p of a doc
    is DUPLICATED iff its word n-gram occurs >= min_count times
    corpus-wide (across docs or within one — self-repetition is
    duplication too, as in the paper), and maximal runs of duplicated
    positions whose n-gram windows overlap or touch (gap <= n) merge
    into one span [span_start, span_end] (word indices, 0-based
    inclusive). Downstream curation cuts or down-weights the spans
    rather than dropping whole docs.

    Scale shape: the gram stream (one row per word position, the same
    cardinality a suffix array indexes) is hashed to a two-seed
    xxhash64 pair (128-bit-equivalent, no md5 hex materialization)
    before ANY shuffle, and the corpus-wide occurrence count is a
    WINDOW count over the hash key — the stream is built ONCE and
    shuffled ONCE (the groupBy+semi-join-back shape re-evaluates the
    whole gram explode per consumer — Catalyst does not CSE
    higher-order-function subtrees — and shuffles the stream twice;
    measured 2x slower at 100k docs). Then ONE window per doc whose
    groupBy reuses the window's partitioning. No global sort, no
    driver state; the paper's suffix-array build is a global sort of
    the same stream, so this is the cheaper plan on a cluster. Hash
    collisions can only ADD a span, never drop text. A single
    boilerplate gram repeated ~1e9 times lands its positions in one
    window partition — salt the key (split hot grams into k
    sub-buckets; each still counts >= min_count) if a corpus shows
    that skew. The DuckDB oracle keys grams by md5 instead — equal
    grams, and therefore equal spans, either way."""
    from pyspark.sql import Window

    grams = docs.select(
        "doc_id", F.posexplode(_gram_array(n)).alias("pos", "gram")
    ).select(
        "doc_id",
        "pos",
        F.xxhash64("gram").alias("h1"),
        F.xxhash64(F.lit(7), "gram").alias("h2"),
    )
    return spans_from_gram_keys(grams, n=n, min_count=min_count)


def spans_from_gram_keys(
    keys: DataFrame, n: int, min_count: int = 2
) -> DataFrame:
    """Relational tail shared by `dup_spans` and the Arrow-kernel
    `text_arrow.dup_spans_arrow`: (doc_id, pos, h1, h2) hashed gram
    positions → maximal merged spans. Window count over the hash key
    (one shuffle of the stream), then the per-doc island merge whose
    groupBy reuses the doc window's partitioning."""
    from pyspark.sql import Window

    wh = Window.partitionBy("h1", "h2")
    pos = (
        keys.withColumn("c", F.count(F.lit(1)).over(wh))
        .filter(F.col("c") >= min_count)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    isl = pos.withColumn(
        "new_isl",
        F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0),
    ).withColumn("island", F.sum("new_isl").over(w))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def dup_span_stats(docs: DataFrame, n: int = 10, min_count: int = 2) -> DataFrame:
    """Per-doc duplicated-text budget from `dup_spans`: covered word
    count and fraction — THE data-card number ("x% of the corpus is
    duplicated text") and the doc-level drop/keep signal when spans
    aren't cut individually. Docs with no duplicated span report 0.
    One extra per-doc aggregate + a left join; 6dp-rounded fraction
    for cross-engine hashing."""
    spans = dup_spans(docs, n=n, min_count=min_count)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("int")
        .alias("n_dup_words")
    )
    return (
        docs.select("doc_id", F.size(_words()).alias("n_words"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_dup_words", F.lit(0)).alias("n_dup_words"),
            F.round(
                F.coalesce("n_dup_words", F.lit(0)) * F.lit(1.0) / F.col("n_words"),
                6,
            ).alias("dup_frac"),
        )
    )


QUANTILE_PCTS = (25, 50, 75, 90)


def length_quantiles(docs: DataFrame, pcts: tuple = QUANTILE_PCTS) -> DataFrame:
    """Per-source document-length quantiles — the distribution row of
    a data card (and the basis for per-source truncation budgets).
    EXACT discrete quantiles by integer selection: the p-th quantile
    is the word count at 1-based sorted rank ceil(p/100 * n), computed
    as (n*p + 99) div 100 in pure integer arithmetic — no float
    interpolation (Spark's percentile() and DuckDB's quantile_cont
    interpolate in doubles, which is both approximate-in-spirit and a
    cross-engine hashing hazard). One window + one aggregate per
    source; ties broken by doc_id for a deterministic pick, which
    cannot change the VALUE (equal ranks hold equal word counts).

    Scale: the window partitions by source (the natural key of the
    report); a single pathological source serializes into one
    partition — at that point switch to the KMV-style sampled
    estimate, this is the exact small-dimension report."""
    from pyspark.sql import Window

    lens = docs.select(
        "source", "doc_id", F.size(_words()).alias("n_words")
    )
    w = Window.partitionBy("source").orderBy("n_words", "doc_id")
    cnt = Window.partitionBy("source")
    ranked = lens.select(
        "source",
        "n_words",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n_docs"),
    )
    def rank_of(p: int):
        # 1-based rank ceil(p/100 * n) in pure integer arithmetic
        # (no float division anywhere): ceil(p*n/100) == (p*n+99) div
        # 100 — `div` is integer division in both Spark and DuckDB
        # (spelled // there), exact at any corpus size
        return F.expr(f"(n_docs * {p} + 99) div 100")

    aggs = [F.max("n_docs").cast("int").alias("n_docs")] + [
        F.max(F.when(F.col("rn") == rank_of(p), F.col("n_words"))).alias(
            f"p{p}"
        )
        for p in pcts
    ]
    return ranked.groupBy("source").agg(*aggs)


def corpus_card(docs: DataFrame) -> DataFrame:
    """One-row corpus data card — the headline summary a curation run
    publishes (the "datasheet" numbers): document/source counts,
    token total, mean quality, exact-duplicate budget.

    Float discipline: mean_quality is aggregated in FIXED POINT
    (each doc's 6dp quality → bigint micro-units → exact integer
    sum → one final division, rounded 6dp), because a double sum's
    value depends on partition order — the same trick as
    temperature_mixture's shares and pagerank's mass. Exact-dup
    budget = docs whose md5(text) is shared (the dedup_exact
    grouping), as count + 6dp fraction.

    Two map-side-combinable aggregates (corpus stats + dup groups)
    joined as 1-row frames — no corpus shuffle beyond the md5
    groupBy the exact-dedup semantics require."""
    q = quality_score(docs).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000).cast("long").alias("q_fp"),
    )
    stats = docs.select(
        "doc_id", "source", F.size(_words()).alias("n_tok")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tok").cast("long").alias("total_ws_tokens"),
    )
    qsum = q.agg(F.sum("q_fp").cast("long").alias("q_fp_sum"))
    dup_docs = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_dup_docs"))
    )
    return (
        stats.crossJoin(F.broadcast(qsum))
        .crossJoin(F.broadcast(dup_docs))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_sources").cast("long").alias("n_sources"),
            "total_ws_tokens",
            F.round(
                F.col("q_fp_sum") / F.lit(1_000_000.0) / F.col("n_docs"), 6
            ).alias("mean_quality"),
            "n_dup_docs",
            F.round(F.col("n_dup_docs") * F.lit(1.0) / F.col("n_docs"), 6).alias(
                "pct_exact_dup"
            ),
        )
    )


def line_dedup(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Boilerplate line removal — the CCNet / RefinedWeb / Dolma
    paragraph-dedup pass: a LINE (newline-delimited) that occurs in
    >= min_docs distinct documents is boilerplate (nav headers,
    cookie banners, copyright footers, licence blocks) and is cut
    from every document; the per-document remainder is reassembled in
    original line order. Counting distinct DOCUMENTS (RefinedWeb
    semantics), not occurrences, so within-doc repetition alone never
    flags a line — that signal belongs to repetition_score/dup_spans.
    Output: (doc_id, n_lines, n_kept, n_boiler, clean_text).

    Scale shape: lines are keyed by xxhash64 of the normalized
    (trim+lower) line BEFORE any shuffle — no long strings move. The
    boilerplate doc-count never shuffles (key, doc_id) pairs at all:
    each doc's DISTINCT key set is built IN-ROW (array_distinct over
    the split — a doc is one row, so per-doc distinct needs no
    exchange) and exploding it yields a stream that is already
    doc-distinct, so ONE map-side-combinable groupBy(key).count() IS
    the distinct-document count — never a collect_set, so a footer in
    1e9 docs is one counter, not a 1e9-element buffer (the previous
    shape spent a full (key, doc_id) distinct exchange before the
    count, and checkpointed the entire corpus LINE TEXT to feed three
    consumers — at corpus scale that materialization is a full-input
    write; r7 profile at 500k docs/5M lines, staged multi-line
    corpus, derivation excluded: 9.7 → 8.5 s wall — the structural
    win is the removed full-input materialization and the one fewer
    corpus-scale exchange). The text-carrying line stream is consumed
    exactly ONCE (the reassembly pass): it LEFT-joins the boilerplate
    key set (duplicated-line keys only — orders of magnitude smaller
    than the corpus; AQE broadcasts it when it fits, shuffles when it
    doesn't) and ONE groupBy per doc reassembles kept lines via
    sorted (pos, line) structs; n_lines is size(split) in-row on the
    same pass, so nothing scans the input twice and nothing is
    checkpointed. Hash collisions across distinct normalized lines
    are 2^-64-scale and could only merge two lines' doc counts
    (over-removal), never corrupt text. The DuckDB oracle keys lines
    by md5 instead — equal lines, equal removal set, either way."""
    key = lambda line: F.xxhash64(F.trim(F.lower(line)))  # noqa: E731
    # boilerplate keys: in-row per-doc distinct, then one combinable
    # count — the exploded stream is (key) only, no doc_id, no text
    boiler = (
        docs.select(
            F.explode(
                F.array_distinct(
                    F.transform(F.split(F.col("text"), "\n"), key)
                )
            ).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("k")
    )
    lines = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\n")).alias("n_lines"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).select("doc_id", "n_lines", "pos", "line", key(F.col("line")).alias("k"))
    # LEFT join (not anti) so every line — and therefore every doc,
    # split() always yields >= 1 element — reaches the one reassembly
    # groupBy: collect_list skips the nulls the WHEN leaves on
    # boilerplate lines, so an all-boilerplate doc reassembles to ''
    # with n_kept 0 in the same pass and no docs-side backfill join
    # or third input scan is needed
    flagged = lines.join(
        boiler.withColumn("b", F.lit(True)), "k", "left"
    )
    keep = F.col("b").isNull()
    return flagged.groupBy("doc_id", "n_lines").agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    ).select(
        "doc_id",
        "n_lines",
        "n_kept",
        (F.col("n_lines") - F.col("n_kept")).cast("int").alias("n_boiler"),
        "clean_text",
    )


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-document character-class profile — the script/encoding
    triage step of web-corpus curation (mojibake, binary spill,
    wrong-script routing): counts of ASCII alpha / digit /
    whitespace / punctuation and non-ASCII bytes, plus the dominant
    class under a fixed priority tie-break. Zero-shuffle projection;
    each class count is length(text) minus the length with that
    class deleted. The three FINITE classes delete via `translate`
    (a plain char-map pass — measured 8× faster than the regex
    equivalent at 500k docs, 11.5s → 1.5s, value-identical by
    exceptAll both ways); only the unbounded non-ASCII class needs a
    regexp_replace. Punct is DERIVED by subtraction so no punctuation
    character class can disagree between engines; the DuckDB oracle
    keeps its regex formulation — same counts, independently derived.
    ASCII-\\s only, the cross-engine whitespace convention this
    codebase pins."""
    import string as _string

    n = F.length("text")

    def _without_chars(chars):
        return n - F.length(F.translate("text", chars, ""))

    def _without(pat):
        return n - F.length(F.regexp_replace("text", pat, ""))

    a = _without_chars(_string.ascii_uppercase + _string.ascii_lowercase)
    d = _without_chars(_string.digits)
    s = _without_chars(" \t\n\r\f\x0b")
    o = _without(r"[^\x00-\x7f]")
    p = n - a - d - s - o
    main = (
        F.when((a >= d) & (a >= p) & (a >= s) & (a >= o), "alpha")
        .when((d >= p) & (d >= s) & (d >= o), "digit")
        .when((p >= s) & (p >= o), "punct")
        .when(s >= o, "space")
        .otherwise("other")
    )
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_chars"),
        a.cast("int").alias("n_alpha"),
        d.cast("int").alias("n_digit"),
        s.cast("int").alias("n_space"),
        p.cast("int").alias("n_punct"),
        o.cast("int").alias("n_other"),
        main.alias("main_class"),
    )


def mad_outliers(docs: DataFrame, c: int = 5) -> DataFrame:
    """Robust length-outlier flagging by median/MAD — the
    distribution-aware filter a data-card pipeline runs before
    mean-based stats (a mean/stddev filter is itself dragged by the
    outliers it should catch). Median and MAD are EXACT lower
    medians computed by integer rank — no interpolation, no floats
    anywhere: a doc is flagged iff |n_words - med| > c·mad, all
    bigint arithmetic.

    Scale shape: the median of a 1e12-row column never sorts the
    corpus — token counts are small integers, so the exact median
    comes from a value HISTOGRAM (map-side-combinable groupBy on
    n_words, thousands of distinct values at most) with one
    cumulative window over the distinct values only. The deviation
    median repeats the trick on |x - med|. Two tiny aggregates, two
    1-row broadcasts, zero corpus sorts. Output: (doc_id, n_words,
    med, mad, is_outlier)."""
    from pyspark.sql import Window

    lens = docs.select("doc_id", F.size(_words()).cast("long").alias("n_words"))

    def _exact_median(vals: DataFrame, col: str):
        h = vals.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        ranked = h.select(
            col,
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        return ranked.filter(
            F.col("cum") * 2 >= F.col("n")
        ).agg(F.min(col).alias("m"))

    med = _exact_median(lens, "n_words").select(F.col("m").alias("med"))
    dev = lens.crossJoin(F.broadcast(med)).select(
        "doc_id", "n_words", "med",
        F.abs(F.col("n_words") - F.col("med")).alias("adev"),
    )
    mad = _exact_median(
        dev.select("adev"), "adev"
    ).select(F.col("m").alias("mad"))
    return dev.crossJoin(F.broadcast(mad)).select(
        "doc_id",
        "n_words",
        "med",
        "mad",
        (F.col("adev") > F.lit(c) * F.col("mad")).alias("is_outlier"),
    )


def epoch_allocation(
    docs: DataFrame, budget: int = 1_000_000, max_epochs: int = 4
) -> DataFrame:
    """Per-source training-token allocation under a global budget
    with an epoch cap — the "how many passes over each source"
    planning table of a data-mixture run (small sources must not
    repeat more than max_epochs times, Muennighoff et al. 2023's
    repetition-harm regime): each source's proportional share
    min'd against max_epochs·its size, the remainder reported as
    unallocated rather than silently redistributed. ALL integer
    arithmetic (shares via bigint div), so no float can split the
    engines. One aggregate + a broadcast 1-row total; the corpus
    never shuffles. Output: (source, n_tokens, alloc_tokens,
    epochs_milli, capped)."""
    def _idiv(a, b):
        # exact bigint floor-division (a, b >= 0): subtracting the
        # modulus first keeps the final double division exact —
        # floor(a/b) via doubles alone can land one off at exact
        # multiples. Numerators must stay under 2^53 (holds for the
        # gate; a petascale budget wants decimal(38) here).
        return ((a - F.pmod(a, b)) / b).cast("long")

    per_src = docs.select(
        "source", F.size(_words()).cast("long").alias("t")
    ).groupBy("source").agg(F.sum("t").alias("n_tokens"))
    total = per_src.agg(F.sum("n_tokens").alias("total"))
    raw = _idiv(F.lit(budget) * F.col("n_tokens"), F.col("total"))
    cap = (F.lit(max_epochs) * F.col("n_tokens")).cast("long")
    alloc = F.least(raw, cap)
    return per_src.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        alloc.alias("alloc_tokens"),
        _idiv(F.lit(1000) * alloc, F.col("n_tokens")).alias("epochs_milli"),
        (raw > cap).alias("capped"),
    )


def source_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per source by tf-idf — the
    "what is this slice made of" table of a per-source data card
    (idf over SOURCES: a term every source uses scores 0 no matter
    how frequent, so the ranking surfaces what distinguishes the
    slice, not what fills it). Score = tf · ln(S/df_sources),
    ranked per source by (9dp-rounded score DESC, term ASC) — the
    round-before-rank discipline so a sub-ulp score difference can
    never order two engines differently.

    Scale shape: one (source, term) count (map-side combinable),
    one term-level source-count aggregate joined back (vocabulary-
    sized), S as a broadcast 1-row frame, then ONE per-source rank
    window whose partition is the per-source vocabulary — bounded by
    vocabulary size, not corpus size. The corpus is read once."""
    from pyspark.sql import Window

    tf = (
        docs.select("source", F.explode(_words()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("src_df"))
    ns = tf.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    scored = (
        tf.join(sdf, "term")
        .crossJoin(F.broadcast(ns))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_sources") / F.col("src_df")), 9
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "source",
            "term",
            F.col("tf").cast("int").alias("tf"),
            F.col("src_df").cast("int").alias("src_df"),
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source shared-text matrix — the syndication/mirror-site
    report of a data card: for each source pair, how many DISTINCT
    texts they both publish (exact dup groups that span the pair).
    The per-source dedup decision changes when a text's copies live
    under different crawl sources (drop one side vs keep per-source),
    so the matrix is the planning table for that policy. Output:
    (source_a, source_b, n_shared_texts).

    Scale shape: distinct (md5(text), source) first — corpus-scale
    but map-side-combinable and 40-byte rows; the self-join fans out
    per hash by the number of SOURCES carrying it (bounded by the
    source universe, thousands at web scale — never by copy count:
    1e6 copies of one text in one source are ONE row here)."""
    m = docs.select(F.md5("text").alias("h"), "source").distinct()
    a = m.select("h", F.col("source").alias("source_a"))
    b = m.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_texts"))
    )


def winnow_fingerprints(docs: DataFrame, n: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003 — the
    MOSS algorithm): hash every word n-gram, slide a w-gram window,
    keep each window's MINIMUM hash; the selected set is the
    fingerprint. Guarantee the single-min `fingerprint` op can't
    give: any shared run of at least w+n-1 words between two
    documents shares at least one selected fingerprint, so
    containment/partial overlap is detectable, not just whole-doc
    similarity — while storing ~1/w of the hashes. Output: (doc_id,
    n_fingerprints, fingerprints sorted-csv). Docs shorter than w
    grams keep one window over what exists; gram-less docs emit 0.

    Scale shape: entirely IN-ROW (hash transform + one
    array_min-per-window transform, O(words·w) per doc) — a pure
    zero-shuffle projection like `fingerprint`; no gram row stream
    exists at all. Hashes use the portable md5-prefix-int family so
    the DuckDB oracle (a nums-join + SQL window construction — a
    different algorithm shape over the same definition) lands on
    identical integers."""
    grams = _gram_array(n)
    h = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    nwin = F.greatest(F.size(h) - F.lit(w) + 1, F.lit(1))
    idx = F.when(
        F.size(h) >= 1, F.sequence(F.lit(1), nwin)
    ).otherwise(F.array().cast("array<int>"))
    mins = F.transform(idx, lambda i: F.array_min(F.slice(h, i, w)))
    sel = F.array_sort(F.array_distinct(mins))
    return docs.select(
        "doc_id",
        F.size(sel).cast("int").alias("n_fingerprints"),
        F.concat_ws(
            ",", F.transform(sel, lambda x: x.cast("string"))
        ).alias("fingerprints"),
    )


def quality_percentile(docs: DataFrame) -> DataFrame:
    """Corpus-wide quality percentile per document — the calibration
    column quality-threshold policies actually want ("drop the
    bottom 20%" is a percentile statement, not an absolute-score
    one): pct_rank = 100·|{q' <= q}| div N, pure integers.

    Scale shape: the same histogram trick as `mad_outliers` — the
    6dp quality scores take bounded distinct values, so the exact
    corpus-wide rank comes from a value histogram + one cumulative
    window over DISTINCT values only, joined back on the score. No
    global sort, no corpus-wide window."""
    from pyspark.sql import Window

    q = quality_score(docs).select("doc_id", "quality")
    h = q.groupBy("quality").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("quality").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = h.select(
        "quality",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    ).select(
        "quality",
        ((F.lit(100) * F.col("cum") - F.pmod(F.lit(100) * F.col("cum"), F.col("n")))
         / F.col("n")).cast("int").alias("pct_rank"),
    )
    return q.join(ranked, "quality").select("doc_id", "quality", "pct_rank")


def curation_pipeline(
    docs: DataFrame, min_mean_len: float = 4.5, min_docs: int = 3
) -> DataFrame:
    """END-TO-END curation composite — the doc-side analog of the KG
    side's `kg_bus_branch` composition gate: boilerplate line removal
    → Gopher rule battery over the CLEANED text → exact dedup keep →
    deterministic hash split, one plan, one gate. Proves the
    operators compose (each is individually gated; this pins that
    their contracts chain — e.g. the rules see post-line-dedup text,
    which is what a real pipeline scores). Output: (doc_id,
    n_boiler, gopher_keep, dedup_kept, split, selected).

    Fully-emptied documents (all lines boilerplate) drop out, as a
    real pipeline drops them. The gate feeds the MIRRORED + LINED
    corpus (cross-source verbatim copies whose per-source footers
    differ): line dedup removes the footers, the copies' cleaned
    texts coincide, and the dedup branch goes live — operators
    interacting, which is the point of a composition gate. min_docs
    defaults to 3 HERE (not line_dedup's 2) because at 2 a mirror
    pair's own chunk lines count as cross-doc boilerplate and line
    dedup deletes the copies outright — correct RefinedWeb behavior,
    but it would leave the exact-dedup stage untested.
    Checkpoints the two multi-consumer frames (line-dedup output
    feeds the cleaned view and the n_boiler report; the cleaned view
    feeds rules, dedup, split)."""
    from pyspark.sql import Window

    from cimpy_spark.plans.checkpoints import checkpoint_df

    ld = checkpoint_df(line_dedup(docs, min_docs=min_docs))
    cleaned = checkpoint_df(
        ld.filter(F.col("n_kept") > 0).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    g = gopher_rules(cleaned, min_mean_len=min_mean_len).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    w = Window.partitionBy(F.md5("text"))
    dd = cleaned.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("dedup_kept"),
    )
    sp = hash_split(cleaned).select("doc_id", "split")
    return (
        cleaned.select("doc_id")
        .join(ld.select("doc_id", "n_boiler"), "doc_id")
        .join(g, "doc_id")
        .join(dd, "doc_id")
        .join(sp, "doc_id")
        .select(
            "doc_id",
            "n_boiler",
            "gopher_keep",
            "dedup_kept",
            "split",
            (F.col("gopher_keep") & F.col("dedup_kept")).alias("selected"),
        )
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical text normalization — the first pass of every web
    pipeline (strip ASCII control bytes, collapse whitespace runs to
    single spaces, trim), with the change accounting a data card
    reports. Output: (doc_id, clean_text, n_chars_before,
    n_chars_after, changed). Zero-shuffle chained-regex projection;
    ASCII classes only (the cross-engine convention this codebase
    pins — Unicode normalization forms are locale/library-dependent
    and belong behind an Arrow kernel if ever needed)."""
    stripped = F.regexp_replace(
        F.col("text"), "[\\x00-\\x08\\x0e-\\x1f\\x7f]", ""
    )
    collapsed = F.trim(F.regexp_replace(stripped, "\\s+", " "))
    return docs.select(
        "doc_id",
        collapsed.alias("clean_text"),
        F.length("text").cast("int").alias("n_chars_before"),
        F.length(collapsed).cast("int").alias("n_chars_after"),
        (F.col("text") != collapsed).alias("changed"),
    )
