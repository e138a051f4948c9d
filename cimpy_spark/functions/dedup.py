"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Everything is built from JVM-side column expressions over portable
hashes, so results are engine-independent — the same computation is
expressible in DuckDB for the correctness oracle. Two signature
families share one bucket/verify/CC machinery:

- "xxh64" (v2, the DEFAULT since round 7): each shingle hashed once
  to a long, per-seed values and band keys from fixed-width block
  hashes — ~2× the md5 fold, LONG band keys (tighter shuffle rows),
  scaling efficiency 0.667 vs 0.541 at 4→16 cores (BENCH.md r6).
  Oracle = the bit-exact pure-SQL XXH64 port (doc_oracles).
- "md5" (v1, kept available and gated): the lexicographic min of
  ``md5(shingle || '#' || seed)`` is a valid MinHash permutation
  family (each seed suffix induces an independent uniform order on
  shingles). Corpora fingerprinted under one family must be re-signed
  to compare under the other.

Scale notes (100 TB corpus):
- signatures and band keys are computed as NARROW per-row array
  expressions — zero shuffles and zero row amplification until the
  band self-join. (Round 1 exploded 12× on seeds before aggregating.)
- Catalyst lesson baked in here: higher-order-function results must be
  consumed EXACTLY ONCE per row (fold with a finish lambda) — column
  references to an HOF expression are substituted per consumer by
  projection collapse, silently re-running the whole fold (measured
  ~10× slowdowns); HOFs are also interpreted (no whole-stage codegen),
  so reused intermediates (band keys, fingerprints) are checkpointed
  before multi-consumer joins.
- the band join's key cardinality ≈ n_docs × n_bands with near-unique
  keys; true near-dup clusters create small groups, giant clusters
  (boilerplate) create skew. Candidate-pair explosion is bounded per
  bucket by ``max_bucket``: bucket sizes are counted first (cheap,
  map-side combinable), buckets over the cap are excluded via a
  broadcast anti-join (the oversize set is tiny by construction —
  that is what "pathological" means), and `oversize_buckets` reports
  what was dropped, A1-style. Worst-case pair count is then
  n_buckets × max_bucket², never O(n²) in one key.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cimpy_spark.functions.text import has_shingles, shingle_array
from cimpy_spark.plans.checkpoints import checkpoint_df

N_HASHES = 12
N_BANDS = 4  # rows-per-band r = 3
MAX_BUCKET = 32  # max docs per LSH bucket before it is dropped as boilerplate
# incremental-ingest broadcast gate: the touched-bucket set is batch-
# sized (batch × n_bands keys) — broadcast it only below this row
# count (~tens of MB of short keys); above, plain shuffle joins
BROADCAST_TOUCHED_MAX = 4_000_000



def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: (text_hash, n_docs, canonical_doc_id) for
    hash groups with >1 member; canonical = min doc_id (deterministic
    election, as in canonicalization)."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _sig_docs(docs: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, sig array<string>[n_hashes]): per-seed MinHash values,
    computed narrow as ONE fold over the shingle array — the
    accumulator carries all n_hashes running minima, so the shingle
    construction is evaluated exactly once per row. (The obvious
    n_hashes-separate-array_min formulation is 30x slower: Catalyst's
    projection collapse substitutes the shingle transform into every
    consumer, re-evaluating it per seed.) Docs shorter than 3 words
    are excluded, matching the grouped formulation.

    NB: loop constants are captured as closure constants, never lambda
    parameters — a 2-arg HOF lambda means (element, index) to Spark."""
    sig = _minhash_fold(n_hashes)
    return docs.filter(has_shingles()).select("doc_id", sig.alias("sig"))


def _minhash_fold(n_hashes: int, finish=None):
    """The MinHash signature as ONE fold over the shingle array; an
    optional `finish` lambda post-processes the accumulator IN the
    fold (references to the accumulator variable are free — references
    to the fold expression itself are not, see _sig_docs)."""
    init = F.array(*[F.lit("~") for _ in range(n_hashes)])  # '~' > any hex

    def step(acc, x):
        return F.array(
            *[
                F.least(acc[s], F.md5(F.concat_ws("#", x, F.lit(str(s)))))
                for s in range(n_hashes)
            ]
        )

    if finish is None:
        return F.aggregate(shingle_array(3), init, step)
    return F.aggregate(shingle_array(3), init, step, finish)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, seed, h): per-seed MinHash values over word 3-gram
    shingles — the long format, derived from the narrow array
    signature by a tiny posexplode (no shuffle)."""
    return _sig_docs(docs, n_hashes).select(
        "doc_id", F.posexplode("sig").alias("seed", "h")
    )


def minhash_band_keys(
    docs: DataFrame, n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band, band_key): md5 over each band's consecutive
    signature values — narrow all the way (n_bands-row explode only).
    Band keys are built in the fold's FINISH lambda so the signature
    fold runs exactly once per row (indexing a separate sig column
    n_hashes times would re-run the fold per reference after
    projection collapse — measured 10x slower)."""
    rows_per_band = n_hashes // n_bands

    def finish(acc):
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat(
                            *[acc[b * rows_per_band + i] for i in range(rows_per_band)]
                        )
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )

    bands = _minhash_fold(n_hashes, finish)
    return (
        docs.filter(has_shingles())
        .select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", "bk.band", "bk.band_key")
    )


def bucket_pairs(
    keys: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    id_col: str = "doc_id",
    keep_keys: bool = False,
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs per bucket of size ≤ max_bucket
    — ONE grouped aggregation with in-row pair generation (r8, guide
    §2.4): collect the bucket's DISTINCT ids (bounded by the cap
    contract; a repeated id yields neither a self-pair nor duplicates),
    drop oversize buckets with a plain filter on the collected size,
    and emit the sorted-id i<j pairs from array expressions.

    Replaces the previous 4-consumer shape (bucket-size aggregation +
    broadcast anti-join + two-sided self-join) — two shuffles of the
    key set, a broadcast build and a join — with one shuffle. Per-row
    state is ≤ max_bucket ids and ≤ max_bucket² pairs, exactly the
    bound the old self-join enforced per bucket; callers that raise
    max_bucket to pathological values get the same pair count either
    way, just materialized per bucket row.

    `keep_keys=True` keeps the bucket key columns on each pair row
    (the ingest snapshot's provenance schema). Pairs are NOT
    deduplicated across buckets here — same as the raw self-join."""
    grouped = keys.groupBy(*key_cols).agg(
        F.sort_array(F.collect_set(id_col)).alias("__ids")
    )
    small = grouped.filter(F.size("__ids") <= max_bucket)
    ids = F.col("__ids")
    pairs_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    out_keys = list(key_cols) if keep_keys else []
    return small.select(*out_keys, F.explode(pairs_arr).alias("__p")).select(
        *out_keys,
        F.col("__p.a").alias("doc_a"),
        F.col("__p.b").alias("doc_b"),
    )


def drop_oversize_buckets(
    keys: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """Shared cap plan for every LSH family here (MinHash bands,
    SimHash slices, hyperplane buckets): count bucket sizes (cheap,
    map-side combinable), exclude buckets over the cap via a broadcast
    anti-join — the oversize set is tiny by construction, so the only
    corpus-sized operation is a narrow scan."""
    big = (
        keys.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select(*key_cols)
    )
    return keys.join(F.broadcast(big), key_cols, "left_anti")


def oversize_buckets(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    keys: DataFrame | None = None,
) -> DataFrame:
    """(band, band_key, n_docs) for LSH buckets over the cap — the
    A1-style metric companion to `minhash_candidates` (what the cap
    dropped and how big it was). Pass the candidates run's
    materialized band keys via `keys` to avoid recomputing the
    signature fold."""
    if keys is None:
        keys = minhash_band_keys(docs, n_hashes, n_bands)
    return (
        keys.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def _band_keys_fn(family: str):
    """The ONE family-dispatch point shared by every MinHash consumer
    (candidates, corpus dedup, ingest): "md5" = v1 hex keys, "xxh64"
    = v2 long keys (see the v2 section below)."""
    if family == "md5":
        return minhash_band_keys
    if family == "xxh64":
        return minhash_band_keys_v2
    raise ValueError(f"unknown signature family: {family!r}")


def minhash_candidates(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    family: str = "xxh64",
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b) sharing any LSH
    band bucket of size ≤ max_bucket. Since r8 the bucket machinery is
    `bucket_pairs` — one grouped aggregation with in-row pair
    generation and an inline size-cap filter (the previous shape
    shuffled the key set twice through a count + broadcast anti-join +
    self-join; same pairs, same n_buckets × max_bucket² bound)."""
    # the signature fold is consumed ONCE by the grouped aggregation,
    # so no checkpoint here: consumers that reuse the pair set
    # (ngram_jaccard, dedup_corpus) checkpoint the PAIRS instead
    keys = _band_keys_fn(family)(docs, n_hashes, n_bands)
    return bucket_pairs(keys, ["band", "band_key"], max_bucket).distinct()


def ngram_jaccard(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-3-gram Jaccard similarity for candidate pairs —
    the verify stage after LSH: (doc_a, doc_b, jaccard).

    Verify cost is O(candidates), NOT O(corpus): docs are semi-joined
    to the candidate id set BEFORE the shingle arrays are built, so
    only documents that actually appear in a pair are touched (at
    100 TB shingling the full corpus would shuffle ~50× the text
    volume to verify a tiny candidate fraction). The candidate id set
    is bounded by the LSH bucket cap (≤ 2·|pairs| distinct ids,
    pairs ≤ n_buckets × max_bucket²), so it broadcasts; `pairs` is
    materialized once since this plan consumes it three times (two id
    projections, the verify join). The intersection itself is in-row
    (array_intersect over the two shingle arrays — no explode, no
    per-shingle join; r8, same discipline as setsim_join)."""
    pairs = checkpoint_df(pairs)
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # r8: in-row array intersection (the setsim_join discipline) —
    # the previous shape exploded candidate shingles and ran FIVE
    # joins (two on the exploded stream, one left-join for zero-
    # intersection pairs, two size joins); now each candidate doc's
    # shingle set is built once as an array and a pair's Jaccard is
    # computed in-row after two id-keyed joins. Per-pair state is two
    # ≤doc-sized arrays, and the pair count is LSH-cap-bounded, so
    # nothing here exceeds what the old exploded join already
    # shuffled. Pairs with an unshingled/absent member drop via the
    # inner joins, exactly as the old inner size-join dropped them;
    # empty intersections yield 0/(na+nb) = 0.0 like the old fillna.
    arrays = (
        docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select("doc_id", shingle_array(3).alias("__sh"))
        .filter(F.size("__sh") >= 1)
    )
    ja = arrays.select(F.col("doc_id").alias("doc_a"), F.col("__sh").alias("__sha"))
    jb = arrays.select(F.col("doc_id").alias("doc_b"), F.col("__sh").alias("__shb"))
    n_inter = F.size(F.array_intersect("__sha", "__shb"))
    return (
        pairs.join(ja, "doc_a")
        .join(jb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter * F.lit(1.0)
                / (F.size("__sha") + F.size("__shb") - n_inter),
                6,
            ).alias("jaccard"),
        )
    )


def _min_id_clusters(op: str, corpus: DataFrame, id_col: str, verified) -> DataFrame:
    """The id-to-cluster tail shared by every LSH dedup entry point
    (`dedup_corpus`, `dedup_ingest` and their embedding mirrors):
    connected components over the verified duplicate pairs via the
    SAME CC operator the KG pipeline uses (transitive: A≈B≈C collapses
    to one cluster), then canonical election — min id per cluster
    survives.

    Ids (non-negative int64) are zero-padded to 20 digits for the CC
    operator so lexicographic min == numeric min across the full
    non-negative int64 range. A negative id would format as '-000…'
    and silently mis-order against numeric min, so the contract is
    ENFORCED, not just documented: a limit-1 probe on `corpus` (filter
    pushed to the scan, stops at the first hit) fails fast BEFORE
    `verified()` schedules any dedup work or commits any ingest stage.
    `verified()` returns (ids, pairs): the one-column id universe to
    label and the two-column (a < b) verified pair frame. Output:
    (id_col, canonical_<id_col>, is_kept)."""
    from cimpy_spark.operators.canonicalize import canonical_map

    if corpus.filter(F.col(id_col) < 0).limit(1).count() > 0:
        raise ValueError(
            f"{op} requires non-negative {id_col} (zero-padded "
            f"lexicographic ordering == numeric ordering); found {id_col} < 0"
        )
    ids, pairs = verified()
    a, b = pairs.columns
    pad = "%020d"  # int64 max is 19 digits — padding must cover it
    # the CC operator checkpoints its link set before reading it, so
    # the (expensive) candidate+verify plan runs once
    links = pairs.select(
        F.format_string(pad, a).alias("src"),
        F.format_string(pad, b).alias("dst"),
    )
    # r8: canonical_map, not canonical_labels + rejoin — every link
    # endpoint IS an id of the labeled universe, so the lossless
    # all-vertex labeling restricted back to `ids` equals the
    # declared-only map, and the declared path is ONE broadcast join
    # over ONE scan of `ids` (the labels+rejoin shape re-scanned the
    # corpus ~3× and built two extra broadcasts for an endpoint_only
    # set that is empty here by construction). Row-identical (pinned
    # by the unchanged oracles).
    labels = canonical_map(
        ids.select(F.format_string(pad, id_col).alias("entity_id")), links
    )
    canon = f"canonical_{id_col}"
    return labels.select(
        F.col("entity_id").cast("bigint").alias(id_col),
        F.col("canonical_id").cast("bigint").alias(canon),
    ).withColumn("is_kept", F.col(id_col) == F.col(canon))


def dedup_corpus(
    docs: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    family: str = "xxh64",
) -> DataFrame:
    """End-to-end near-duplicate corpus dedup — the composition a
    training-data pipeline actually runs:

    1. LSH candidate generation (bucketed, max_bucket-capped),
    2. exact n-gram Jaccard verify at `threshold`,
    3. connected components over the verified dup pairs and canonical
       election (min doc_id per cluster survives) — the shared
       `_min_id_clusters` tail, which also enforces the non-negative
       doc_id contract before any dedup work is scheduled.

    Output: (doc_id, canonical_doc_id, is_kept).
    """

    def verified():
        dup_pairs = ngram_jaccard(
            docs, minhash_candidates(docs, n_hashes, n_bands, max_bucket, family)
        ).filter(F.col("jaccard") >= threshold)
        return docs.select("doc_id"), dup_pairs.select("doc_a", "doc_b")

    return _min_id_clusters("dedup_corpus", docs, "doc_id", verified)


def dup_cluster_stats(
    docs: DataFrame,
    threshold: float = 0.8,
    family: str = "xxh64",
) -> DataFrame:
    """Duplication report over the `dedup_corpus` clustering — the
    datasheet number every curation run publishes ("what fraction of
    the corpus was near-duplicate, and how big were the clusters"):
    cluster sizes from the canonical election, histogrammed as one
    row per observed size with the cluster / document / removed-copy
    counts at that size. size = 1 rows are the untouched singletons;
    Σ n_removed over sizes ≥ 2 is the corpus's duplicate overhead.
    All columns are exact integers — nothing to round, the oracle
    matches bit-for-bit by construction.

    Scale shape: inherits dedup_corpus's bucketed-LSH plan (never
    all-pairs), then two map-side-combinable aggregates — per-cluster
    counts are ≤|docs| rows keyed by canonical id, the histogram is
    ≤max_cluster_size rows. No sort, no collect; the report is
    O(distinct sizes) however large the corpus. Output:
    (cluster_size, n_clusters, n_docs, n_removed)."""
    per = dedup_corpus(docs, threshold=threshold, family=family).groupBy(
        "canonical_doc_id"
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        per.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
            F.sum(F.col("cluster_size") - F.lit(1)).cast("long").alias(
                "n_removed"
            ),
        )
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removed",
        )
    )


def dedup_eval(
    clusters: DataFrame,
    truth_pairs: DataFrame,
    id_col: str = "doc_id",
    canon_col: str = "canonical_doc_id",
) -> DataFrame:
    """Golden-set evaluation of a dedup clustering — the measurement
    layer the reference's P/R oracle discipline (SURVEY SO3) applies
    to the curation side: given cluster assignments (any
    dedup_corpus/emb_dedup_corpus-shaped frame) and a ground-truth
    pair table (doc_a, doc_b, kind), report per planted KIND how many
    pairs landed in the same cluster. kinds at controlled similarity
    levels turn the threshold into measured behavior: verbatim and
    above-threshold kinds should detect ~1.0, below-threshold kinds
    ~0.0 — a regression in either direction is a dedup-family bug
    the row-hash gates can't localize.

    A pair member absent from `clusters` counts as NOT detected
    (left joins — an eval must never silently shrink its denominator).
    detection_rate_micro = (n_detected·1e6) div n_pairs, exact
    integer division on identical integer counts.

    Scale shape: two hash joins of the truth table (|planted| rows)
    against the assignment frame on the id key, then one
    map-side-combinable per-kind aggregate to ≤|kinds| rows. Output:
    (kind, n_pairs, n_detected, detection_rate_micro)."""
    ca = clusters.select(
        F.col(id_col).alias("doc_a"), F.col(canon_col).alias("__ka")
    )
    cb = clusters.select(
        F.col(id_col).alias("doc_b"), F.col(canon_col).alias("__kb")
    )
    hit = F.when(
        F.col("__ka").isNotNull() & (F.col("__ka") == F.col("__kb")), 1
    ).otherwise(0)
    return (
        truth_pairs.join(ca, "doc_a", "left")
        .join(cb, "doc_b", "left")
        .select("kind", hit.alias("hit"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_detected"),
        )
        .select(
            "kind",
            "n_pairs",
            "n_detected",
            F.expr("(n_detected * 1000000) div n_pairs")
            .cast("long")
            .alias("detection_rate_micro"),
        )
    )


# ---- xxhash64 MinHash family (v2) ----------------------------------
#
# The round-6 stage breakdown (BENCH.md) put the md5 signature fold at
# 61s/20s (4/16 cores) on 500k docs — the dominant dedup_corpus cost
# and memory-bandwidth heavy (each shingle × seed materializes a
# 32-char hex string). The v2 family hashes each shingle ONCE to a
# long (xxhash64 — the fold input is the pre-hashed array, evaluated
# once), then derives each seed's value with two fixed-width block
# hashes (Spark's chained xxhash64(long, int-seed) = hashLong then
# hashInt): no per-seed string re-hash, no hex allocation, and band
# keys become longs (tighter shuffle rows in the bucket join).
# Measured: band keys 14-22s → 7.5s at 500k docs/32 cores. The DuckDB
# oracle mirrors it bit-exactly via the pure-SQL XXH64 closed forms
# (doc_oracles.xxh64_long_sql / xxh64_int_sql). Graduated to the
# DEFAULT family in round 7 (VERDICT r6 #2: 1.7-2.1× absolute at both
# measured parallelism levels, scaling 0.667 vs 0.541); v1 (md5)
# stays available via family="md5" and keeps its own gates — corpora
# fingerprinted under one family must be re-signed to compare under
# the other.

_MAX_LONG = (1 << 63) - 1


def _minhash_fold_v2(n_hashes: int, finish=None):
    """v2 signature fold: input = shingles pre-hashed to longs (ONE
    xxhash64 per shingle), per-seed value = xxhash64(shingle_hash,
    seed) — two block hashes, no strings. Same one-fold discipline as
    `_minhash_fold` (the accumulator carries all running minima)."""
    hx = F.transform(shingle_array(3), lambda s: F.xxhash64(s))
    init = F.array(*[F.lit(_MAX_LONG).cast("bigint") for _ in range(n_hashes)])

    def step(acc, h):
        return F.array(
            *[F.least(acc[s], F.xxhash64(h, F.lit(s))) for s in range(n_hashes)]
        )

    if finish is None:
        return F.aggregate(hx, init, step)
    return F.aggregate(hx, init, step, finish)


def minhash_band_keys_v2(
    docs: DataFrame, n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band, band_key BIGINT): per-band key = chained
    xxhash64 over the band's consecutive signature longs, built in
    the fold's FINISH lambda (same single-fold shape as v1)."""
    rows_per_band = n_hashes // n_bands

    def finish(acc):
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[acc[b * rows_per_band + i] for i in range(rows_per_band)]
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )

    bands = _minhash_fold_v2(n_hashes, finish)
    return (
        docs.filter(has_shingles())
        .select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", "bk.band", "bk.band_key")
    )


def minhash_candidates_v2(docs: DataFrame, **kw) -> DataFrame:
    """`minhash_candidates` on the v2 family — identical bucket
    machinery (cap, anti-join, bounded self-join), long band keys.
    Thin wrapper over the family parameter (review finding: the
    one-shot and ingest paths must select families the same way, and
    the shared machinery must exist once). Since the round-7
    graduation this equals the default; the explicit spelling stays
    because the *_v2 gate entries pin the family by name."""
    return minhash_candidates(docs, family="xxh64", **kw)


def dedup_corpus_v2(docs: DataFrame, **kw) -> DataFrame:
    """`dedup_corpus` on the v2 signature family. The verify stage is
    the SAME exact n-gram Jaccard, so a pair surfaced by either family
    gets the same verdict; only LSH recall can differ (both families
    are 12-hash/4-band MinHash, so the collision probability curve is
    identical — tested on the organic planted-duplicate corpus).
    Thin wrapper over the family parameter."""
    return dedup_corpus(docs, family="xxh64", **kw)


def simhash(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """SimHash over distinct word tokens: bit j of a token's md5
    votes ±1; the sign of each bit-sum is the fingerprint bit.
    (doc_id, simhash long).

    Bit source: an md5 has 32 hex digits; bit j draws bit
    ``(j-1) // 32`` of hex digit ``(j-1) % 32`` — 128 independent bits
    available, of which up to 60 fit a signed BIGINT without touching
    the sign bit (both engines refuse ``1 << 63``; 60 also splits into
    4 clean 15-bit bands). Fingerprint packing is integer shifts, NOT
    double powers — sums of 2^(j-1) stop being exact in a double at
    j > 53.

    Choosing n_bits per corpus scale (band-bucket saturation: a b-bit
    band slice has 2^(n_bits/n_bands) values; buckets saturate — and
    the max_bucket cap starts dropping real near-dups — once corpus
    size approaches n_bands × 2^(n_bits/n_bands)):

    ======== ============ ==============================
    corpus    n_bits       band slice (4 bands)
    ======== ============ ==============================
    ≤ 100k    16 (legacy)  4 bits — fixture scale ONLY
    ≤ 10M     32           8 bits
    ≤ 1B+     60 (default) 15 bits
    ======== ============ ==============================

    Narrow single-fold formulation: ONE pass over the token-md5 array
    with an n_bits-wide vote accumulator, packed to the fingerprint in
    the fold's finish lambda — the token array and its md5s are
    evaluated exactly once per row (n_bits separate folds would
    re-evaluate them per bit after projection collapse; measured ~n×
    slower). No explode, no shuffle."""
    if not 1 <= n_bits <= 60:
        raise ValueError("simhash supports 1..60 bits in a signed long")
    hs = F.transform(
        F.array_distinct(F.split(F.trim("text"), "\\s+")), lambda t: F.md5(t)
    )
    init = F.array(*[F.lit(0) for _ in range(n_bits)])

    def vote(h, j: int):
        # hex digit (j-1) % 32 of the token md5, bit (j-1) // 32
        digit = F.conv(F.substring(h, (j - 1) % 32 + 1, 1), 16, 10).cast("int")
        return F.when(
            F.shiftright(digit, (j - 1) // 32) % 2 == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    def step(acc, h):
        return F.array(*[acc[j - 1] + vote(h, j) for j in range(1, n_bits + 1)])

    def finish(acc):
        return reduce(
            lambda x, y: x + y,
            [
                F.when(
                    acc[j - 1] > 0,
                    F.shiftleft(F.lit(1).cast("long"), j - 1),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(1, n_bits + 1)
            ],
        )

    fp = F.aggregate(hs, init, step, finish)
    return docs.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_candidates(
    docs: DataFrame,
    n_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the fingerprint into
    ``n_bands`` equal bit slices — by pigeonhole, any pair within
    ``max_hamming < n_bands`` bit flips shares at least one identical
    band — bucket-join on (band, slice value), cap oversize buckets,
    then verify Hamming distance exactly with ``bit_count(xor)``
    (all JVM-side). Output: (doc_a, doc_b, hamming).

    Default 60 bits / 4 bands — the SAME setting as `simhash`'s
    default (see its corpus-size table): 15-bit band slices keep
    buckets unsaturated to ~1B+ docs. The gated `doc_simhash_
    candidates` runs THIS 60-bit default cross-engine (the oracle's
    default moved in lockstep, round 5); narrower fingerprints
    (32/16) remain available for small corpora, with 60-bit
    fingerprint parity additionally pinned in `test_dedup_text.py`.
    Degenerate slices (e.g. short docs voting identically) are
    dropped by the cap, A1-style, like the MinHash path."""
    band_bits = n_bits // n_bands
    # materialize the fingerprints ONCE: the simhash fold would
    # otherwise be re-evaluated per band expression after projection
    # collapse, and the keys plan is consumed 4x downstream — banding
    # over the checkpointed longs is trivial
    sh = checkpoint_df(simhash(docs, n_bits=n_bits))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * band_bits)
                .bitwiseAND(F.lit(2**band_bits - 1))
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    # r8: in-row pair generation via bucket_pairs over a (doc_id,
    # simhash) struct id — the struct sorts by its first field, and
    # doc_id is unique per bucket, so pair order matches the old
    # doc_a < doc_b filter; the fingerprint rides along for the
    # in-row Hamming verify. One shuffle instead of the old
    # count + broadcast anti-join + self-join.
    keys = sh.select(
        F.explode(bands).alias("bk"),
        F.struct("doc_id", "simhash").alias("ds"),
    ).select("bk.band", "bk.band_key", "ds")
    pairs = bucket_pairs(keys, ["band", "band_key"], max_bucket, id_col="ds")
    ham = F.expr("bit_count(doc_a.simhash ^ doc_b.simhash)")
    return (
        pairs.select(
            F.col("doc_a.doc_id").alias("doc_a"),
            F.col("doc_b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup (the production arrival path)
# ---------------------------------------------------------------------------

def _touched_joins(
    old_pairs: DataFrame,
    all_keys: DataFrame,
    touched: DataFrame,
    keys: list[str],
    use_broadcast: bool,
) -> tuple[DataFrame, DataFrame]:
    """The two touched-bucket joins of an incremental ingest: carry
    unchanged-bucket pairs (anti-join) and restrict re-pairing to
    touched buckets (equi-join). `use_broadcast` is the SIZE GATE
    decision — `touched` is batch-sized (batch × n_bands keys), so a
    broadcast hint is only safe below a row threshold; above it these
    must be plain shuffle joins (a 10^9-doc daily batch would
    otherwise broadcast ~4×10^9 keys — executor OOM). Without the
    hint AQE may still broadcast if the RUNTIME size is small; that's
    the planner's sized decision, not a forced one. Plan shape pinned
    by `test_touched_join_broadcast_gate`."""
    t = F.broadcast(touched) if use_broadcast else touched
    return old_pairs.join(t, keys, "left_anti"), all_keys.join(t, keys)


def _require_widest_corpus(
    store: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
    op: str,
) -> None:
    """Enforce the ingest contract that the passed corpus frame is the
    widest available: every id referenced by a pair that still needs
    verification must resolve in it. Without this, a caller passing
    only the new batch would have carried pairs against absent old
    docs silently drop out of the verify inner join — known duplicates
    quietly treated as unique. Cheap probe: anti-join the (small,
    candidate-bounded) id set of unverified pairs against the corpus
    ids, limit 1 — one bounded job per ingest, mirroring the enforced
    non-negative-id contract's fail-fast discipline."""
    a, b = pair_cols
    missing = (
        pairs.select(F.col(a).alias(id_col))
        .unionByName(pairs.select(F.col(b).alias(id_col)))
        .join(store.select(id_col), id_col, "left_anti")
        .limit(1)
    )
    if missing.count() > 0:
        raise ValueError(
            f"{op}: verify pairs reference {id_col}s absent from the "
            f"passed corpus frame — pass the widest corpus available "
            f"(committed corpus + new batch), not just the batch"
        )


def _lsh_ingest(
    spark,
    corpus: DataFrame,
    out_dir: str,
    op: str,
    id_col: str,
    pair_cols: tuple[str, str],
    keys: dict[str, str],
    stages: tuple[str, str, str],
    build_keys,
    verify,
    score_col: str,
    threshold: float,
    max_bucket: int,
    broadcast_touched_max: int,
) -> tuple[DataFrame, DataFrame]:
    """The incremental-arrival protocol shared by `dedup_ingest` and
    `similarity.emb_ingest`: per arriving batch, key only the NEW rows
    and re-pair only the buckets the batch touched. Returns (ids,
    verified pairs) for the `_min_id_clusters` tail.

    `corpus` is the widest frame available, (id_col, payload…);
    `keys` maps the bucket key columns to their SQL types;
    `build_keys(fresh)` returns (id_col, *keys) rows for the unseen
    rows, a row with null keys recording an id that has no bucket;
    `verify(corpus, pairs)` scores (a, b) pairs as (a, b, score_col).
    The three committed `stages` under `out_dir` (LineageLedger, same
    crash-retry/commit semantics as the KG pipeline) are:

    - arrivals (append): ONE atomic commit per batch carrying both the
      arrival record and the bucket keys, so there is NO window where
      an id is "seen" but unkeyed (or keyed but unseen): a crash
      before the commit re-ingests the whole batch, after it skips the
      whole batch. Its distinct ids are the labeled universe.
    - pairs (snapshot): candidate pairs WITH bucket-key provenance.
      Rebuilt per ingest as: pairs of UNCHANGED buckets carried
      verbatim + pairs of TOUCHED buckets recomputed against the
      bucket's CURRENT size. Provenance is what makes the `max_bucket`
      cap exact under growth: a bucket that crosses the cap in a later
      batch retro-drops the pairs it justified — matching the one-shot
      semantics bit for bit. STALENESS GUARD: if the committed
      snapshot predates the latest arrivals commit (a crash landed
      between the two), every bucket is treated as touched — one full
      re-pair recovery run restores exactness.
    - scores (append): the verified score per candidate pair — rows
      are immutable, so a pair is verified ONCE ever; later ingests
      reuse the cached value. A crash before this commit self-heals:
      the missing pairs are re-verified on the next run (anti-join
      against the cache)."""
    from cimpy_spark.plans.lineage import LineageLedger

    ledger = LineageLedger(out_dir)
    a, b = pair_cols
    key_cols = list(keys)
    key_ddl = ", ".join(f"{c} {t}" for c, t in keys.items())
    arrivals_stage, pairs_stage, scores_stage = stages
    arrival_schema = f"{id_col} long, {key_ddl}"
    keyed = F.col(key_cols[0]).isNotNull()

    booted = ledger.is_append_committed(arrivals_stage)
    # staleness BEFORE this batch's append: a crash between a previous
    # arrivals commit and its pairs rewrite leaves a pair snapshot
    # that never saw those keys — recover with a full re-pair
    pairs_usable = booted and ledger.is_committed(
        pairs_stage, after=(arrivals_stage,)
    )
    if booted:
        seen_ids = ledger.read_append_stage(
            spark, arrivals_stage, arrival_schema
        ).select(id_col).distinct()
        fresh = checkpoint_df(corpus.join(seen_ids, id_col, "left_anti"))
    else:
        fresh = corpus

    arrivals = ledger.run_append_stage(
        spark, arrivals_stage, lambda: build_keys(fresh), reset=not booted
    )
    all_keys = arrivals.filter(keyed)
    # this batch's keys, read back from the JUST-committed increment
    # (no key refold)
    fresh_keys = spark.read.schema(arrival_schema).parquet(
        ledger.append_increments(arrivals_stage)[-1]
    ).filter(keyed)

    # buckets touched by this batch: re-pair them against CURRENT
    # contents; every other bucket's pairs carry over verbatim. With a
    # stale/missing pair snapshot, EVERY bucket is touched (recovery).
    pair_schema = f"{key_ddl}, {a} long, {b} long"
    if pairs_usable:
        touched = fresh_keys.select(*key_cols).distinct()
        # size gate for the touched-side broadcast (see _touched_joins).
        # The just-committed arrivals increment holds one row per (id,
        # bucket) for keyed ids PLUS one null-key row per keyless id,
        # so its ledger row count is >= |distinct keys| = |touched|.
        # Gating on it is therefore CONSERVATIVE (it can only
        # over-count, pushing borderline batches to the repartition
        # path, never an oversized broadcast) — free metadata, no
        # extra job.
        batch_keys = ledger.last_increment_rows(arrivals_stage)
        # materialize EAGERLY: the pairs rewrite below overwrites
        # the very snapshot this reads (same hazard as the KG side's
        # cmap_full, materialize.py)
        old_pairs = checkpoint_df(
            spark.read.schema(pair_schema).parquet(ledger.stage_dir(pairs_stage))
        )
        carried, in_touched = _touched_joins(
            old_pairs,
            all_keys,
            touched,
            key_cols,
            batch_keys <= broadcast_touched_max,
        )
    else:
        # bootstrap or recovery: every bucket re-pairs — no broadcast
        # of the (corpus-sized) bucket list, the keys ARE the input
        carried = spark.createDataFrame([], pair_schema)
        in_touched = all_keys
    # r8: in-row pair generation with inline cap filter (bucket_pairs)
    # — in_touched is consumed once; provenance keys kept for the
    # snapshot
    recomputed = bucket_pairs(
        in_touched, key_cols, max_bucket, id_col=id_col, keep_keys=True
    ).select(*key_cols, F.col("doc_a").alias(a), F.col("doc_b").alias(b))

    pairs_prov = ledger.run_stage(
        spark, pairs_stage, lambda: carried.unionByName(recomputed),
        after=(arrivals_stage,),
    )
    cand = pairs_prov.select(a, b).distinct()

    # verify once ever: rows are immutable, a cached score is final
    score_schema = f"{a} long, {b} long, {score_col} double"
    if booted and ledger.is_append_committed(scores_stage):
        cached = ledger.read_append_stage(spark, scores_stage, score_schema)
        new_pairs = cand.join(cached, [a, b], "left_anti")
    else:
        new_pairs = cand
    _require_widest_corpus(corpus, new_pairs, id_col, pair_cols, op)
    new_scores = verify(corpus, new_pairs)
    all_scores = ledger.run_append_stage(
        spark, scores_stage, lambda: new_scores, reset=not booted
    )

    links = cand.join(all_scores, [a, b]).filter(F.col(score_col) >= threshold)
    return arrivals.select(id_col).distinct(), links.select(a, b)


def dedup_ingest(
    spark,
    docs: DataFrame,
    out_dir: str,
    threshold: float = 0.8,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    broadcast_touched_max: int = BROADCAST_TOUCHED_MAX,
    family: str = "xxh64",
) -> DataFrame:
    """Incremental near-duplicate dedup: per arriving batch, re-LSH
    only the NEW documents and re-pair only the buckets the batch
    touched — never the whole corpus. At 100 TB the one-shot
    `dedup_corpus` is a bootstrap job; this is the path every
    subsequent ingest takes (the training-data analog of the KG
    side's `materialize.ingest_increment`, and the reference's
    "import more profile files later" axis, cimpy/cimimport.py:11-76
    second pass over an existing object registry).

    `docs` is the widest corpus available (the committed corpus plus
    the new batch — already-seen doc_ids are skipped, like
    ingest_increment's conv skip); old text is only READ BACK for the
    few old docs that land in a verify pair against a new doc. The
    contract is ENFORCED (`_require_widest_corpus`): an ingest whose
    unverified pairs reference ids absent from `docs` fails fast
    instead of silently dropping known duplicates at the verify join.

    Committed stages under `out_dir` (the `_lsh_ingest` protocol):

    - ``doc_arrivals`` (append): doc_id plus the LSH band keys —
      shingled docs contribute n_bands key rows, no-shingle docs one
      null-band row.
    - ``doc_pairs`` (snapshot): candidate pairs with (band, band_key)
      provenance; a bucket crossing `max_bucket` in a later batch
      retro-drops its pairs (pinned by test with a cap-crossing
      fixture).
    - ``doc_jaccard`` (append): verified word-3-gram Jaccard per
      candidate pair, computed once ever.

    Returns (doc_id, canonical_doc_id, is_kept) over all seen docs —
    identical to `dedup_corpus` of the full corpus (equivalence-
    tested): the final pair set per bucket depends only on final
    bucket contents, links only on pairs + cached Jaccard, labels
    only on links.

    ``family`` selects the signature hash family: "xxh64" (v2, the
    default since round 7 — long band keys, ~2× signature fold;
    BENCH.md round-6) or "md5" (v1, kept available and gated). The
    committed state encodes the family
    in the band_key column type, so an out_dir bootstrapped under one
    family must keep it (mixing families against one ledger would
    read the other family's parquet with the wrong schema and fail
    loudly at the scan, never silently).
    """
    docs = docs.select("doc_id", "text")

    def verified():
        keys_fn = _band_keys_fn(family)
        key_type = "bigint" if family == "xxh64" else "string"

        def arrival_keys(fresh):
            keys = keys_fn(fresh, n_hashes, n_bands)
            keyless = fresh.join(
                keys.select("doc_id").distinct(), "doc_id", "left_anti"
            ).select(
                "doc_id",
                F.lit(None).cast("int").alias("band"),
                F.lit(None).cast(key_type).alias("band_key"),
            )
            return keys.unionByName(keyless)

        return _lsh_ingest(
            spark,
            docs,
            out_dir,
            op="dedup_ingest",
            id_col="doc_id",
            pair_cols=("doc_a", "doc_b"),
            keys={"band": "int", "band_key": key_type},
            stages=("doc_arrivals", "doc_pairs", "doc_jaccard"),
            build_keys=arrival_keys,
            verify=ngram_jaccard,
            score_col="jaccard",
            threshold=threshold,
            max_bucket=max_bucket,
            broadcast_touched_max=broadcast_touched_max,
        )

    return _min_id_clusters("dedup_ingest", docs, "doc_id", verified)


def setsim_join(
    docs: DataFrame, num: int = 4, den: int = 5, n: int = 3
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering — the
    AllPairs / PPJoin family (Bayardo et al. WWW'07, Xiao et al.
    WWW'08): all pairs whose word-n-gram shingle-set Jaccard is
    >= num/den, with no false negatives — the deterministic
    complement to the probabilistic MinHash path (minhash misses
    ~(1-recall) of true pairs by design; audits and eval-set
    decontamination want the exact answer).

    Prefix filter: order the vocabulary by (document frequency,
    token) — rarest first — sort each doc's shingles by that order,
    and keep only the first |s| - ceil(t·|s|) + 1 as its PREFIX. Two
    sets with Jaccard >= t must share a prefix token (their overlap
    o >= ceil(t·max(|A|,|B|)) can't hide in either (ceil(t·|s|)-1)-
    sized suffix), so joining on prefix tokens alone is complete.
    The threshold is a RATIONAL num/den and every prefix length /
    filter uses integer arithmetic (ceil(t·n) = (num·n + den-1) div
    den; the verify keeps den·inter >= num·(na+nb-inter)) — no float
    boundary can disagree between engines or with the math.

    Scale shape: shingles are hashed to xxhash64 int keys BEFORE the
    checkpoint and every shuffle — no shingle strings move (the
    dup_spans discipline; measured 86.5 → 48.9 s at 500k docs/26M
    shingles). Any consistent total order supports prefix filtering,
    so ordering by (df, hash) instead of (df, shingle) is still
    complete: a truly shared shingle shares its hash, and a hash
    COLLISION can only merge df counts / add a spurious candidate —
    which the exact verify rejects — never lose a pair. One
    vocabulary-sized df aggregate + join back (AQE broadcasts a
    small vocab, shuffles a big one); per-doc ordering is an IN-ROW
    array_sort of (df, hash) longs (no global sort — a global rank
    window would serialize the vocabulary through one task); the
    candidate self-join touches only prefix keys, which are each
    doc's RAREST — the frequent-token buckets that blow up a naive
    inverted-index join never enter it; the AllPairs length filter
    (num·max(na,nb) <= den·min(na,nb)) prunes before the distinct.
    Verify is O(candidates): docs are broadcast-semi-joined to the
    candidate id set BEFORE the shingle arrays are built (the
    ngram_jaccard discipline — the corpus-wide arrays never
    shuffle), then the pair's two arrays intersect IN-ROW
    (array_intersect — no second explode, no per-pair fan-out).
    Output: (doc_a, doc_b, n_inter, jaccard 6dp). The DuckDB oracle
    is the INDEPENDENT brute-force all-pairs join over the same
    shingle sets."""
    sh = docs.filter(has_shingles(n)).select(
        "doc_id",
        F.explode(shingle_array(n)).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("tok"))
    sh = checkpoint_df(sh)
    dfreq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("arr"))
    )
    nsz = F.size("arr")
    ceil_tn = F.floor((F.lit(num) * nsz + F.lit(den - 1)) / F.lit(den))
    plen = (nsz - ceil_tn + 1).cast("int")
    prefix = ordered.select(
        "doc_id",
        nsz.alias("n"),
        F.explode(
            F.slice(F.transform("arr", lambda s: s["tok"]), F.lit(1), plen)
        ).alias("tok"),
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "tok"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.lit(num) * F.greatest("na", "nb")
            <= F.lit(den) * F.least("na", "nb")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand = checkpoint_df(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .filter(has_shingles(n))
        .select("doc_id", shingle_array(n).alias("s"))
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
        .filter(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("int").alias("n_inter"),
            F.round(
                F.col("inter")
                * F.lit(1.0)
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


def containment_join(
    docs: DataFrame, num: int = 9, den: int = 10, n: int = 3
) -> DataFrame:
    """EXACT asymmetric containment self-join with prefix filtering —
    the directional complement to `setsim_join`: all ORDERED pairs
    (a, b) whose shingle-set containment |A∩B| / |A| is >= num/den.
    Containment catches what symmetric Jaccard structurally cannot: a
    quote, excerpt or truncation is ~fully contained in its source
    while its Jaccard can be arbitrarily low (the organic corpus's
    trunc60 mutations sit at J≈0.57 — invisible to the 0.8 Jaccard
    gate — with containment ≈1.0), which is exactly the sub-document
    duplication an LLM training curation pass needs to see.

    Prefix filter, containment form: if |A∩B| >= ceil(t·|A|), the
    overlap cannot hide in A's (ceil(t·|A|)-1)-sized rarest-last
    suffix, so A's prefix (first |A| - ceil(t·|A|) + 1 tokens in the
    global (df, hash) order) must hit B — joining A-PREFIX tokens
    against B's FULL token stream is complete. The b side cannot be
    prefix-filtered (containment puts no bound relative to |B|), but
    the join only ever touches A-prefix tokens — each doc's RAREST —
    so the frequent-token posting lists a naive inverted index dies
    on never enter the join. Length filter: den·|B| >= num·|A|
    (B must be able to hold the required overlap). All thresholds
    are integer rational arithmetic (the setsim_join contract); the
    verify is candidate-restricted in-row array_intersect, and keeps
    den·inter >= num·na. Output: (doc_a, doc_b, n_inter,
    containment 6dp) — doc_a is the contained side.
    """
    sh = checkpoint_df(
        docs.filter(has_shingles(n))
        .select("doc_id", F.explode(shingle_array(n)).alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("tok"))
    )
    dfreq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("arr")
        )
    )
    nsz = F.size("arr")
    ceil_tn = F.floor((F.lit(num) * nsz + F.lit(den - 1)) / F.lit(den))
    plen = (nsz - ceil_tn + 1).cast("int")
    prefix = ordered.select(
        F.col("doc_id").alias("doc_a"),
        nsz.alias("na"),
        F.explode(
            F.slice(F.transform("arr", lambda s: s["tok"]), F.lit(1), plen)
        ).alias("tok"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    full = sh.join(sizes, "doc_id").select(
        F.col("doc_id").alias("doc_b"), "nb", "tok"
    )
    cand = (
        prefix.join(full, "tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.lit(den) * F.col("nb") >= F.lit(num) * F.col("na"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand = checkpoint_df(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .filter(has_shingles(n))
        .select("doc_id", shingle_array(n).alias("s"))
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            F.size("sa").alias("na"),
        )
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("na"))
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("int").alias("n_inter"),
            F.round(
                F.col("inter") * F.lit(1.0) / F.col("na"), 6
            ).alias("containment"),
        )
    )
