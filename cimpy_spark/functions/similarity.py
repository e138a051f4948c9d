"""Similarity search over the `embeddings` table
(vec_id, embedding array<float>, label).

- Brute-force cosine top-k: the correctness baseline. Dot products are
  computed JVM-side with `zip_with` + `aggregate` (ordered left fold,
  double precision) — no Python in the loop.
- Hyperplane-LSH bucketing: the scale path — assign each vector to a
  2^P-bucket signature so candidate generation becomes a bucket
  equi-join instead of a cross join. Hyperplane components are a
  deterministic ±1 pattern (portable to the SQL oracle; a real
  deployment would broadcast gaussian planes — identical plumbing).
- Near-dup pairs: cosine ≥ threshold within LSH buckets.

Scale notes: brute-force is O(Q×N) — fine for Q small (broadcast the
queries side, which Catalyst chooses automatically for a tiny dim
table); the LSH path turns all-pairs into per-bucket joins with
AQE-managed skew, and `neardup_pairs` drops buckets over `max_bucket`
members (counted first, excluded via broadcast anti-join) so one
degenerate region can never produce an O(n²) pair set. Bucket
assignment itself is a narrow per-row array fold — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cimpy_spark.functions.dedup import (
    BROADCAST_TOUCHED_MAX,
    _lsh_ingest,
    _min_id_clusters,
    bucket_pairs,
    drop_oversize_buckets,
)
from cimpy_spark.plans.checkpoints import checkpoint_df

N_PLANES = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _as_double(col):
    return F.col(col).cast("array<double>")


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k neighbors for query vectors
    (vec_id < n_queries), excluding self. Rank on the rounded
    similarity with vec_id tie-break so ordering is engine-stable.
    Output: (query_id, neighbor_id, rank, sim)."""
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    pairs = F.broadcast(q).crossJoin(
        base.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qemb"), F.col("nemb"))
            / (_norm(F.col("qemb")) * _norm(F.col("nemb"))),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _plane_sum(emb_col, q: int):
    """Signed projection onto GLOBAL plane q: component i (1-based)
    is +1 iff ((2q+3)·i + 5q+1) mod 127 < 63 — an affine family over
    a prime modulus > dims, portable to SQL. Each plane's map is
    injective on i (2q+3 invertible mod 127), so patterns are
    balanced and genuinely DIFFERENT per plane. (The round-3 formula
    reduced mod 7, which made planes q and q+7 identical — extra LSH
    tables could never amplify recall because every table induced the
    same partition.)"""
    proj = F.transform(
        emb_col,
        lambda v, i0: v
        * F.when(
            (F.lit(2 * q + 3) * (i0 + 1) + F.lit(5 * q + 1)) % 127 < 63,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    return F.aggregate(proj, F.lit(0.0), lambda acc, x: acc + x)


def _bucket_expr(emb_col, n_planes: int = N_PLANES, table: int = 0):
    """Hyperplane-LSH bucket for one table as a narrow per-row
    expression: the sign pattern of planes q = table*n_planes + p
    packs into an int. Zero explodes, zero shuffles (round 1
    posexploded dims × planes and shuffled twice)."""
    bucket = None
    for p in range(n_planes):
        term = F.when(
            _plane_sum(emb_col, table * n_planes + p) > 0, F.lit(float(2**p))
        ).otherwise(F.lit(0.0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def multi_table_buckets(
    embeddings: DataFrame, n_tables: int, n_planes: int = N_PLANES
) -> DataFrame:
    """(vec_id, tbl, bucket) over `n_tables` independent hyperplane
    tables — the OR-amplification of LSH: a pair is a candidate if it
    collides in ANY table, lifting per-pair recall from p^k to
    1-(1-p^k)^L (at cos 0.98, k=8: 0.59 → 0.93 with L=3). Still a
    pure projection + an n_tables-row explode; table 0 reproduces the
    single-table `lsh_buckets` values exactly."""
    emb = _as_double("embedding")
    tb = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_expr(emb, n_planes, table=t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return embeddings.select("vec_id", F.explode(tb).alias("b")).select(
        "vec_id", "b.tbl", "b.bucket"
    )


def lsh_buckets(embeddings: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, bucket): sign pattern of n_planes deterministic
    hyperplanes packed into an int — a pure projection."""
    return embeddings.select(
        "vec_id", _bucket_expr(_as_double("embedding"), n_planes).alias("bucket")
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-`label` centroids (the
    stand-in for k-means cells — identical plumbing), queries probe
    the `nprobe` nearest cells and rank exactly within them.

    Scale path vs brute force: candidate set shrinks from N to
    N×nprobe/n_cells; the centroid table is tiny and broadcast. May
    miss neighbors outside probed cells — that recall/cost trade IS
    the IVF contract. Output: (query_id, neighbor_id, rank, sim).
    """
    base = embeddings.select("vec_id", "label", _as_double("embedding").alias("emb"))
    dim_idx = base.select(
        "vec_id", "label", F.posexplode("emb").alias("i", "v")
    )
    centroids = (
        dim_idx.groupBy("label", "i")
        .agg(F.round(F.avg("v"), 9).alias("c"))  # rounded → engine-stable
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "c"))), lambda x: x["c"]
            ).alias("cemb")
        )
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # rank cells per query by centroid cosine, keep nprobe
    qc = F.broadcast(q).crossJoin(F.broadcast(centroids))
    cell_sim = qc.select(
        "query_id",
        "label",
        F.round(
            _dot(F.col("qemb"), F.col("cemb"))
            / (_norm(F.col("qemb")) * _norm(F.col("cemb"))),
            6,
        ).alias("csim"),
    )
    wcell = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("label").asc()
    )
    probed = (
        cell_sim.withColumn("crk", F.row_number().over(wcell))
        .filter(F.col("crk") <= nprobe)
        .select("query_id", "label")
    )
    # exact rank within probed cells
    cand = (
        probed.join(q, "query_id")
        .join(base, "label")
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    sims = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb"))
            / (_norm(F.col("qemb")) * _norm(F.col("emb"))),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ann_recall_eval(
    exact: DataFrame, approx: DataFrame, k: int = 5
) -> DataFrame:
    """Recall@k of an approximate-nearest-neighbor result against the
    exact control — the similarity-search twin of `dedup.dedup_eval`
    (golden-set evaluation as a first-class operator, not a side
    tool): both inputs are (query_id, neighbor_id, rank, …) frames
    (cosine_topk is the control; ivf_topk / kmeans_ivf_topk /
    pq_topk the candidates), and per query the op reports how many of
    the exact top-k the ANN result recovered. recall_micro =
    (n_hits·1e6) div n_exact, exact integer division. A query absent
    from the ANN result keeps its denominator (left joins — same
    never-shrink contract as dedup_eval); ordering differences
    beyond rank ≤ k are invisible by construction (recall is
    set-intersection, the published metric).

    Scale shape: inputs are already top-k-bounded (≤ n_queries·k
    rows), so every join and aggregate here is query-table-sized —
    the evaluation costs nothing beyond the two searches it scores.
    Output: (query_id, n_exact, n_approx, n_hits, recall_micro)."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    pq = e.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    ac = a.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    h = (
        e.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        pq.join(ac, "query_id", "left")
        .join(h, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_approx",
            "n_hits",
            F.expr("(n_hits * 1000000) div n_exact")
            .cast("long")
            .alias("recall_micro"),
        )
    )


MAX_BUCKET = 128  # max vectors per LSH bucket before it is dropped as degenerate


def _dist2(emb, centroid: list):
    """Squared L2 distance to a constant centroid, via the dot-product
    identity (no per-dim explode): |v|² − 2·v·c + |c|²."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    cc = float(sum(x * x for x in centroid))
    return _dot(emb, emb) - 2.0 * _dot(emb, c) + F.lit(cc)


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    sample_fraction: float = 1.0,
) -> tuple[DataFrame, list]:
    """Deterministic Lloyd k-means coarse quantizer.

    - init: centroids = the embeddings of vec_id 0..k-1 (fixed seeds —
      reproducible across engines, no RNG);
    - per iteration: assign each vector to the argmin-dist² centroid
      (distances rounded to 6dp, ties to the smaller cell — exactly
      mirrored in the SQL oracle), then recompute centroids as per-dim
      means rounded to 9dp (empty cells keep their centroid).

    Assignment is a narrow pass (k dot products per row, centroids as
    broadcast literals); the update is one explode + grouped avg —
    the standard train step. ``sample_fraction < 1`` trains the
    centroid updates on a DETERMINISTIC hash sample of the corpus
    (xxhash64 bucket, no RNG — stable across runs and engines), the
    standard IVF train-on-sample move: Lloyd convergence needs only a
    representative sample, while the returned assignment still covers
    every vector. Returns (assignments (vec_id, cell), trained
    centroids as Python lists).
    """
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in (0, 1]")
    base = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    if sample_fraction < 1.0:
        train = base.filter(
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(1_000_000))
            < int(sample_fraction * 1_000_000)
        )
    else:
        train = base
    seeds = (
        base.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .collect()
    )
    # cell ids ARE the seed vec_ids (robust to gaps in the id space —
    # the oracle seeds cells the same way); ascending order fixes the
    # argmin tie-break
    centroids = {int(r["vec_id"]): list(r["emb"]) for r in seeds}
    if not centroids:
        raise ValueError(f"kmeans_cells: no seed vectors with vec_id < {k}")

    def assign(cents: dict, frame: DataFrame = base) -> DataFrame:
        # argmin over an ARRAY of (dist², cell) structs — struct
        # ordering compares dist² first, then cell, so ties go to the
        # smaller cell id exactly like a strict-< first-wins scan.
        # Expression size is LINEAR in k: the earlier chained
        # F.when(d < best, ...).otherwise(best) referenced `best`
        # twice per step, doubling the tree each centroid —
        # exponential blowup that OOMed the driver near k≈64, long
        # before a real IVF cell count.
        dists = F.array(
            *[
                F.struct(
                    F.round(_dist2(F.col("emb"), cents[j]), 6).alias("d"),
                    F.lit(j).alias("cell"),
                )
                for j in sorted(cents)
            ]
        )
        cell = F.array_min(dists)["cell"]
        return frame.select("vec_id", "emb", cell.cast("int").alias("cell"))

    for _ in range(iters):
        assigned = assign(centroids, train)
        means = (
            assigned.select("cell", F.posexplode("emb").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.round(F.avg("v"), 9).alias("c"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "c"))),
                    lambda x: x["c"],
                ).alias("cemb")
            )
            .collect()
        )
        by_cell = {r["cell"]: list(r["cemb"]) for r in means}
        # empty cells keep their previous centroid
        centroids = {j: by_cell.get(j, c) for j, c in centroids.items()}

    return assign(centroids).select("vec_id", "cell"), centroids


def kmeans_ivf_topk(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    n_queries: int = 8,
    topk: int = 5,
    nprobe: int = 2,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (vs `ivf_topk`'s
    label-as-cell stand-in): Lloyd k-means cells (optionally trained
    on a deterministic hash sample via ``sample_fraction``), queries
    probe the nprobe nearest centroids by cosine, exact rank within
    probed cells. Output: (query_id, neighbor_id, rank, sim)."""
    assignments, centroids = kmeans_cells(
        embeddings, k, iters, sample_fraction
    )
    base = embeddings.select(
        "vec_id", _as_double("embedding").alias("emb")
    ).join(assignments, "vec_id")
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # rank cells per query by centroid cosine — trained centroids as
    # ONE tiny broadcast table joined to the queries (the `ivf_topk`
    # shape), NOT a k-way union of per-centroid literal frames: at a
    # real IVF cell count (2^14–2^16) a union loop is a plan-size
    # explosion (tens of thousands of branches with literal vectors
    # baked into the plan — driver/planning blowup before any data
    # moves), while this stays one broadcast join of n_queries × k
    # rows regardless of k. Numerically identical: the fold order of
    # _dot/_norm over the array column matches the former Python
    # literal sum (left-to-right IEEE doubles), rounded to 6dp either
    # way (pinned by test at k=4).
    cent_df = embeddings.sparkSession.createDataFrame(
        [(j, [float(x) for x in centroids[j]]) for j in sorted(centroids)],
        "cell int, cemb array<double>",
    )
    cell_sims = F.broadcast(q).crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "cell",
        F.round(
            _dot(F.col("qemb"), F.col("cemb"))
            / (_norm(F.col("qemb")) * _norm(F.col("cemb"))),
            6,
        ).alias("csim"),
    )
    wcell = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    probed = (
        cell_sims.withColumn("crk", F.row_number().over(wcell))
        .filter(F.col("crk") <= nprobe)
        .select("query_id", "cell")
    )
    cand = (
        probed.join(q, "query_id")
        .join(base, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    sims = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qemb"), F.col("emb"))
            / (_norm(F.col("qemb")) * _norm(F.col("emb"))),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    max_bucket: int = MAX_BUCKET,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b) with
    sim ≥ threshold, candidates restricted to shared LSH buckets
    (identical vectors always share a bucket, so exact dups are found
    UNLESS their bucket exceeds max_bucket — degenerate regions are
    deliberately dropped). Buckets over the cap are excluded via a
    broadcast anti-join on the tiny oversize set, bounding the
    self-join at n_tables × n_buckets × max_bucket² pairs.

    `n_tables > 1` OR-amplifies recall (see `multi_table_buckets`):
    the planted organic dups at cos ≈ 0.98 are recalled at ~0.63 by
    one 8-plane table and ~0.95 by three (measured, BENCH.md); the cap
    applies per (table, bucket) and the pair set is deduped across
    tables. Output: (vec_a, vec_b, sim)."""
    # only (vec_id, tbl, bucket) enters the pair machinery — the
    # (wide) embeddings are fetched back by key for the capped
    # candidates. r8: in-row bucket pair generation (bucket_pairs) —
    # the bucket fold is consumed ONCE by the grouped aggregation, so
    # the old 4-consumer checkpoint + anti-join + self-join collapse
    # to one shuffle.
    v = multi_table_buckets(embeddings, n_tables)
    cand = (
        bucket_pairs(v, ["tbl", "bucket"], max_bucket, id_col="vec_id")
        .select(
            F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
        )
        .distinct()
    )
    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    sims = _cosine_verify(e, cand)
    return sims.filter(F.col("sim") >= threshold).select("vec_a", "vec_b", "sim").distinct()


def _cosine_verify(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact cosine per candidate pair — the verify stage after LSH,
    shared by `neardup_pairs` and `emb_ingest`: both members' (vec_id,
    emb) vectors are fetched by key, so verify cost is O(candidates).
    Output: (vec_a, vec_b, sim 6dp)."""
    return (
        pairs.join(emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea")), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb")), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                6,
            ).alias("sim"),
        )
    )


def emb_dedup_corpus(
    embeddings: DataFrame,
    threshold: float = 0.99,
    max_bucket: int = MAX_BUCKET,
    n_tables: int = 1,
) -> DataFrame:
    """End-to-end embedding near-duplicate dedup — the vector-side
    mirror of `dedup.dedup_corpus` (same composition a training-data
    pipeline ships):

    1. hyperplane-LSH bucketed candidate pairs, cap-bounded,
    2. exact cosine verify at `threshold`,
    3. connected components over the verified pairs and canonical
       election (min vec_id per cluster survives) — the shared
       `dedup._min_id_clusters` tail, with the same enforced
       non-negative-id contract as dedup_corpus.

    Output: (vec_id, canonical_vec_id, is_kept)."""

    def verified():
        pairs = neardup_pairs(embeddings, threshold, max_bucket, n_tables)
        return embeddings.select("vec_id"), pairs.select("vec_a", "vec_b")

    return _min_id_clusters("emb_dedup_corpus", embeddings, "vec_id", verified)


def emb_ingest(
    spark,
    embeddings: DataFrame,
    out_dir: str,
    threshold: float = 0.99,
    max_bucket: int = MAX_BUCKET,
    n_tables: int = 1,
    broadcast_touched_max: int = BROADCAST_TOUCHED_MAX,
) -> DataFrame:
    """Incremental embedding near-dup dedup — the vector-side mirror
    of `dedup.dedup_ingest`: the same `dedup._lsh_ingest` protocol and
    the same exact-equivalence guarantee vs the one-shot
    `emb_dedup_corpus`. Committed stages under `out_dir`:

    - ``emb_keys``  (append): (vec_id, tbl, bucket) hyperplane-LSH
      keys of arrived vectors. The bucketer is total (every vector
      gets n_tables keys), so the key stage doubles as the arrival
      record.
    - ``emb_pairs`` (snapshot): candidate pairs WITH (tbl, bucket)
      provenance; a bucket crossing `max_bucket` later retro-drops the
      pairs it justified.
    - ``emb_cos``   (append): verified cosine per candidate pair,
      computed once ever.

    `embeddings` is the widest corpus available (committed + batch;
    seen ids are skipped; the contract is ENFORCED, fail-fast like the
    non-negative-id check); old vectors are only read back for the
    few verify pairs that touch them. Returns (vec_id,
    canonical_vec_id, is_kept) over all seen vectors.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("emb"))

    def verified():
        return _lsh_ingest(
            spark,
            emb,
            out_dir,
            op="emb_ingest",
            id_col="vec_id",
            pair_cols=("vec_a", "vec_b"),
            keys={"tbl": "int", "bucket": "int"},
            stages=("emb_keys", "emb_pairs", "emb_cos"),
            build_keys=lambda fresh: multi_table_buckets(
                fresh.select("vec_id", F.col("emb").alias("embedding")), n_tables
            ),
            verify=_cosine_verify,
            score_col="sim",
            threshold=threshold,
            max_bucket=max_bucket,
            broadcast_touched_max=broadcast_touched_max,
        )

    return _min_id_clusters("emb_ingest", emb, "vec_id", verified)


def emb_contamination(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    max_bucket: int | None = None,
    n_tables: int = 3,
) -> DataFrame:
    """Cross-corpus EMBEDDING decontamination — the semantic
    complement of `text.contamination`'s n-gram check: flag training
    vectors whose embedding is a near-duplicate (cosine ≥ threshold)
    of any benchmark/eval vector, catching paraphrased leakage that
    shares no n-grams.

    Scale shape: both corpora are hyperplane-LSH bucketed with the
    SAME `multi_table_buckets` family (narrow, zero-shuffle); the
    benchmark side is SMALL by definition, so candidates are the
    (tbl, bucket) equi-join of train keys against bench keys — the
    train corpus is never self-joined and never shuffled beyond its
    key projection. Cosine verify runs only on candidates. Output:
    (vec_id, n_bench_hits, contaminated) for EVERY train vector,
    where n_bench_hits counts distinct benchmark vectors matched.

    `max_bucket` defaults to None — UNCAPPED. The boilerplate
    bucket-cap heuristic borrowed from dedup is wrong as a default in
    a safety-oriented filter: a benchmark with > cap near-identical
    vectors in one bucket would be exempted wholesale, so
    contaminated train vectors would silently pass (review finding).
    The bench side is small by definition, so the uncapped join stays
    bench-bounded; pass an explicit cap only when a degenerate
    benchmark bucket is a measured problem, and then account for the
    dropped buckets out-of-band.
    """
    t = train.select("vec_id", _as_double("embedding").alias("emb"))
    b = bench.select(
        F.col("vec_id").alias("bench_id"), _as_double("embedding").alias("bemb")
    )
    tk = multi_table_buckets(
        t.select("vec_id", F.col("emb").alias("embedding")), n_tables
    )
    bk = multi_table_buckets(
        b.select(
            F.col("bench_id").alias("vec_id"), F.col("bemb").alias("embedding")
        ),
        n_tables,
    ).select(F.col("vec_id").alias("bench_id"), "tbl", "bucket")
    if max_bucket is not None:
        bk = drop_oversize_buckets(bk, ["tbl", "bucket"], max_bucket)
    cand = (
        tk.join(F.broadcast(bk), ["tbl", "bucket"])
        .select("vec_id", "bench_id")
        .distinct()
    )
    # cand is bench-bounded (≤ |bench| × max_bucket pairs) — broadcast
    # it so the verify pass over the train corpus stays a narrow
    # broadcast join instead of shuffling every (vec_id, emb) row
    sims = (
        F.broadcast(cand).join(t, "vec_id")
        .join(F.broadcast(b), "bench_id")
        .select(
            "vec_id",
            "bench_id",
            F.round(
                _dot(F.col("emb"), F.col("bemb"))
                / (_norm(F.col("emb")) * _norm(F.col("bemb"))),
                6,
            ).alias("sim"),
        )
    )
    hits = (
        sims.filter(F.col("sim") >= threshold)
        .groupBy("vec_id")
        .agg(F.countDistinct("bench_id").alias("n_bench_hits"))
    )
    return (
        t.select("vec_id")
        .join(hits, "vec_id", "left")
        .fillna(0, ["n_bench_hits"])
        .select(
            "vec_id",
            F.col("n_bench_hits").cast("bigint").alias("n_bench_hits"),
            (F.col("n_bench_hits") > 0).alias("contaminated"),
        )
    )


def quantize_embeddings(docs_or_emb: DataFrame) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage/serving
    compression step of an embedding pipeline (4× smaller than
    float32, 8× than float64), with per-vector reconstruction error
    reported so a corpus job can gate on quality.

    Per vector: scale = max|v| / 127 EXACTLY (quantizing with a
    decimals-rounded scale underestimates it for small-magnitude
    vectors and overflows the int8 range — e.g. max|v|≈1.9e-7 rounded
    scale at 9dp gave q=190; the displayed `scale` column is rounded
    to 9 significant-digit-safe decimals only for hashing, never used
    in the math); q_i = floor(v_i / scale + 0.5) (explicit
    floor(x+0.5) rounding — identical in every engine, unlike
    bankers'-vs-half-up `round` edge cases), so q_max = floor(127.5)
    = 127 by construction; all-zero vectors quantize to zeros with
    scale 0. Pure per-row array arithmetic, zero shuffles. The
    quantized vector is emitted as a comma-joined string
    (driver-comparator-stable, like the adjacency list join).
    Output: (vec_id, scale, qvec, max_abs_err).
    """
    e = docs_or_emb.select("vec_id", _as_double("embedding").alias("emb"))
    scale = F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x))) / 127.0
    q = F.when(scale > 0, F.transform(
        F.col("emb"), lambda x: F.floor(x / scale + 0.5).cast("int")
    )).otherwise(F.transform(F.col("emb"), lambda x: F.lit(0)))
    err = F.when(scale > 0, F.round(
        F.array_max(
            F.zip_with(q, F.col("emb"), lambda qi, x: F.abs(qi * scale - x))
        ),
        6,
    )).otherwise(F.round(F.array_max(F.transform(F.col("emb"), F.abs)), 6))
    return e.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),  # display/hash only
        F.concat_ws(",", q.cast("array<string>")).alias("qvec"),
        err.alias("max_abs_err"),
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    max_bucket: int = MAX_BUCKET,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate k-NN graph over the whole corpus — the SemDeDup /
    embedding-clustering primitive (per-vector nearest neighbors, not
    just above-threshold pairs): every vector's top-k by cosine among
    the vectors sharing any of its `n_tables` LSH buckets.

    Pure composition of the gated near-dup machinery:
    `neardup_pairs(threshold=-1.0)` keeps EVERY capped-bucket
    candidate similarity (cosine ≥ −1 always holds), the pair set is
    mirrored into both directions (cosine is symmetric — computed
    once per unordered pair), and one per-vector window ranks by
    (sim desc, neighbor_id) on the 6dp-rounded sim so ordering is
    engine-stable. Vectors whose buckets all exceed `max_bucket` (or
    with no co-bucketed vector) emit no rows — the same degenerate-
    region discipline as near-dup, reported by `oversize_buckets`.

    Scale: candidates are bounded by n_tables × buckets ×
    max_bucket²; the window partitions per vector (max k·tables·cap
    rows each). Output: (vec_id, neighbor_id, rank, sim)."""
    from pyspark.sql import Window

    sims = neardup_pairs(
        embeddings, threshold=-1.0, max_bucket=max_bucket, n_tables=n_tables
    )
    sym = sims.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        "sim",
    ).unionByName(
        sims.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("neighbor_id"),
            "sim",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sym.select(
            "vec_id",
            "neighbor_id",
            F.row_number().over(w).alias("rank"),
            "sim",
        )
        .filter(F.col("rank") <= k)
    )


def semdedup(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
    sample_fraction: float = 1.0,
    max_cell: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication via k-means cluster-then-prune: cluster the corpus
    with the deterministic Lloyd quantizer (`kmeans_cells` — the same
    trained assignment the IVF gate verifies cross-engine), compute
    pairwise cosine WITHIN each cluster only, and drop every vector
    that has an ε-similar cluster-mate that outranks it.

    Two deterministic departures from the paper, both part of the
    operator contract:
    - keep rule: the paper keeps a RANDOM member per ε-group; here a
      vector is dropped iff a LOWER-vec_id cluster-mate has cosine >=
      threshold with it (min-id-wins). One-shot, not chained: the
      decision looks at raw lower-id neighbors, not surviving ones,
      so A~B, B~C, A!~C drops both B and C (the paper's ε-grouping
      has the same non-transitivity; transitive-closure semantics is
      what `emb_dedup_corpus`'s connected components provide).
    - seeding: fixed seeds (vec_id < k), no RNG — reproducible across
      engines and runs.

    Scale shape: k is the scale lever — the paper runs k ≈ 50k on
    LAION so clusters stay O(10³); within-cluster pairwise is the
    op's intrinsic Σ|c|² COMPUTE and never crosses clusters — but it
    must not be Σ|c|² DATA MOVEMENT: a relational pair join
    duplicates each vector's embedding |cell| times through the
    shuffle (measured: 100k vectors / ~400-vector cells spilled tens
    of GB and died on disk — the r7 scale check caught it), exactly
    the all-pairs materialization the paper avoids by computing each
    cluster's similarity matrix locally. So the verify stage is a
    grouped Arrow kernel (`applyInPandas` per cell — the U4
    vectorized-kernel discipline, no per-row Python): ONE shuffle
    moves each embedding ONCE to its cell's task, the cosine matrix
    is per-cell local matrix math, and only (vec_id, max_sim_lower)
    comes back. Per-pair arithmetic mirrors the SQL/oracle
    computation (dot/(|a||b|), HALF_UP-rounded to 6dp BEFORE the
    max, matching Spark's ROUND). A cell larger than `max_cell`
    fails loud with the increase-k remedy — a silently skipped cell
    would silently miss duplicates. `sample_fraction` trains Lloyd
    on a deterministic hash sample; assignment still covers every
    vector. Output: (vec_id, cell, max_sim_lower nullable — max 6dp
    cosine to any lower-id cluster-mate, threshold or not, for audit
    — is_kept)."""
    import numpy as np
    import pandas as pd

    cells, _ = kmeans_cells(
        embeddings, k=k, iters=iters, sample_fraction=sample_fraction
    )
    cells = checkpoint_df(cells)
    oversize = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cell)
        .limit(1)
        .collect()
    )
    if oversize:
        raise ValueError(
            f"semdedup: cell {oversize[0]['n']} vectors > max_cell "
            f"{max_cell}; increase k (cells should stay O(10^3))"
        )
    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))

    def _cell_sims(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        E = np.array(pdf["emb"].tolist(), dtype=np.float64)
        norms = np.sqrt((E * E).sum(axis=1))
        S = (E @ E.T) / np.outer(norms, norms)
        # Spark ROUND is HALF_UP (away from zero); np.round is
        # half-even — implement half-up so the kernel agrees with
        # the relational/oracle rounding
        S6 = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
        # max over the strictly-lower-id rows of each column; the
        # min-id row has no lower neighbor -> NULL (nullable Float64,
        # NOT NaN — a NaN would survive isNull() and flip is_kept)
        tri = np.triu(np.full(S6.shape, True), k=1)
        col_max = np.where(tri, S6, -np.inf).max(axis=0)
        vals = pd.array(col_max, dtype="Float64")
        vals[~tri.any(axis=0)] = pd.NA
        return pd.DataFrame(
            {"vec_id": ids, "max_sim_lower": vals}
        )

    low = (
        cells.join(e, "vec_id")
        .groupBy("cell")
        .applyInPandas(
            _cell_sims, schema="vec_id bigint, max_sim_lower double"
        )
    )
    return (
        cells.join(low, "vec_id")
        .select(
            "vec_id",
            "cell",
            "max_sim_lower",
            (
                F.col("max_sim_lower").isNull()
                | (F.col("max_sim_lower") < F.lit(threshold))
            ).alias("is_kept"),
        )
    )


def label_centroids(embeddings: DataFrame, scale: int = 10**9) -> DataFrame:
    """Per-label mean embedding — the class-centroid table behind
    centroid classifiers, SemDeDup cluster pruning and
    nearest-class-mean labeling: one row per (label, dim) with the
    exact mean coordinate. Output: (label, dim, centroid 6dp,
    n_vectors).

    Float discipline: each coordinate is fixed-pointed to nano-units
    (round(v·1e9) → bigint) BEFORE aggregation, summed exactly as
    integers, divided once at the end — a double sum's value depends
    on partition order (the pagerank/corpus_card rule applied to
    vectors). float32 → double widening is exact, so both engines
    fix-point identical values.

    Scale shape: one posexplode (dim rows per vector — the transpose
    every elementwise aggregate needs) into a map-side-combinable
    groupBy on (label, dim); cardinality = |labels|·dims out, never
    corpus-scale."""
    d = F.posexplode(F.col("embedding")).alias("dim", "v")
    exploded = embeddings.select("label", d).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * scale).cast("long").alias("fp"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.sum("fp").alias("s"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select(
            "label",
            F.col("dim").cast("int").alias("dim"),
            F.round(
                F.col("s") / F.lit(float(scale)) / F.col("n_vectors"), 6
            ).alias("centroid"),
            F.col("n_vectors").cast("int").alias("n_vectors"),
        )
    )


def pq_codes(
    embeddings: DataFrame, m: int = 4, k: int = 4, iters: int = 2
) -> tuple[DataFrame, dict]:
    """Product-quantization codes (Jégou et al. 2011) — the memory
    side of web-scale ANN: split each d-dim vector into m contiguous
    subspaces and vector-quantize each with its OWN deterministic
    Lloyd codebook (`kmeans_cells`, fixed vec_id<k seeds, no RNG), so
    a vector compresses to m small codes (d·4 bytes → m·log2(k) bits;
    the codebooks are m·k·(d/m) floats — catalog-sized). At 100 TB
    the PQ code table is what fits in memory when raw vectors don't;
    asymmetric-distance search over it is `pq_topk`.

    d must be divisible by m (fail-loud — silent ragged subspaces
    would desynchronize the codebooks from the oracle); mixed vector
    lengths fail loud the same way. Each subspace trains
    independently on its slice (m bounded driver iterations, each
    the audited kmeans_cells recipe — the per-subspace codebooks live
    in the driver like every centroid table in this engine: m·k
    short lists, broadcast-sized by construction). Returns
    (codes (vec_id, sub, code), books {sub: {code: centroid}})."""
    base = embeddings.select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    dims = base.agg(
        F.min(F.size("emb")).alias("lo"), F.max(F.size("emb")).alias("hi")
    ).collect()[0]
    if dims["lo"] is None:
        raise ValueError("pq_codes: empty embedding input")
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            f"pq_codes: mixed vector lengths {dims['lo']}..{dims['hi']}"
        )
    d = dims["lo"]
    if d % m != 0:
        raise ValueError(f"pq_codes: dim {d} not divisible by m={m}")
    w = d // m
    parts = []
    books: dict = {}
    for j in range(m):
        sub = base.select(
            "vec_id", F.slice("emb", j * w + 1, w).alias("embedding")
        )
        assigned, cents = kmeans_cells(sub, k=k, iters=iters)
        books[j] = cents
        parts.append(
            assigned.select(
                "vec_id",
                F.lit(j).alias("sub"),
                F.col("cell").cast("int").alias("code"),
            )
        )
    codes = parts[0]
    for p in parts[1:]:
        codes = codes.unionByName(p)
    return codes, books


def pq_topk(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    n_queries: int = 8,
    topk: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the
    query side of product quantization: the query stays EXACT, every
    database vector is its m codes, and the approximate distance is
    Σ_sub d²(query_sub, codebook[sub][code]) read from an
    (n_queries·m·k)-row lookup table. The scan is linear in codes
    (N·m rows joined against the broadcast LUT + one sum — the
    IVF cell-restriction composes in front of it at scale exactly
    like kmeans_ivf_topk's probe).

    Determinism contract: per-sub distances are rounded to 6dp (the
    engine-vs-DuckDB float tolerance every kmeans gate already
    proves) and converted to exact micro-unit BIGINTs, so the
    cross-subspace SUM is integer — no float accumulation order
    anywhere; ranking is (adc_micro asc, vec_id asc), self-matches
    excluded like cosine_topk. Output: (query_id, vec_id, rank,
    approx_d2) with approx_d2 derived from the identical integer."""
    codes, books = pq_codes(embeddings, m=m, k=k, iters=iters)
    base = embeddings.select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    lut = _pq_lut(base, books, n_queries)
    return _adc_rank(codes, lut, topk)


def _pq_lut(base: DataFrame, books: dict, n_queries: int) -> DataFrame:
    """(query_id, sub, code, d2_micro) ADC lookup table — one row per
    (query, subspace, codebook entry): per-sub d² rounded 6dp (the
    proven kmeans float tolerance) then fix-pointed to micro-unit
    BIGINT so every downstream sum is exact integer."""
    w = None
    luts = []
    for j, cents in books.items():
        if w is None:
            w = len(next(iter(cents.values())))
        qe = base.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.slice("emb", j * w + 1, w).alias("qe"),
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("code"),
                    F.round(
                        F.round(_dist2(F.col("qe"), cents[c]), 6)
                        * F.lit(1_000_000.0),
                        0,
                    )
                    .cast("long")
                    .alias("d2_micro"),
                )
                for c in sorted(cents)
            ]
        )
        luts.append(
            qe.select(
                "query_id", F.lit(j).alias("sub"), F.explode(entries).alias("e")
            ).select(
                "query_id", "sub", F.col("e.code").alias("code"),
                F.col("e.d2_micro").alias("d2_micro"),
            )
        )
    lut = luts[0]
    for p in luts[1:]:
        lut = lut.unionByName(p)
    return lut


def _adc_rank(codes: DataFrame, lut: DataFrame, topk: int) -> DataFrame:
    """ADC scan + per-query rank: codes ⋈ broadcast LUT, then the
    shared sum/rank tail. Full-scan form (every query sees every
    code) — ivfpq_topk joins its restricted stream itself and shares
    only `_rank_adc_rows`, so the two ops' sum/rank semantics cannot
    drift."""
    return _rank_adc_rows(
        codes.join(F.broadcast(lut), ["sub", "code"]), topk
    )


def _rank_adc_rows(joined: DataFrame, topk: int) -> DataFrame:
    """Shared ADC tail: one integer sum per (query, vec), the
    (adc asc, vec_id asc) rank window, self excluded, approx_d2
    derived from the exact integer."""
    approx = (
        joined.filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2_micro").alias("adc_micro"))
    )
    from pyspark.sql import Window

    win = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("vec_id").asc()
    )
    return (
        approx.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "vec_id",
            F.col("rank").cast("int").alias("rank"),
            (F.col("adc_micro") / F.lit(1_000_000.0)).alias("approx_d2"),
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    coarse_k: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    n_queries: int = 8,
    topk: int = 5,
) -> DataFrame:
    """IVF+PQ — the composition that actually runs at 100 TB (the
    FAISS IVFADC layout, Jégou et al. 2011 §V): a coarse Lloyd
    quantizer buckets the corpus into cells, each query probes only
    its `nprobe` nearest cells, and the PQ-ADC scan runs over the
    probed cells' codes instead of the whole table — `pq_topk`'s
    linear scan becomes Σ(probed cell sizes), the same restriction
    `kmeans_ivf_topk` applies to exact cosine. Cell ranking is d²
    (rounded 6dp, tie to the smaller cell) against the coarse
    centroid table — a per-query k-row computation, no corpus
    contact.

    Same determinism contract as pq_topk (6dp→micro-int LUT, integer
    sums, (adc asc, vec_id asc) rank, self excluded). Recall is
    bounded by the probe: a true neighbor in an unprobed cell is
    unreachable — nprobe is the recall/cost dial, exactly as in the
    exact-cosine IVF gate. Output: (query_id, vec_id, rank,
    approx_d2)."""
    coarse_assign, coarse_cents = kmeans_cells(
        embeddings, k=coarse_k, iters=iters
    )
    codes, books = pq_codes(embeddings, m=m, k=k, iters=iters)
    base = embeddings.select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    cell_d = F.array(
        *[
            F.struct(
                F.round(_dist2(F.col("qe"), coarse_cents[c]), 6).alias("d"),
                F.lit(c).alias("cell"),
            )
            for c in sorted(coarse_cents)
        ]
    )
    from pyspark.sql import Window

    cwin = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("cell").asc()
    )
    probed = (
        q.select("query_id", F.explode(cell_d).alias("e"))
        .select("query_id", F.col("e.d").alias("d"), F.col("e.cell").alias("cell"))
        .withColumn("crk", F.row_number().over(cwin))
        .filter(F.col("crk") <= nprobe)
        .select("query_id", "cell")
    )
    # restrict the code table per query to its probed cells: the scan
    # is Σ probed-cell sizes, not N
    cand = probed.join(
        coarse_assign.withColumnRenamed("cell", "cell"), "cell"
    ).select("query_id", "vec_id")
    lut = _pq_lut(base, books, n_queries)
    restricted = codes.join(cand, "vec_id").join(
        F.broadcast(lut), ["query_id", "sub", "code"]
    )
    return _rank_adc_rows(restricted, topk)
