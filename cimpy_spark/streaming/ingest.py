"""Structured Streaming ingestion for the KG pipeline.

The reference is batch-only (profile files on disk); its incremental
axis is "more files later" (cimpy/cimimport.py:93,197 loops over
files). Spark-first, the same axis is a file-source stream: new
transcript partitions land in a directory (or Iceberg snapshots) and
flow through the *identical* extraction operator — ``extract_triples``
is narrow and stream-safe, so batch and streaming share one code path
(no semantic drift between the two).

Downstream linking/canonicalization stay batch stages over the
committed triple snapshot (resume via committed snapshots,
cimpy_spark/plans): CC is iterative and not expressible as a single
always-incremental stream, so each micro-batch appends its triples
and recomputes the derived stages with the batch pipeline's own code.
The streaming surface here covers ingestion + per-window monitoring
aggregates with watermarked late-data handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cimpy_spark.operators.extract import extract_triples

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of transcript parquet partitions."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_extract(transcripts: DataFrame) -> DataFrame:
    """Streaming triple extraction — same Arrow UDF as batch."""
    return extract_triples(transcripts)


def windowed_mention_counts(
    transcripts: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-window, per-role mention counts with a watermark bounding
    late-data state (monitoring analog of the reference's grouped
    import accounting, cimpy/cimimport.py:41-66)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
        )
    )


def conversation_state(transcripts: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``
    (beyond the reference, which is batch-only): per-conversation
    running state — turns seen, mentions seen, highest turn index —
    maintained across micro-batches and emitted as an update row per
    batch. Counts inside the state function are vectorized pandas over
    each group batch (no per-row Python).

    State is keyed by conv_id (the stream's natural partitioning);
    at 10^12-turn scale the state store holds one tiny row per live
    conversation, and updates are monotone — so the FINAL state per
    conversation equals the batch aggregate, which is how the oracle
    gates it (`stream_conv_state`)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, n_turns long, n_mentions long, max_turn_idx int"
    state_schema = "n_turns long, n_mentions long, max_turn_idx int"

    def update(key, pdfs, state: GroupState):
        n_turns, n_mentions, max_turn = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_mentions += int(pdf["text"].str.count("«[^«»]*»").sum())
            if len(pdf):
                max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_mentions, max_turn))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_mentions": [n_mentions],
                "max_turn_idx": [max_turn],
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_ingest(spark, input_dir: str, out_dir: str):
    """Streaming KG maintenance end-to-end: each micro-batch of
    transcript files flows through the SAME batch-incremental ingest
    (extract only unseen conversations, append-only triples, keyed
    header merge, then `run_pipeline`'s derived stages recomputed over
    the whole snapshot) via ``foreachBatch`` — the Spark pattern for
    transactional/stateful sinks that Structured Streaming can't
    express declaratively.

    Arrival invariant: a conversation must arrive atomically within
    one micro-batch (stage input files partitioned by conv_id; the
    Iceberg-snapshot analog of 'a profile file arrives whole') —
    ingest_increment's seen-conversation skip assumes a conversation
    is never extended after first sight. The bounded drain
    (availableNow) leaves the committed snapshot equal to a single
    batch run over all input (equivalence-tested)."""
    from cimpy_spark.operators.materialize import ingest_increment

    def _sink(batch_df, _batch_id: int):
        ingest_increment(spark, batch_df, out_dir)

    q = (
        stream_transcripts(spark, input_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", f"{out_dir}/_stream_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


LATE_MOD = 37
LATE_SALT = "late"


def stage_late_batches(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_batches: int = 4,
    late_mod: int = LATE_MOD,
) -> int:
    """Stage a deterministic micro-batch feed with PLANTED late
    arrivals for the watermark-drop gate (`stream_late_data`):

    - rows ranked by (ts, conv_id, turn_idx) and cut into `n_batches`
      equal batches — within the natural arrival order, so no row is
      accidentally late across a batch boundary (batch i+1's earliest
      ts ≥ batch i-1's max, hence its window end > any watermark
      derivable from batches ≤ i-1);
    - rows of batch 0 whose md5 bucket (the hash_split family) is 0
      mod `late_mod` are MOVED to the LAST batch: they arrive ≥ 2
      batches after the watermark passed their window, so Spark drops
      them under EITHER of its two watermark values (the late-row
      filter uses a watermark one batch STALER than the eviction
      watermark — measured on this pyspark: a row arriving in the
      very next batch after its window closed is NOT yet dropped;
      the ≥2-batch construction makes the oracle independent of that
      lag);
    - one trailing sentinel file (ts = max + 1 hour) advances the
      final watermark past every real window so append mode emits
      them all; the sentinel's own window stays unemitted by the
      same rule.

    One parquet FILE per batch with strictly increasing mtimes, so
    the file source (maxFilesPerTrigger=1, oldest-first) replays
    exactly this batch sequence. The global rank is a test-harness
    construction (single-partition window) — the product path is the
    stream itself, not this staging. Returns the file count."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from cimpy_spark.functions.text import _md5_bucket

    w = Window.orderBy("ts", "conv_id", "turn_idx")
    n_total = transcripts.count()
    ranked = transcripts.select(
        "*",
        (F.row_number().over(w) - 1).alias("_rk"),
        F.concat_ws(
            "#", F.col("conv_id"), F.col("turn_idx").cast("string")
        ).alias("_rid"),
    ).select(
        "*",
        F.expr(f"(_rk * {n_batches}) div {n_total}").alias("_batch"),
        (_md5_bucket(LATE_SALT, late_mod, "_rid") == 0).alias("_late"),
    )
    cols = [c for c in transcripts.columns]
    os.makedirs(out_dir, exist_ok=True)

    def _write_one(i: int, df: DataFrame) -> None:
        tmp = f"{out_dir}/_tmp{i}"
        df.select(*cols).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{out_dir}/b{i:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)

    for i in range(n_batches):
        if i < n_batches - 1:
            batch = ranked.filter(
                (F.col("_batch") == i) & ~((F.col("_batch") == 0) & F.col("_late"))
            )
        else:
            batch = ranked.filter(
                (F.col("_batch") == i)
                | ((F.col("_batch") == 0) & F.col("_late"))
            )
        _write_one(i, batch)
    max_ts = transcripts.agg(F.max("ts").alias("m")).collect()[0]["m"]
    import datetime as _dt

    sentinel = spark.createDataFrame(
        [("sentinel", 0, "sentinel", "", None, max_ts + _dt.timedelta(hours=1))],
        TRANSCRIPT_SCHEMA,
    )
    _write_one(n_batches, sentinel)
    return n_batches + 1


def run_to_memory_sink(
    stream: DataFrame, name: str, mode: str = "append", checkpoint: str | None = None
):
    """Drain a bounded file stream into an in-memory table (test/dev
    helper); returns the query after processing all available data."""
    w = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return q


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    state_dir: str,
    threshold: float = 0.8,
    max_files_per_trigger: int = 4,
):
    """Streaming corpus-dedup maintenance — the training-data mirror
    of `stream_ingest`: each micro-batch of document files (a) appends
    to the committed corpus table and (b) flows through the SAME
    batch-incremental `dedup_ingest` against it, so new documents are
    signed once, only touched LSH buckets re-pair, and the
    verified-Jaccard cache carries across micro-batches.

    The corpus table under `corpus_dir` stands in for the Iceberg
    documents table batches arrive into (at scale the stream source
    IS that table's snapshots); `dedup_ingest` reads old text back
    only for verify pairs that touch an old document. The bounded
    drain (availableNow) leaves the committed dedup state equal to a
    single one-shot `dedup_corpus` over all input
    (equivalence-tested, same discipline as `stream_ingest`).

    Arrival invariant: a doc_id arrives exactly once across the
    stream (append-only corpus — re-sends are skipped by the seen
    set, never re-verified). The corpus write enforces it under
    foreachBatch's at-least-once replay: each micro-batch lands at a
    DETERMINISTIC per-batch path with mode('overwrite')
    (`_corpus_batch_write`), so a crash between the corpus write and
    the stream checkpoint commit re-overwrites the same dir on replay
    instead of appending duplicate rows — duplicated text would
    inflate later Jaccard verifies (shingle rows count per doc) and
    could push a below-threshold pair into a false merge."""
    from cimpy_spark.functions.dedup import dedup_ingest

    def _sink(batch_df, batch_id: int):
        _corpus_batch_write(batch_df, corpus_dir, batch_id)
        dedup_ingest(
            spark,
            read_corpus(spark, corpus_dir),
            state_dir,
            threshold=threshold,
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", f"{state_dir}/_stream_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _corpus_batch_write(batch_df, corpus_dir: str, batch_id: int) -> None:
    """Idempotent micro-batch append: the batch id names the target
    dir and the write overwrites it, so an at-least-once replay of
    the same batch converges to the same bytes (the Iceberg analog is
    a batch-id-keyed idempotent append commit)."""
    batch_df.write.mode("overwrite").parquet(
        f"{corpus_dir}/batch_{batch_id:09d}"
    )


def read_corpus(spark: SparkSession, corpus_dir: str):
    """Reader over all committed per-batch corpus dirs."""
    return (
        spark.read.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(corpus_dir)
    )
