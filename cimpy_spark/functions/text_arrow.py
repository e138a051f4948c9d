"""Arrow-kernel variants of the two heaviest text-curation operators.

`text.repetition_score` and `text.contamination` are compute-bound on
word-n-gram construction: with pure column expressions they cost
51-63s / 45-63s per 500k docs (BENCH.md round-5 table) — the gram
HOFs dominate, not the plan (both already have the shuffle-minimal
shape). ROADMAP.md named the next lever: an Arrow kernel like the
extraction parser (operators/extract.py:173), not more plan surgery.

These `mapInArrow` kernels reproduce the SQL paths' results
BIT-FOR-BIT (pytest equivalence on fixture + organic + adversarial
corpora, plus hypothesis fuzz; both engines also share the same
DuckDB oracle gates in the driver contract) using pyarrow C++ string
kernels + vectorized NumPy — no per-row Python, no pandas
materialization. Both are narrow (zero exchanges): `mapInArrow` maps
partitions in place, so the 100 TB story is unchanged — scan-local
compute, output rows ≪ input bytes.

Tokenization parity notes (pinned by tests/test_text_arrow.py):
- Spark `trim` strips SPACES only → `pc.utf8_trim(text, " ")`.
- Spark `split(col, "\\s+")` is Java `Pattern.split(limit=-1)`:
  Java's `\\s` is the ASCII class ``[ \\t\\n\\x0b\\f\\r]`` (RE2's
  `\\s` lacks ``\\x0b``, Python's is Unicode — so the class is spelled
  out), and leading/trailing empty fragments are KEPT ("\\ta" →
  ["", "a"], "" → [""]); `pc.split_pattern_regex` matches this.
- Gram strings are `concat_ws(" ", w_i..w_{i+n-1})`; words contain no
  whitespace, so tuple equality == string equality and the kernels
  may compare dictionary codes instead of building gram strings
  (repetition) or join slices element-wise (contamination).
- Spark `round(x, 6)` on DOUBLE is Java
  `BigDecimal.valueOf(x).setScale(6, HALF_UP)` — i.e. HALF_UP on the
  SHORTEST-REPR decimal of x, which Python mirrors as
  `Decimal(repr(x)).quantize(6, ROUND_HALF_UP)` (both languages print
  shortest round-trip decimals).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import lru_cache
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Java regex \s, exactly (ASCII five + vertical tab).
_JAVA_WS = "[ \t\n\x0b\f\r]+"

_SIX = Decimal("0.000001")


def _split_words(text: pa.Array) -> pa.Array:
    """list<string> of whitespace-split words, bit-identical to
    Spark's `split(trim(text), "\\s+")` (see module docstring)."""
    return pc.split_pattern_regex(pc.utf8_trim(text, " "), _JAVA_WS)


def _flat_words(batch: pa.RecordBatch):
    """(flat words, parent row index per word) for a (doc_id, text)
    batch. Null text behaves like empty text (the SQL paths emit the
    same zero-gram result either way)."""
    text = batch.column("text")
    if text.null_count:
        text = text.fill_null("")
    words = _split_words(text)
    flat = pc.list_flatten(words)
    parents = pc.list_parent_indices(words).to_numpy(zero_copy_only=False)
    return flat, parents


@lru_cache(maxsize=65536)
def _round6_frac(dup: int, cnt: int) -> float:
    """Spark `round(dup * 1.0 / cnt, 6)` (HALF_UP on the double's
    shortest decimal repr). Cached: distinct (dup, cnt) pairs per
    batch are bounded by doc length, not doc count."""
    return float(
        Decimal(repr(dup / cnt)).quantize(_SIX, rounding=ROUND_HALF_UP)
    )


def _dup_fracs(codes: np.ndarray, parents: np.ndarray, n: int, n_rows: int):
    """Per-doc duplicate-n-gram fraction over dictionary-encoded words.

    A doc's n-grams are the consecutive code n-tuples whose endpoints
    share a parent (parents are nondecreasing, so equal endpoints ⇒
    the whole window is in-doc). dup = adjacent-equal pairs after
    sorting the doc's grams — the same quantity the SQL fold counts
    (sort groups equal grams adjacently; the sort ORDER differs from
    the string sort but the group sizes, hence the count, do not).
    Everything is one lexsort + bincounts — no per-doc loop.
    """
    if len(codes) < n:
        return np.zeros(n_rows, dtype=np.float64)
    valid = parents[: 1 - n] == parents[n - 1 :]
    p = parents[: 1 - n][valid]
    keys = [codes[j : len(codes) - (n - 1) + j][valid] for j in range(n)]
    cnt = np.bincount(p, minlength=n_rows)
    if len(p) == 0:
        return np.zeros(n_rows, dtype=np.float64)
    order = np.lexsort(tuple(reversed(keys)) + (p,))
    ps = p[order]
    eq = ps[1:] == ps[:-1]
    for k in keys:
        ks = k[order]
        eq &= ks[1:] == ks[:-1]
    dup = np.bincount(ps[1:][eq], minlength=n_rows)
    out = np.zeros(n_rows, dtype=np.float64)
    nz = np.flatnonzero(cnt)
    out[nz] = [_round6_frac(int(d), int(c)) for d, c in zip(dup[nz], cnt[nz])]
    return out


def repetition_score_arrow(docs: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Arrow-kernel `text.repetition_score` — identical output
    (same columns, same rounded doubles, same `repetitive` flag).

    One dictionary-encode + one lexsort per (batch, n) replaces the
    SQL path's per-row sorted-gram folds; measured ~55s → seconds per
    500k docs (scaling_bench.py repetition_score_arrow, BENCH.md). Narrow plan:
    project → MapInArrow, zero exchanges."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n_rows = batch.num_rows
            flat, parents = _flat_words(batch)
            codes = pc.dictionary_encode(flat).indices.to_numpy(
                zero_copy_only=False
            )
            f2 = _dup_fracs(codes, parents, 2, n_rows)
            f3 = _dup_fracs(codes, parents, 3, n_rows)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").cast(pa.int64()),
                    pa.array(f2, type=pa.float64()),
                    pa.array(f3, type=pa.float64()),
                    pa.array(
                        (f2 >= threshold) | (f3 >= threshold),
                        type=pa.bool_(),
                    ),
                ],
                names=[
                    "doc_id",
                    "dup_2gram_frac",
                    "dup_3gram_frac",
                    "repetitive",
                ],
            )

    return docs.select("doc_id", "text").mapInArrow(
        gen,
        schema="doc_id bigint, dup_2gram_frac double, "
        "dup_3gram_frac double, repetitive boolean",
    )


def contamination_arrow(train: DataFrame, bench: DataFrame, n: int = 5) -> DataFrame:
    """Arrow-kernel `text.contamination` — identical output
    (doc_id, n_hit_grams, contaminated) for every training doc.

    The distinct benchmark grams are collected once (the bench side is
    small by definition — it is the eval suite) and shipped to
    executors as a plain Spark broadcast of RAW strings; each task
    probes them with `pc.is_in` (an Arrow C++ hash set — exact string
    equality, so there is no hash-collision re-verify step to begin
    with). Train-side grams are built by element-wise joining shifted
    slices of the flattened word array — C++ kernels, no Python
    strings — and only the HITS (a tiny fraction) reach NumPy for the
    per-doc distinct count. Narrow: scan → MapInArrow, zero exchanges
    on the corpus.

    Scale trade vs the SQL path: this broadcasts raw gram strings
    (~80 B each), the SQL path broadcasts xxhash64s (8 B) and
    re-verifies — at an eval suite of ~10M 13-grams the raw broadcast
    is ~1 GB/executor, so prefer `text.contamination` there and this
    kernel below it; both are driver-gated against the same oracle.
    """
    from cimpy_spark.functions.text import shingle_array

    bench_grams = [
        r["gram"]
        for r in bench.select(
            F.explode(shingle_array(n)).alias("gram")
        )
        .distinct()
        .collect()
    ]
    bc = train.sparkSession.sparkContext.broadcast(bench_grams)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bench_arr = pa.array(bc.value, type=pa.string())
        for batch in batches:
            n_rows = batch.num_rows
            flat, parents = _flat_words(batch)
            hits = np.zeros(n_rows, dtype=np.int64)
            if len(flat) >= n:
                w = len(flat) - (n - 1)
                valid = np.flatnonzero(parents[: 1 - n] == parents[n - 1 :])
                if len(valid):
                    take = pa.array(valid)
                    slices = [
                        pc.take(flat.slice(j, w), take) for j in range(n)
                    ]
                    grams = pc.binary_join_element_wise(*slices, " ")
                    mask = pc.is_in(grams, value_set=bench_arr).to_numpy(
                        zero_copy_only=False
                    )
                    hit_pos = np.flatnonzero(mask)
                    if len(hit_pos):
                        hit_codes = (
                            pc.dictionary_encode(pc.take(grams, pa.array(hit_pos)))
                            .indices.to_numpy(zero_copy_only=False)
                        )
                        hit_parents = parents[valid][hit_pos]
                        # distinct (doc, gram) pairs — shingle_array
                        # is the DISTINCT gram view
                        pairs = np.unique(
                            np.stack([hit_parents, hit_codes]), axis=1
                        )
                        hits = np.bincount(
                            pairs[0], minlength=n_rows
                        ).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").cast(pa.int64()),
                    pa.array(hits, type=pa.int64()),
                    pa.array(hits > 0, type=pa.bool_()),
                ],
                names=["doc_id", "n_hit_grams", "contaminated"],
            )

    return train.select("doc_id", "text").mapInArrow(
        gen,
        schema="doc_id bigint, n_hit_grams bigint, contaminated boolean",
    )


# Multipliers for the two positional-polynomial gram-hash streams
# (odd -> invertible mod 2^64, so consecutive-word structure cannot
# cancel; two independent streams make the pair 128-bit-equivalent).
_GRAM_P1 = np.uint64(0x9E3779B97F4A7C15)
_GRAM_P2 = np.uint64(0xC2B2AE3D27D4EB4F)


def gram_keys_arrow(docs: DataFrame, n: int = 10) -> DataFrame:
    """(doc_id, pos, h1, h2) hashed word-n-gram positions — the Arrow
    front end of `text.dup_spans`: the SQL path's gram construction
    (an interpreted concat_ws HOF per position) dominates its cost,
    and no gram STRING is ever needed downstream, only a
    collision-resistant identity. Here each DISTINCT word in a batch
    is md5-hashed once into two 64-bit streams (Python loop over the
    dictionary only — thousands of words, not millions of positions)
    and every gram key is a positional polynomial of the word hashes
    (vectorized uint64 ops, wrap-around multiply). Content-based, so
    identical grams collide to identical keys across batches,
    partitions and corpora — the cross-engine requirement is only
    equal-gram <-> equal-key, which the shared relational tail turns
    into the same spans the oracle derives from md5 gram strings.

    Narrow plan: project -> MapInArrow, zero exchanges; one output
    row per word position (the same stream the SQL path explodes),
    int64 keys instead of gram strings."""
    import hashlib

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids = batch.column("doc_id").cast(pa.int64()).to_numpy(
                zero_copy_only=False
            )
            flat, parents = _flat_words(batch)
            empty = pa.RecordBatch.from_arrays(
                [
                    pa.array([], type=pa.int64()),
                    pa.array([], type=pa.int32()),
                    pa.array([], type=pa.int64()),
                    pa.array([], type=pa.int64()),
                ],
                names=["doc_id", "pos", "h1", "h2"],
            )
            if len(flat) < n:
                yield empty
                continue
            d = pc.dictionary_encode(flat)
            codes = d.indices.to_numpy(zero_copy_only=False)
            wh = np.empty((len(d.dictionary), 2), dtype=np.uint64)
            for i, w in enumerate(d.dictionary.to_pylist()):
                dg = hashlib.md5(w.encode()).digest()
                wh[i, 0] = int.from_bytes(dg[:8], "little")
                wh[i, 1] = int.from_bytes(dg[8:16], "little")
            valid = parents[: 1 - n] == parents[n - 1 :]
            if not valid.any():
                yield empty
                continue
            p = parents[: 1 - n][valid]
            # word index within its doc = global index - doc start
            uniq, first = np.unique(parents, return_index=True)
            starts = np.zeros(int(parents.max()) + 1, dtype=np.int64)
            starts[uniq] = first
            pos = (
                np.flatnonzero(valid) - starts[p]
            ).astype(np.int32)
            h1 = np.zeros(len(p), dtype=np.uint64)
            h2 = np.zeros(len(p), dtype=np.uint64)
            for j in range(n):
                cj = codes[j : len(codes) - (n - 1) + j][valid]
                h1 = h1 * _GRAM_P1 + wh[cj, 0]
                h2 = h2 * _GRAM_P2 + wh[cj, 1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[p], type=pa.int64()),
                    pa.array(pos, type=pa.int32()),
                    pa.array(h1.view(np.int64), type=pa.int64()),
                    pa.array(h2.view(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "pos", "h1", "h2"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        gen, schema="doc_id bigint, pos int, h1 bigint, h2 bigint"
    )


def dup_spans_arrow(
    docs: DataFrame, n: int = 10, min_count: int = 2
) -> DataFrame:
    """Arrow-kernel `text.dup_spans` — identical spans (equivalence
    pinned in tests/test_text_arrow.py): `gram_keys_arrow` front end
    + the SAME `spans_from_gram_keys` relational tail, so the two
    paths can only differ in the (internal) hash family."""
    from cimpy_spark.functions.text import spans_from_gram_keys

    return spans_from_gram_keys(
        gram_keys_arrow(docs, n=n), n=n, min_count=min_count
    )
