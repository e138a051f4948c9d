"""Pure-multiprocessing scaling control — the hardware's own ceiling.

Runs the SAME parse kernel the engine uses (the Arrow batch parser
`extract._parse_arrow_batch` that `extract_triples` runs through
`mapInArrow`) over the same fixture texts, cut into `pa.RecordBatch`
chunks, with plain `multiprocessing` — no Spark, no JVM, no
JVM↔Python Arrow transfer — at two pinned parallelism levels.
Whatever efficiency THIS loses 4→16 is the single-box memory-system
ceiling; the Spark pipeline cannot be
expected to beat it, and the honest scaling claim is "Spark tracks
the hardware curve" (BENCH.md). Re-run whenever the fixture's byte
profile changes (longer texts = more DRAM pressure per turn).

Usage: python tools/mp_ceiling.py    (env: SF_DIR, REP, LEVELS)
Prints one JSON line per level and a summary ratio.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("REP", "10"))
N_CHUNKS = int(os.environ.get("N_CHUNKS", "128"))
LEVELS = [int(x) for x in os.environ.get("LEVELS", "4,16").split(",")]

_chunks = None  # set in parent before fork; children inherit via COW


def _work(i: int) -> int:
    from cimpy_spark.operators.extract import _parse_arrow_batch

    return sum(b.num_rows for b in _parse_arrow_batch(_chunks[i]))


def main() -> None:
    global _chunks
    import duckdb
    import pyarrow as pa

    from cimpy_spark.fixtures.events_transcripts import transcripts_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    base = con.execute(transcripts_sql("events")).arrow().select(
        ["conv_id", "turn_idx", "role", "text"]
    )
    table = pa.concat_tables([base] * REP).combine_chunks()
    n_turns = table.num_rows
    _chunks = table.to_batches(max_chunksize=-(-n_turns // N_CHUNKS))

    results = {}
    # pin from the CPUs we are actually PERMITTED to use (a restricted
    # cpuset need not contain 0..cores-1), and restore the original
    # mask afterwards so the last level's pin doesn't leak
    orig_mask = os.sched_getaffinity(0)
    avail = sorted(orig_mask)
    try:
        for cores in LEVELS:
            if cores > len(avail):
                print(
                    json.dumps({"skipped_level": cores, "avail_cpus": len(avail)})
                )
                continue
            os.sched_setaffinity(0, set(avail[:cores]))
            with mp.Pool(cores) as pool:
                pool.map(_work, range(len(_chunks)))  # warmup: fork + import + JIT
                times = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    n_triples = sum(pool.map(_work, range(len(_chunks))))
                    times.append(time.perf_counter() - t0)
            sec = statistics.median(times)
            results[cores] = {
                "cores": cores,
                "turns": n_turns,
                "triples": n_triples,
                "sec": round(sec, 3),
                "turns_per_sec": round(n_turns / sec, 1),
                "runs": [round(t, 3) for t in times],
            }
            print(json.dumps(results[cores]))
    finally:
        os.sched_setaffinity(0, orig_mask)

    if len(LEVELS) == 2 and all(c in results for c in LEVELS):
        lo, hi = LEVELS
        eff = round(
            results[hi]["turns_per_sec"]
            / results[lo]["turns_per_sec"]
            / (hi / lo),
            3,
        )
        print(
            json.dumps(
                {
                    "metric": f"mp_ceiling_{lo}_to_{hi}",
                    "value": eff,
                    "unit": "ratio",
                    "sf_dir": SF_DIR,
                    "rep": REP,
                }
            )
        )


if __name__ == "__main__":
    main()
