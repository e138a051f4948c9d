"""Multi-table LSH recall evidence: fraction of the ORGANIC planted
near-dup pairs (cos ≈ 0.98, fixtures/organic.py) recovered by
`neardup_pairs` at 1..L hyperplane tables — the BENCH.md round-4
recall table, measured rather than asserted.

The planted pairs are (base, base + 1_000_000) for vec_id%11==2, so
ground truth is closed-form; recall = found / planted. Expected
analytically: per-plane agreement p = 1 - arccos(0.98)/pi ~= 0.936,
per-table p^8 ~= 0.59, L tables 1-(1-p^8)^L.

Usage: python tools/neardup_recall.py   (env: SF_DIR, MAX_TABLES)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
MAX_TABLES = int(os.environ.get("MAX_TABLES", "3"))


def main() -> None:
    from cimpy_spark.session import get_spark
    from cimpy_spark.fixtures.organic import (
        ORGANIC_COS_THRESHOLD,
        organic_embeddings,
    )
    from cimpy_spark.functions import similarity as SIM

    spark = get_spark("neardup-recall", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    oe = organic_embeddings(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ).cache()
    planted = {
        r["vec_id"] - 1_000_000
        for r in oe.filter(
            (oe.vec_id >= 1_000_000) & (oe.vec_id < 2_000_000)
        ).collect()
    }
    per_level = {}
    for tables in range(1, MAX_TABLES + 1):
        pairs = SIM.neardup_pairs(
            oe, threshold=ORGANIC_COS_THRESHOLD, n_tables=tables
        )
        found = {
            r["vec_a"]
            for r in pairs.collect()
            if r["vec_b"] == r["vec_a"] + 1_000_000
        }
        per_level[tables] = round(len(found & planted) / len(planted), 3)
    print(
        json.dumps(
            {
                "metric": "neardup_planted_recall_by_tables",
                "value": per_level[MAX_TABLES],
                "unit": "recall",
                "per_tables": per_level,
                "planted_pairs": len(planted),
                "threshold": ORGANIC_COS_THRESHOLD,
                "sf_dir": SF_DIR,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
