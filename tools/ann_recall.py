"""ANN quality evidence: recall@k of the IVF paths vs the brute-force
cosine baseline on the driver-provided embeddings table.

Recall@k = |ANN top-k ∩ exact top-k| / k averaged over queries — the
standard ANN quality metric. The brute path is the documented
correctness baseline (`cosine_topk`); this tool quantifies what the
scale paths give up at each `nprobe`, so the BENCH.md trade table is
measured, not asserted.

Usage: python tools/ann_recall.py   (env: SF_DIR, N_QUERIES, K)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
N_QUERIES = int(os.environ.get("N_QUERIES", "16"))
K = int(os.environ.get("K", "10"))


def main() -> None:
    from cimpy_spark.session import get_spark
    from cimpy_spark.functions import similarity as SIM

    spark = get_spark("ann-recall", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    n_vecs = emb.count()

    def topk_sets(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(SIM.cosine_topk(emb, n_queries=N_QUERIES, k=K))

    def recall(df) -> float:
        got = topk_sets(df)
        per_q = [
            len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
        ]
        return round(sum(per_q) / len(per_q), 4)

    results = {}
    for nprobe in (1, 2, 4):
        results[f"ivf_label_nprobe{nprobe}"] = recall(
            SIM.ivf_topk(emb, n_queries=N_QUERIES, k=K, nprobe=nprobe)
        )
        results[f"kmeans_ivf_nprobe{nprobe}"] = recall(
            SIM.kmeans_ivf_topk(emb, n_queries=N_QUERIES, topk=K, nprobe=nprobe)
        )

    print(
        json.dumps(
            {
                "metric": "ann_recall_at_k",
                "k": K,
                "n_queries": N_QUERIES,
                "n_vecs": n_vecs,
                "sf_dir": SF_DIR,
                "recall": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
