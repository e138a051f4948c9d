"""spark-submit entry point for the KG pipeline (north_rule: runs via
``spark-submit --py-files`` on multi-executor clusters).

Package + submit:

    zip -r cimpy_spark.zip cimpy_spark
    spark-submit --py-files cimpy_spark.zip run_kg.py \
        --input /root/testdata/sf0.01 --out /tmp/kg_out

Locally (sandbox) it also runs standalone:

    python run_kg.py --input /root/testdata/sf0.001 --out /tmp/kg_out

`--input` is either a directory containing `events.parquet` (the
transcripts are derived deterministically) or a parquet directory of
transcripts with the input_hint schema (pass --transcripts). Re-runs
resume from the last committed stage; to rebuild, remove the --out dir.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--transcripts", action="store_true",
                    help="input is a transcripts parquet dir, not an sf dir")
    ap.add_argument("--increment", action="store_true",
                    help="batch-incremental: extract only unseen conversations")
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session already exists; standalone we build one
    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from cimpy_spark.session import get_spark

        spark = get_spark("cimpy-spark-kg", cores=args.cores)

    from cimpy_spark.fixtures.events_transcripts import transcripts_from_events
    from cimpy_spark.operators.materialize import (
        ingest_increment,
        roundtrip_check,
        run_pipeline,
    )
    from cimpy_spark.plans.lineage import LineageLedger

    if args.transcripts:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = transcripts_from_events(spark, args.input)

    if args.increment:
        ingest_increment(spark, transcripts, args.out)
    else:
        run_pipeline(spark, transcripts, args.out)
    ok = roundtrip_check(spark, args.out)
    ledger = LineageLedger(args.out)
    print(
        json.dumps(
            {
                "out": args.out,
                "roundtrip_fixpoint": ok,
                "stages": {
                    s: {"rows_out": r["rows_out"], "partitions": r["partitions"]}
                    for s, r in ledger.records().items()
                },
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
