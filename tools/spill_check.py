"""Spill-correctness evidence (ROADMAP gap: "spilling / memory-
pressure untested at sandbox scale"): run the same `dedup_corpus` job
twice on the same staged corpus — once with generous memory, once in
a memory-starved JVM — and verify (a) the starved run actually
SPILLED (read from the Spark UI REST API: stage-level
memoryBytesSpilled / diskBytesSpilled), and (b) both runs produce the
IDENTICAL result hash. That is the property a 100 TB job needs from
the engine: memory pressure changes the physical execution (external
sort/aggregation spill paths), never the answer.

The corpus is the scale harness's documents input (scaling_bench.py)
at x40, 200k docs from sf0.1, staged once under a temporary directory.
Each level runs in its own subprocess (driver memory is a JVM-launch
setting). Usage: python tools/spill_check.py — prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scaling_bench as SB  # noqa: E402
from cimpy_spark.functions.dedup import dedup_corpus  # noqa: E402
from cimpy_spark.session import get_spark  # noqa: E402

SIZES = SB.Sizes().scaled(0.4)  # the harness's x100 documents at x40
UI_PORT = 4057


def run_level(mem: str, root: str) -> dict:
    spark = get_spark(
        f"spill-{mem}",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": mem,
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            # shrink execution memory so the starved level exercises
            # the external-spill paths rather than just a smaller heap
            "spark.memory.fraction": "0.2" if mem.endswith("m") else "0.6",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = SB.load(spark, "docs", root).docs.select("doc_id", "text")
    h, n = SB.force(dedup_corpus(docs))

    # read the ACTUAL bound UI url — Spark silently binds port+1 on
    # conflict, and querying the configured port could read another
    # application's metrics (review finding)
    ui = spark.sparkContext.uiWebUrl
    app = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications")
    )[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    spilled_mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    spilled_disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    spark.stop()
    return {
        "driver_mem": mem,
        "rows": n,
        "result_hash": h,
        "memory_bytes_spilled": spilled_mem,
        "disk_bytes_spilled": spilled_disk,
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--level":
        print("RESULT " + json.dumps(run_level(sys.argv[2], sys.argv[3])))
        return

    root = tempfile.mkdtemp(prefix="spill_check_")
    try:
        spark = get_spark("spill-stage")
        spark.sparkContext.setLogLevel("ERROR")
        SB.stage(spark, "docs", SIZES, root)
        spark.stop()
        results = {}
        for mem in ("8g", "900m"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--level", mem, root],
                capture_output=True,
                text=True,
                timeout=1800,
            )
            line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
            if not line:
                print(proc.stdout[-3000:], proc.stderr[-3000:], file=sys.stderr)
                raise RuntimeError(f"level {mem} failed")
            results[mem] = json.loads(line[-1][len("RESULT "):])
    finally:
        shutil.rmtree(root, ignore_errors=True)

    starved = results["900m"]
    roomy = results["8g"]
    print(json.dumps({
        "metric": "dedup_spill_correctness",
        "value": int(
            starved["result_hash"] == roomy["result_hash"]
            and starved["rows"] == roomy["rows"]
        ),
        "unit": "bool",
        "hash_equal": starved["result_hash"] == roomy["result_hash"],
        "starved_spilled_disk_bytes": starved["disk_bytes_spilled"],
        "starved_spilled_mem_bytes": starved["memory_bytes_spilled"],
        "roomy_spilled_disk_bytes": roomy["disk_bytes_spilled"],
        "levels": results,
        "doc_rep": SIZES.doc_rep,
        "sf_dir": SB.SF_DIR,
    }))


if __name__ == "__main__":
    main()
