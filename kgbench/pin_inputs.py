"""Record the row count and hash of every generated input per seed.

    python3 kgbench/pin_inputs.py FIRST_SEED LAST_SEED

Run it from the repository root. It rewrites ``kgbench/pins.json`` for
seeds FIRST_SEED..LAST_SEED of every workload, keeping other entries.
``run.py`` refuses to run a pinned seed whose inputs differ, so a change
to the fixture generator cannot silently change a workload; re-pin only
when such a change is meant, and measure a new baseline after it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv) -> int:
    first, last = int(argv[0]), int(argv[1])
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from cimpy_spark.session import get_spark
    from kgbench import grade
    from kgbench.workloads import WORKLOADS

    path = HERE / "pins.json"
    pins = json.loads(path.read_text())
    work = HERE / "_work" / f"pins-p{os.getpid()}"
    spark = get_spark("kgbench-pins", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for seed in range(first, last + 1):
            for name, cls in WORKLOADS.items():
                wl = cls(spark, str(work), seed, None)
                wl.write_inputs()
                pins[grade.pin_key(name, seed)] = {k: grade.input_digest(p) for k, p in wl.inputs().items()}
                shutil.rmtree(work)
            print(f"pinned seed {seed}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    path.write_text(json.dumps(dict(sorted(pins.items())), indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
