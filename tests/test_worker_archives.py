"""Python workers stop re-reading Spark's own archives before every
task (`cimpy_spark._keep_spark_archives_read`), and still re-read any
other archive, such as an `addPyFile` zip. Checked from inside tasks."""

from __future__ import annotations

import uuid
import zipfile


def test_workers_reread_only_archives_outside_spark_home(spark, tmp_path):
    name = f"addpy_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(_):
        import importlib
        import os
        import sys
        import time
        import zipimport

        import cimpy_spark  # noqa: F401 -- installs the hook in this worker

        value = importlib.import_module(name).VALUE
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        reread = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reread.append(path) or read(path)
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()  # what every task starts with
            cost_s = time.perf_counter() - t0
        finally:
            zipimport._read_directory = read
        in_home = [p for p in sys.path if os.path.isfile(p) and os.path.realpath(p).startswith(home)]
        yield {
            "value": value,
            "spark_archives": in_home,
            "reread_in_home": [p for p in reread if os.path.realpath(p).startswith(home)],
            "reread": [os.path.basename(p) for p in reread],
            "cost_s": cost_s,
        }

    states = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(states) == 4
    for st in states:
        assert st["value"] == 42  # the addPyFile zip imports
        assert st["spark_archives"], "no Spark archive on the worker path: nothing to check"
        assert st["reread_in_home"] == []
        assert f"{name}.zip" in st["reread"]  # still invalidated
