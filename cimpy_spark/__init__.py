"""cimpy_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference (Canfirat98/cimpy), re-expressed Spark-first.

The reference imports CIM/CGMES RDF/XML profile files into a typed
object graph (two-pass: instantiate, then link references —
``cimpy/cimimport.py:84-372``) and exports it back per-profile
(``cimpy/cimexport.py:290-399``). This engine generalizes that to a
distributed pipeline over transcript tables:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → extract   : Arrow-batched mention detection → (subj, pred, obj) triples
      → link      : entity linking via broadcast/hash joins (+ salting)
      → canonical : connected-components canonicalization (cross-profile merge)
      → materialize: partitioned nodes/edges tables + lineage/metrics

No custom Catalyst rules are needed; every stage is declarative
DataFrame code so predicate pushdown, column pruning, AQE and
whole-stage codegen apply end to end.
"""

import functools
import os
import zipimport

__version__ = "0.1.0"


def _keep_spark_archives_read() -> None:
    """Stop `importlib.invalidate_caches()` from re-reading the
    archives under `SPARK_HOME` (symlinks resolved).

    A Python worker calls it before every task
    (`pyspark.worker_util.setup_spark_files`). Under Python 3.11 each
    call re-reads the directory of every zip on `sys.path`: the
    pyspark and py4j zips and the spark-core jar, 0.12-0.32 s per task
    on a 4-core VM. Those archives do not change while a worker runs;
    any other archive, such as an `addPyFile` zip, is still re-read.
    Installed once per process on import: in a worker, when it first
    unpickles a function of this package."""
    home = os.environ.get("SPARK_HOME")
    invalidate = zipimport.zipimporter.invalidate_caches
    if not home or hasattr(invalidate, "__wrapped__"):
        return
    root = os.path.join(os.path.realpath(home), "")

    @functools.wraps(invalidate)
    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(root):
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_spark_archives_read()
