"""Dev harness approximating the driver's correctness gate: run a
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet dir, compare row count + sorted-value hash (order-insensitive,
columns sorted by name). Not used by the driver; CI convenience only.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, sf_dir: str, names: list[str] | None = None) -> bool:
    """Print one status line per selected entry — OK, MISMATCH,
    SKIPPED (a fixture file the entry needs is missing) or a rows-only
    line (no oracle) — then an OK=… MISMATCH=… SKIPPED=… tally. True
    only when every selected entry printed OK: a skip never reads as a
    pass."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb_conn(sf_dir)
    counts = {"OK": 0, "MISMATCH": 0, "SKIPPED": 0}
    selected = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        selected += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
        except FileNotFoundError as e:
            counts["SKIPPED"] += 1
            print(f"{name}: SKIPPED ({e})")
            continue
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only check, {len(srows)} rows")
            continue
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        sh = value_hash([tuple(r) for r in srows], scols)
        oh = value_hash(orows, ocols)
        status = "OK" if (sh == oh and len(srows) == len(orows)) else "MISMATCH"
        counts[status] += 1
        print(
            f"{name}: {status} spark_rows={len(srows)} oracle_rows={len(orows)} "
            f"cols={sorted(scols)} vs {sorted(ocols)}"
        )
        if status != "OK" and len(srows) and len(orows):
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = {"|".join(_norm(r[i]) for i in order_s) for r in srows}
            oset = {"|".join(_norm(r[i]) for i in order_o) for r in orows}
            print("  spark-only:", list(sset - oset)[:3])
            print("  oracle-only:", list(oset - sset)[:3])
    print(" ".join(f"{k}={v}" for k, v in counts.items()))
    return counts["OK"] == selected


if __name__ == "__main__":
    sys.path.insert(0, "/root/repo")
    from cimpy_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark("compare", shuffle_partitions=8)
    good = compare(spark, sf_dir, names)
    spark.stop()
    sys.exit(0 if good else 1)
