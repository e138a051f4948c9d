"""Schema-type alignment audit: Spark dtypes vs DuckDB relation types
for every oracle-checked query (the driver compares schemas, so int vs
bigint drift is a correctness-gate failure even when values match)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

MAP = {
    "VARCHAR": "string",
    "BIGINT": "bigint",
    "INTEGER": "int",
    "DOUBLE": "double",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "FLOAT": "float",
}


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    from compare import duckdb_conn

    import __spark_entry__ as m
    from cimpy_spark.session import get_spark

    spark = get_spark("type-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_conn(sf_dir)
    bad = 0
    oracles = m.oracle_sql()
    for name, fn in m.queries().items():
        if name not in oracles or name == "stream_extract_triples":
            continue
        sd = dict(fn(spark, sf_dir).dtypes)
        rel = con.sql(oracles[name])
        od = dict(zip(rel.columns, [str(t) for t in rel.types]))
        for c in sd:
            if MAP.get(od.get(c), od.get(c)) != sd[c].replace("timestamp_ntz", "timestamp"):
                bad += 1
                print(f"{name}.{c}: spark={sd[c]} duckdb={od.get(c)}")
    spark.stop()
    print("mismatches:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
