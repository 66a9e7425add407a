"""Local replica of the driver's Spark-vs-DuckDB oracle comparison.

Runs every queries() entry at a given sf dir, runs the matching
oracle_sql() in DuckDB over the same parquet files, and compares
row count + column names + order-insensitive stringified values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None:
                vals.append("\x00NULL")
            elif isinstance(v, float):
                vals.append("%.10g" % v)
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # raptor_spark is imported here and by the Python workers, which
    # inherit PYTHONPATH through the JVM the session below starts
    if _REPO not in sys.path:
        sys.path.insert(0, _REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from raptor_spark.queries import ORACLES, QUERIES

    # a typo'd query name must FAIL the sweep, not silently check
    # nothing and exit 0 (this tool is a verification gate)
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print("unknown queries: %s" % ", ".join(unknown))
        sys.exit(2)

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            oracle = ORACLES.get(name)
            if oracle is None:
                print(f"{name:24s} rows={len(srows)} (no oracle, rows-only)")
                continue
            res = con.sql(oracle)
            ocols = res.columns
            orows = res.fetchall()
            if sorted(scols) != sorted(ocols):
                print(f"{name:24s} FAIL cols spark={scols} oracle={ocols}")
                failures += 1
                continue
            a = normalize(srows, scols)
            b = normalize(orows, ocols)
            if len(a) != len(b):
                print(f"{name:24s} FAIL rowcount spark={len(a)} oracle={len(b)}")
                sa, sb = set(a), set(b)
                for x in list(sa - sb)[:3]:
                    print("   spark-only:", x)
                for x in list(sb - sa)[:3]:
                    print("   oracle-only:", x)
                failures += 1
            elif a != b:
                diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
                print(f"{name:24s} FAIL values ({len(diff)} differing rows)")
                for i in diff[:3]:
                    print("   spark :", a[i])
                    print("   oracle:", b[i])
                failures += 1
            else:
                print(f"{name:24s} OK rows={len(a)}")
        except Exception as e:
            print(f"{name:24s} ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
