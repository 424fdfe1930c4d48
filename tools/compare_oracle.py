#!/usr/bin/env python
"""Local emulation of the grading driver's oracle compare.

For each query name (or every query in ``queries()``; each has an
oracle): run the Spark query and the DuckDB oracle at sf0.01, compare
row count, sorted column names, and an order-insensitive stringified
value hash (a DuckDB HUGEINT sum prints "1.0" where Spark prints "1",
and only the stringified compare catches it).

Usage: python tools/compare_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df) -> tuple[int, list[str], str]:
    """(n_rows, sorted col names, value hash) from a pandas DataFrame."""
    import pandas as pd  # noqa: F401

    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join("\t".join(r) for r in rows).encode()).hexdigest()
    return len(df), cols, h


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    names = sys.argv[1:] or [n for n in qs if n in os_]
    failures = 0
    for name in names:
        if name not in os_:
            print(f"{name}: NO ORACLE (rows-only: {qs[name](spark, SF_DIR).count()} rows)")
            continue
        try:
            s_pdf = qs[name](spark, SF_DIR).toPandas()
            o_pdf = con.execute(os_[name]).df()
            sn, sc, sh = canon(s_pdf)
            on, oc, oh = canon(o_pdf)
            ok = (sn == on) and (sc == oc) and (sh == oh)
            status = "OK" if ok else "MISMATCH"
            print(f"{name}: {status} rows={sn}/{on} cols={'=' if sc == oc else (sc, oc)} hash={'=' if sh == oh else 'DIFF'}")
            if not ok:
                failures += 1
                if sc == oc and sn == on:
                    # show first differing rows
                    s_rows = sorted(tuple(str(v) for v in r) for r in s_pdf[sorted(s_pdf.columns)].itertuples(index=False, name=None))
                    o_rows = sorted(tuple(str(v) for v in r) for r in o_pdf[sorted(o_pdf.columns)].itertuples(index=False, name=None))
                    for a, b in zip(s_rows, o_rows):
                        if a != b:
                            print(f"  spark : {a}\n  oracle: {b}")
                            break
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
