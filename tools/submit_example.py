"""Minimal spark-submit job proving the --py-files deployment path
end to end (north_rule: "run via spark-submit --py-files"):

    python tools/build_pyfiles.py
    spark-submit --master local[2] \
        --py-files dist/pfutil_spark.zip tools/submit_example.py

The job imports pfutil_spark ONLY through the shipped zip (it refuses
to run if the package resolves from a repo checkout on sys.path),
builds a Redis-wire-compatible HLL over a small synthetic table, and
prints one JSON line with the estimate and golden sanity flags.
tests/test_pyfiles.py runs this exact command in a subprocess.
"""

import json


def main() -> int:
    import pfutil_spark

    src = pfutil_spark.__file__
    from_zip = ".zip/" in src or src.endswith(".zip")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pfutil_spark.operators import pf_count_distinct

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = (
            spark.range(5000)
            .select(
                (F.col("id") % 3).cast("string").alias("grp"),
                F.sha2(F.col("id").cast("string"), 256).alias("sha"),
            )
        )
        rows = pf_count_distinct(df, "sha", by=("grp",)).collect()
        ests = {r["grp"]: r["estimate"] for r in rows}
        # ~1667 distinct shas per group; HLL 3-sigma at 16384 registers
        ok = all(abs(e - 5000 / 3) <= 3 * 0.008125 * 5000 / 3 for e in ests.values())
        print(
            json.dumps(
                {
                    "pyfiles_ok": bool(from_zip),
                    "estimates": ests,
                    "within_bound": bool(ok),
                    "package_file": src,
                }
            )
        )
        return 0 if (from_zip and ok) else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
