"""One NULL rule for every sketch path: a group whose elements are all
NULL stays in the answer with an empty sketch (estimate 0, no items),
as SQL's ``COUNT(DISTINCT e) ... GROUP BY g`` keeps it with 0."""

import duckdb
import pandas as pd

from pfutil_spark.kernel import cms, kll
from pfutil_spark.operators import pf_count_col, pf_count_distinct, pf_sketch
from pfutil_spark.operators.hll_agg import SKETCH_COL
from pfutil_spark.operators.sketch_agg import cms_sketch, kll_sketch
from pfutil_spark.streaming import StreamingHllState

ROWS = [("a", "x", 1.0), ("a", "y", 2.0), ("b", None, None)]


def test_all_null_group_kept_on_every_path(spark, tmp_path):
    pdf = pd.DataFrame(ROWS, columns=["g", "e", "v"])  # noqa: F841 (read by DuckDB)
    oracle = {
        g: (d, n_e, n_v)
        for g, d, n_e, n_v in duckdb.sql(
            "SELECT g, COUNT(DISTINCT e), COUNT(e), COUNT(v) FROM pdf GROUP BY g"
        ).fetchall()
    }
    assert oracle == {"a": (2, 2, 2), "b": (0, 0, 0)}
    df = spark.createDataFrame(ROWS, "g string, e string, v double").repartition(2)

    distinct = {g: d for g, (d, _, _) in oracle.items()}
    got = {r["g"]: r["estimate"] for r in pf_count_distinct(df, "e", by=("g",)).collect()}
    assert got == distinct
    sk = pf_sketch(df, "e", by=("g",)).select("g", pf_count_col(SKETCH_COL).alias("n"))
    assert {r["g"]: r["n"] for r in sk.collect()} == distinct

    rows = cms_sketch(df, "e", by=("g",)).collect()
    assert {r["g"]: cms.total(cms.decode(bytes(r[SKETCH_COL]))) for r in rows} == {
        g: n_e for g, (_, n_e, _) in oracle.items()
    }
    rows = kll_sketch(df, "v", by=("g",)).collect()
    assert {r["g"]: kll.decode(bytes(r[SKETCH_COL])).n for r in rows} == {
        g: n_v for g, (_, _, n_v) in oracle.items()
    }

    state = StreamingHllState(spark, str(tmp_path / "state"), "e", by=("g",))
    state.update(df)
    assert {r["g"]: r["estimate"] for r in state.estimates().collect()} == distinct
