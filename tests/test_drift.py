"""Two-sample KS drift from KLL sketches (kernel/kll.py::ks_distance,
operators/drift.py) and quantile clipping (sketch_agg.py::quantile_clip)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pfutil_spark.kernel import kll


def exact_ks(x: np.ndarray, y: np.ndarray) -> float:
    """Brute-force two-sample KS: max CDF gap over the union support."""
    pts = np.unique(np.concatenate([x, y]))
    fx = np.searchsorted(np.sort(x), pts, side="right") / len(x)
    fy = np.searchsorted(np.sort(y), pts, side="right") / len(y)
    return float(np.max(np.abs(fx - fy)))


def _sketch_of(x: np.ndarray, k: int, parts: int = 1) -> kll.KllSketch:
    if parts == 1:
        sk = kll.KllSketch(k)
        sk.update(x)
        return sk
    sks = []
    for p in np.array_split(x, parts):
        s = kll.KllSketch(k)
        s.update(p)
        sks.append(s)
    return kll.merge_all(sks)


class TestKernelKs:
    def test_lossless_regime_is_exact(self):
        rng = np.random.default_rng(1)
        x = rng.normal(size=150)
        y = rng.normal(loc=0.4, size=90)
        a, b = _sketch_of(x, k=1024), _sketch_of(y, k=1024)
        assert kll.is_lossless(a) and kll.is_lossless(b)
        d, e = kll.ks_distance(a, b)
        assert e == 0.0
        assert d == exact_ks(x, y)  # bit-exact, not approx

    def test_lossless_survives_small_merges(self):
        rng = np.random.default_rng(2)
        x = rng.uniform(size=300)
        merged = _sketch_of(x, k=1024, parts=8)  # 300 items < k: no compress
        assert kll.is_lossless(merged)
        single = _sketch_of(x, k=1024)
        assert kll.ks_distance(merged, single)[0] == 0.0

    def test_compacted_regime_not_lossless(self):
        sk = _sketch_of(np.arange(5000, dtype=float), k=128)
        assert not kll.is_lossless(sk)
        assert kll.rank_eps(sk) == kll.KS_EPS_C / 128.0

    @pytest.mark.parametrize("dist", ["normal", "exponential", "heavy"])
    @pytest.mark.parametrize("k", [128, 256])
    def test_estimate_within_bound(self, dist, k):
        import zlib

        # crc32, not hash(): string hashing is salted per process, which
        # would make a bound failure unreproducible
        rng = np.random.default_rng(zlib.crc32(f"{dist}:{k}".encode()))
        n = 20_000
        if dist == "normal":
            x, y = rng.normal(size=n), rng.normal(loc=0.15, size=n)
        elif dist == "exponential":
            x, y = rng.exponential(size=n), rng.exponential(1.2, size=n)
        else:
            x = np.floor(rng.pareto(1.3, size=n) * 10)
            y = np.floor(rng.pareto(1.5, size=n) * 10)
        a = _sketch_of(x, k=k, parts=16)
        b = _sketch_of(y, k=k, parts=16)
        d, e = kll.ks_distance(a, b)
        assert e == 2 * kll.KS_EPS_C / k
        assert abs(d - exact_ks(x, y)) <= e

    def test_identical_inputs_drift_zero(self):
        x = np.arange(400, dtype=float)
        d, e = kll.ks_distance(_sketch_of(x, k=1024), _sketch_of(x, k=1024))
        assert d == 0.0 and e == 0.0

    def test_empty_side_nan(self):
        a = kll.KllSketch(200)
        b = _sketch_of(np.arange(10, dtype=float), k=200)
        d, e = kll.ks_distance(a, b)
        assert np.isnan(d) and e == float("inf")

    def test_disjoint_supports_drift_one(self):
        a = _sketch_of(np.arange(100, dtype=float), k=1024)
        b = _sketch_of(np.arange(100, dtype=float) + 1000.0, k=1024)
        assert kll.ks_distance(a, b)[0] == 1.0


@pytest.fixture(scope="module")
def drift_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for grp, (loc, n) in {
        "a": (0.0, 400), "b": (0.0, 350), "c": (2.0, 300)
    }.items():
        for v in rng.normal(loc=loc, size=n):
            rows.append((grp, float(v)))
    rows.append((None, 0.0))   # null stratum drops
    rows.append(("a", None))   # null value drops from the sketch
    return spark.createDataFrame(rows, "grp string, val double")


class TestDriftMatrix:
    def test_matches_bruteforce_exactly_in_lossless_regime(self, spark, drift_df):
        from pfutil_spark.operators.drift import drift_matrix

        out = {
            (r["a"], r["b"]): r
            for r in drift_matrix(drift_df, "val", "grp", k=1024).collect()
        }
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
        pdf = drift_df.toPandas()
        for (ga, gb), r in out.items():
            x = pdf[pdf.grp == ga].val.dropna().to_numpy()
            y = pdf[pdf.grp == gb].val.dropna().to_numpy()
            assert r["ks_est"] == exact_ks(x, y)
            assert r["err_bound"] == 0.0
            assert (r["n_a"], r["n_b"]) == (len(x), len(y))
        # the shifted stratum is far from both unshifted ones
        assert out[("a", "c")]["ks_est"] > 0.5 > out[("a", "b")]["ks_est"]

    def test_partition_independent_in_lossless_regime(self, spark, drift_df):
        from pfutil_spark.operators.drift import drift_matrix

        base = sorted(
            (r["a"], r["b"], r["ks_est"])
            for r in drift_matrix(drift_df, "val", "grp", k=1024).collect()
        )
        shuffled = sorted(
            (r["a"], r["b"], r["ks_est"])
            for r in drift_matrix(
                drift_df.repartition(13, "val"), "val", "grp", k=1024
            ).collect()
        )
        assert base == shuffled

    def test_against_reference_sketch_table(self, spark, drift_df, tmp_path):
        from pfutil_spark.operators.drift import drift_against_reference
        from pfutil_spark.operators.sketch_agg import kll_sketch

        # checkpoint the per-stratum sketches, read back, compare a
        # SHIFTED current batch against them — no raw history rows
        path = str(tmp_path / "ref_sketches")
        kll_sketch(drift_df, "val", by=("grp",), k=1024).write.parquet(path)
        ref = spark.read.parquet(path)
        cur = drift_df.withColumn("val", F.col("val") + F.lit(5.0))
        out = {
            r["grp"]: r
            for r in drift_against_reference(
                cur, "val", ref, by=("grp",), k=1024
            ).collect()
        }
        assert set(out) == {"a", "b", "c"}
        for r in out.values():
            assert r["ks_est"] > 0.9  # +5 sigma shift: near-total drift
            assert r["err_bound"] == 0.0

    def test_against_reference_global(self, spark, drift_df):
        from pfutil_spark.operators.drift import drift_against_reference
        from pfutil_spark.operators.sketch_agg import kll_sketch

        ref = kll_sketch(drift_df, "val", k=1024)
        out = drift_against_reference(drift_df, "val", ref, k=1024).collect()
        assert len(out) == 1
        assert out[0]["ks_est"] == 0.0


class TestStreamingDrift:
    def test_running_ks_vs_reference(self, spark, tmp_path):
        """Per-key KLL GroupState vs checkpointed reference sketches:
        the stable key reports ~0 drift, the shifted key near-total
        drift, a key with no reference emits NaN/inf instead of
        dropping, and n is exact."""
        from pfutil_spark.operators.sketch_agg import SKETCH_COL, kll_sketch
        from pfutil_spark.streaming import streaming_drift_with_state

        rng = np.random.default_rng(23)
        hist_rows = [
            (g, float(v))
            for g in ("stable", "shifted")
            for v in rng.normal(size=600)
        ]
        hist = spark.createDataFrame(hist_rows, "grp string, val double")
        reference = {
            r["grp"]: bytes(r[SKETCH_COL])
            for r in kll_sketch(hist, "val", by=("grp",), k=1024).collect()
        }

        cur_rows = [("stable", float(v)) for v in rng.normal(size=500)]
        cur_rows += [("shifted", float(v)) for v in rng.normal(loc=6.0, size=500)]
        cur_rows += [("newcomer", float(v)) for v in rng.normal(size=50)]
        cur = spark.createDataFrame(cur_rows, "grp string, val double")
        src = tmp_path / "drift_src"
        cur.write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(cur.schema).parquet(str(src))
        out = streaming_drift_with_state(stream, "val", ["grp"], reference, k=1024)
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("drift_out")
            .option("checkpointLocation", str(tmp_path / "drift_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = {
            r["grp"]: r
            for r in spark.sql(
                "SELECT * FROM (SELECT *, row_number() OVER ("
                " PARTITION BY grp ORDER BY n DESC) rn FROM drift_out)"
                " WHERE rn = 1"
            ).collect()
        }
        assert set(rows) == {"stable", "shifted", "newcomer"}
        assert rows["stable"]["n"] == 500 and rows["shifted"]["n"] == 500
        # both sides lossless at these sizes: bounds are exactly 0
        assert rows["stable"]["err_bound"] == 0.0
        assert rows["stable"]["ks_est"] < 0.15
        assert rows["shifted"]["ks_est"] > 0.9
        assert rows["newcomer"]["ks_est"] is None  # NaN -> SQL NULL
        assert rows["newcomer"]["err_bound"] == float("inf")


class TestQuantileClip:
    def test_grouped_kept_fraction_and_bounds(self, spark):
        from pfutil_spark.operators.sketch_agg import quantile_clip

        rng = np.random.default_rng(11)
        rows = [
            (g, float(v))
            for g, scale in (("x", 1.0), ("y", 50.0))
            for v in rng.normal(scale=scale, size=4000)
        ]
        df = spark.createDataFrame(rows, "grp string, val double")
        kept = quantile_clip(df, "val", lo=0.05, hi=0.95, by=("grp",))
        stats = {
            r["grp"]: r
            for r in kept.groupBy("grp")
            .agg(F.count("*").alias("n"), F.min("val").alias("lo"),
                 F.max("val").alias("hi"))
            .collect()
        }
        for g in ("x", "y"):
            frac = stats[g]["n"] / 4000
            assert abs(frac - 0.9) <= 0.04   # 2 edges x t-digest rank err
        # per-group bands differ: the wide group's band is ~50x wider
        assert stats["y"]["hi"] > 10 * stats["x"]["hi"]

    def test_global_plan_has_no_join_and_no_python(self, spark):
        from pfutil_spark.operators.sketch_agg import quantile_clip

        df = spark.range(10_000).select(
            (F.col("id") % 97).cast("double").alias("val")
        )
        kept = quantile_clip(df, "val", lo=0.1, hi=0.9)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
        n = kept.count()
        assert abs(n / 10_000 - 0.8) <= 0.05

    def test_nulls_and_null_groups_drop(self, spark):
        from pfutil_spark.operators.sketch_agg import quantile_clip

        rows = [("g", float(i)) for i in range(100)]
        rows += [("g", None), (None, 50.0)]
        df = spark.createDataFrame(rows, "grp string, val double")
        kept = quantile_clip(df, "val", lo=0.0, hi=1.0, by=("grp",))
        got = kept.collect()
        assert all(r["grp"] == "g" and r["val"] is not None for r in got)

    def test_full_band_keeps_every_non_null_row(self, spark):
        from pfutil_spark.operators.sketch_agg import quantile_clip

        df = spark.range(500).select(F.col("id").cast("double").alias("val"))
        # lo=0, hi=1: t-digest min/max are exact, band edges inclusive
        assert quantile_clip(df, "val", lo=0.0, hi=1.0).count() == 500


class TestSqlSurface:
    def test_kll_ks_sql_matches_column_path(self, spark):
        """kll_ks / kll_ks_bound SQL evaluators route through the same
        kernel body as ks_drift_col — checkpointed sketch tables are
        drift-queryable in plain SQL."""
        from pfutil_spark.functions.sql import register_sql_functions
        from pfutil_spark.operators.drift import drift_matrix
        from pfutil_spark.operators.sketch_agg import kll_sketch

        register_sql_functions(spark)
        rng = np.random.default_rng(3)
        rows = [
            (g, float(v + (2.0 if g == "c" else 0.0)))
            for g in ("a", "b", "c")
            for v in rng.normal(size=200)
        ]
        df = spark.createDataFrame(rows, "grp string, val double")
        kll_sketch(df, "val", by=("grp",), k=1024).createOrReplaceTempView("t_kll")
        sql_rows = spark.sql(
            "SELECT x.grp AS a, y.grp AS b,"
            " kll_ks(x.sketch, y.sketch) AS ks,"
            " kll_ks_bound(x.sketch, y.sketch) AS bound,"
            " kll_psi(x.sketch, y.sketch) AS psi"
            " FROM t_kll x JOIN t_kll y ON x.grp < y.grp"
        ).collect()
        got = {(r["a"], r["b"]): (r["ks"], r["bound"]) for r in sql_rows}
        col = {
            (r["a"], r["b"]): (r["ks_est"], r["err_bound"])
            for r in drift_matrix(df, "val", "grp", k=1024).collect()
        }
        assert got == col  # lossless regime: bit-equal, both surfaces
        psi = {(r["a"], r["b"]): r["psi"] for r in sql_rows}
        assert psi[("a", "c")] > 0.5 > psi[("a", "b")]  # 2-sigma shift
        # SQL psi bit-equals the Column path (shared evaluator body)
        from pfutil_spark.operators.drift import psi_drift_col

        col_psi = {
            (r["a"], r["b"]): r["psi"]
            for r in spark.sql("SELECT * FROM t_kll")
            .alias("x")
            .join(
                spark.sql("SELECT * FROM t_kll").alias("y"),
                F.col("x.grp") < F.col("y.grp"),
            )
            .select(
                F.col("x.grp").alias("a"),
                F.col("y.grp").alias("b"),
                psi_drift_col(F.col("x.sketch"), F.col("y.sketch")).alias("psi"),
            )
            .collect()
        }
        assert psi == col_psi

    def test_null_sketches_yield_null_not_crash(self, spark):
        """NULL sketch rows (a stratum on one side of a snapshot outer
        join) must produce NULL from every pair evaluator, not a
        job-failing TypeError (review regression)."""
        from pfutil_spark.functions.sql import register_sql_functions
        from pfutil_spark.operators.drift import psi_drift_col
        from pfutil_spark.operators.sketch_agg import kll_sketch

        register_sql_functions(spark)
        sk = bytes(
            kll_sketch(
                spark.createDataFrame([(1.0,), (2.0,)], "v double"), "v"
            ).first()["sketch"]
        )
        df = spark.createDataFrame(
            [(sk, None), (None, sk), (sk, sk)], "sa binary, sb binary"
        )
        df.createOrReplaceTempView("t_null_sk")
        rows = spark.sql(
            "SELECT kll_ks(sa, sb) AS ks, kll_ks_bound(sa, sb) AS bound,"
            " kll_psi(sa, sb) AS psi FROM t_null_sk"
        ).collect()
        assert sum(r["ks"] is None for r in rows) == 2
        assert sum(r["psi"] is None for r in rows) == 2
        assert rows[-1]["ks"] == 0.0 and rows[-1]["psi"] == 0.0
        got = df.select(psi_drift_col("sa", "sb").alias("p")).collect()
        assert [r["p"] for r in got[:2]] == [None, None]
        from pfutil_spark.operators.drift import ks_drift_col

        ks = df.select(ks_drift_col("sa", "sb").alias("d")).select("d.*").collect()
        assert ks[0]["ks_est"] is None and ks[1]["n_a"] is None
        assert ks[2]["ks_est"] == 0.0 and ks[2]["n_a"] == 2


class TestTableDrift:
    def test_per_column_exact_in_lossless_regime(self, spark):
        from pfutil_spark.operators.drift import table_drift, table_sketches

        rng = np.random.default_rng(5)
        mk = lambda shift: [
            (float(a), float(b))
            for a, b in zip(rng.normal(size=400), rng.uniform(size=400) + shift)
        ]
        hist = spark.createDataFrame(mk(0.0), "m1 double, m2 double")
        cur = spark.createDataFrame(mk(0.5), "m1 double, m2 double")
        ref = table_sketches(hist, ["m1", "m2"], k=1024)
        out = {
            r["col_name"]: r
            for r in table_drift(cur, ref, ["m1", "m2"], k=1024).collect()
        }
        hp, cp = hist.toPandas(), cur.toPandas()
        for c in ("m1", "m2"):
            want = exact_ks(cp[c].to_numpy(), hp[c].to_numpy())
            assert out[c]["ks_est"] == want
            assert out[c]["err_bound"] == 0.0
            assert out[c]["n_cur"] == 400 and out[c]["n_ref"] == 400
        # m2 got shifted by half its range; m1 is the same distribution
        assert out["m2"]["ks_est"] > 0.4 > out["m1"]["ks_est"]

    def test_grouped_and_missing_column_validation(self, spark):
        import pytest as _pytest

        from pfutil_spark.operators.drift import table_drift, table_sketches

        rng = np.random.default_rng(9)
        rows = [
            (g, float(v), float(w))
            for g in ("x", "y")
            for v, w in zip(rng.normal(size=200), rng.normal(size=200))
        ]
        df = spark.createDataFrame(rows, "grp string, m1 double, m2 double")
        ref = table_sketches(df, ["m1", "m2"], by=("grp",), k=1024)
        out = table_drift(df, ref, ["m1", "m2"], by=("grp",), k=1024).collect()
        assert len(out) == 4  # 2 groups x 2 columns
        for r in out:  # same rows vs same rows: zero drift, zero bound
            assert r["ks_est"] == 0.0 and r["err_bound"] == 0.0
        with _pytest.raises(ValueError, match="lacks sketch columns"):
            table_drift(df, ref.drop("m2"), ["m1", "m2"], by=("grp",))


class TestReviewRegressions:
    def test_quantile_clip_validates_band(self, spark):
        import pytest as _pytest

        from pfutil_spark.operators.sketch_agg import quantile_clip

        df = spark.range(10).select(F.col("id").cast("double").alias("val"))
        for lo, hi in ((0.9, 0.1), (-0.1, 0.5), (0.5, 1.5)):
            with _pytest.raises(ValueError, match="need 0 <= lo <= hi <= 1"):
                quantile_clip(df, "val", lo=lo, hi=hi)

    def test_quantile_clip_survives_user_dunder_columns(self, spark):
        from pfutil_spark.operators.sketch_agg import quantile_clip

        rows = [("g", float(i), float(i)) for i in range(50)]
        df = spark.createDataFrame(rows, "grp string, val double, __lo double")
        kept = quantile_clip(df, "val", lo=0.0, hi=1.0, by=("grp",))
        assert kept.count() == 50
        assert "__lo" in kept.columns  # user's column untouched

    def test_tdigest_edges_empty_sketch_table_raises_clearly(self, spark):
        import pytest as _pytest

        from pfutil_spark.operators.sketch_agg import tdigest_edges, tdigest_sketch

        empty = spark.createDataFrame([], "val double").repartition(1)
        sk = tdigest_sketch(empty, "val")
        with _pytest.raises(ValueError, match="no rows"):
            tdigest_edges(sk.filter(F.lit(False)), [0.5])


class TestCardinalityDrift:
    def test_overlap_new_and_gone_strata(self, spark):
        from pfutil_spark.operators.drift import cardinality_drift
        from pfutil_spark.operators.hll_agg import pf_sketch

        # ref stratum x: ids 0..99; cur x: 50..129 (30 new)
        # ref-only stratum gone; cur-only stratum born; null stratum on both
        ref_rows = [("x", str(i)) for i in range(100)]
        ref_rows += [("gone", str(i)) for i in range(40)]
        ref_rows += [(None, str(i)) for i in range(20)]
        cur_rows = [("x", str(i)) for i in range(50, 130)]
        cur_rows += [("born", str(i)) for i in range(25)]
        cur_rows += [(None, str(i)) for i in range(10, 25)]  # 5 new vs ref
        ref_df = spark.createDataFrame(ref_rows, "grp string, e string")
        cur_df = spark.createDataFrame(cur_rows, "grp string, e string")
        ref = pf_sketch(ref_df, "e", by=("grp",))
        out = {
            r["grp"]: r
            for r in cardinality_drift(cur_df, "e", ref, by=("grp",)).collect()
        }
        assert set(out) == {"x", "gone", "born", None}

        def close(got, want):  # HLL near-exact at these cardinalities
            assert abs(got - want) <= max(2, 0.02 * want), (got, want)

        close(out["x"]["est_cur"], 80)
        close(out["x"]["est_ref"], 100)
        close(out["x"]["est_new"], 30)
        assert out["gone"]["est_cur"] == 0 and out["gone"]["est_new"] == 0
        close(out["gone"]["est_ref"], 40)
        assert out["born"]["est_ref"] == 0
        close(out["born"]["est_cur"], 25)
        close(out["born"]["est_new"], 25)
        # null stratum matches null-safely (one row, not two)
        close(out[None]["est_ref"], 20)
        close(out[None]["est_cur"], 15)
        close(out[None]["est_new"], 5)

    def test_global_and_identical_snapshot(self, spark):
        from pfutil_spark.operators.drift import cardinality_drift
        from pfutil_spark.operators.hll_agg import pf_sketch

        df = spark.createDataFrame(
            [(str(i),) for i in range(500)], "e string"
        )
        ref = pf_sketch(df, "e")
        out = cardinality_drift(df, "e", ref).collect()
        assert len(out) == 1
        r = out[0]
        assert r["est_cur"] == r["est_ref"]  # same sketch bytes
        assert r["est_new"] == 0  # union == ref exactly


class TestTopkDrift:
    def test_churn_exact_below_m(self, spark):
        """Below m distinct the summaries are exact frequency tables, so
        churn rows and estimates are exact and deterministic."""
        from pfutil_spark.operators.drift import topk_drift
        from pfutil_spark.operators.sketch_agg import spacesaving_sketch

        def batch(weights):  # value -> count
            return [
                ("g", v) for v, c in weights.items() for _ in range(c)
            ]

        hist = spark.createDataFrame(
            batch({"old_hot": 30, "stable": 20, "meh": 2, "tiny": 1}),
            "grp string, val string",
        )
        cur = spark.createDataFrame(
            batch({"new_hot": 25, "stable": 22, "meh": 1}),
            "grp string, val string",
        )
        ref = spacesaving_sketch(hist, "val", by=("grp",), m=64)
        out = {
            r["value"]: r
            for r in topk_drift(cur, "val", ref, by=("grp",), k=2, m=64).collect()
        }
        # top-2 ref: old_hot(30), stable(20); top-2 cur: new_hot(25), stable(22)
        assert set(out) == {"old_hot", "new_hot", "stable"}
        assert out["new_hot"]["status"] == "entered"
        assert out["new_hot"]["est_cur"] == 25 and out["new_hot"]["est_ref"] is None
        assert out["old_hot"]["status"] == "exited"
        assert out["old_hot"]["est_ref"] == 30 and out["old_hot"]["est_cur"] is None
        assert out["stable"]["status"] == "stayed"
        assert (out["stable"]["est_cur"], out["stable"]["est_ref"]) == (22, 20)

    def test_born_and_vanished_strata(self, spark):
        from pfutil_spark.operators.drift import topk_drift
        from pfutil_spark.operators.sketch_agg import spacesaving_sketch

        hist = spark.createDataFrame(
            [("gone", "a"), ("gone", "a"), ("both", "x")], "grp string, val string"
        )
        cur = spark.createDataFrame(
            [("born", "b"), ("both", "x")], "grp string, val string"
        )
        ref = spacesaving_sketch(hist, "val", by=("grp",), m=16)
        rows = topk_drift(cur, "val", ref, by=("grp",), k=3, m=16).collect()
        got = {(r["grp"], r["value"]): r["status"] for r in rows}
        assert got == {
            ("gone", "a"): "exited",
            ("born", "b"): "entered",
            ("both", "x"): "stayed",
        }


class TestSnapshotEdges:
    def test_global_empty_sides_still_report(self, spark):
        """by=() snapshot diffs must SURFACE empty current batches and
        empty references, not return zero rows (review regression)."""
        from pfutil_spark.operators.drift import cardinality_drift, topk_drift
        from pfutil_spark.operators.hll_agg import pf_sketch
        from pfutil_spark.operators.sketch_agg import spacesaving_sketch

        full = spark.createDataFrame([(str(i),) for i in range(60)], "e string")
        empty = spark.createDataFrame([], "e string")
        ref = pf_sketch(full, "e")

        gone = cardinality_drift(empty, "e", ref).collect()
        assert len(gone) == 1
        assert gone[0]["est_cur"] == 0 and gone[0]["est_new"] == 0
        assert gone[0]["est_ref"] == 60

        born = cardinality_drift(full, "e", pf_sketch(empty, "e").limit(0)).collect()
        assert len(born) == 1
        assert born[0]["est_ref"] == 0
        assert born[0]["est_cur"] == 60 and born[0]["est_new"] == 60

        ss_ref = spacesaving_sketch(full, "e", m=128)
        churn = topk_drift(empty, "e", ss_ref, k=3, m=128).collect()
        assert len(churn) == 3
        assert all(r["status"] == "exited" for r in churn)

    def test_cardinality_drift_accepts_expression_element(self, spark):
        from pfutil_spark.operators.drift import cardinality_drift
        from pfutil_spark.operators.hll_agg import pf_sketch

        df = spark.createDataFrame([(i,) for i in range(100)], "id long")
        ref = pf_sketch(df.withColumn("b", (F.col("id") % 10).cast("string")), "b")
        out = cardinality_drift(
            df, (F.col("id") % 10).cast("string"), ref
        ).collect()
        assert len(out) == 1
        assert out[0]["est_cur"] == 10 and out[0]["est_new"] == 0


class TestWeightedKs:
    def test_weighted_drift_within_bound(self):
        """kll_weighted updates feed ks_distance unchanged: the estimate
        tracks the WEIGHTED empirical KS (token-weighted drift). The
        weighted path is conservatively non-lossless (is_lossless can't
        prove no-drop for multi-level layouts), so the bound is 4/k per
        side — assert it holds against exact weighted CDFs."""
        rng = np.random.default_rng(31)
        n = 8000
        x, wx = rng.normal(size=n), rng.integers(1, 50, size=n)
        y, wy = rng.normal(loc=0.2, size=n), rng.integers(1, 50, size=n)
        a, b = kll.KllSketch(256), kll.KllSketch(256)
        a.update_weighted(x, wx)
        b.update_weighted(y, wy)
        d, e = kll.ks_distance(a, b)
        pts = np.unique(np.concatenate([x, y]))

        def wcdf(v, w):
            order = np.argsort(v)
            cum = np.cumsum(w[order])
            return cum[
                np.clip(np.searchsorted(v[order], pts, side="right") - 1, -1, None)
            ] * (np.searchsorted(v[order], pts, side="right") > 0) / w.sum()

        exact = float(np.max(np.abs(wcdf(x, wx) - wcdf(y, wy))))
        assert e <= 2 * kll.KS_EPS_C / 256
        assert abs(d - exact) <= e


class TestPsi:
    def test_psi_zero_for_identical_and_large_for_shifted(self):
        rng = np.random.default_rng(13)
        x = rng.normal(size=5000)
        a = kll.KllSketch(1024); a.update(x[:400])
        b = kll.KllSketch(1024); b.update(x[:400])
        assert kll.psi_distance(a, b) < 1e-6  # identical sketches
        c = kll.KllSketch(1024); c.update(x[:400] + 1.5)
        assert kll.psi_distance(c, b) > 0.25  # major shift

    def test_psi_matches_exact_binned_psi_in_lossless_regime(self):
        rng = np.random.default_rng(17)
        ref_v = rng.normal(size=800)
        cur_v = rng.normal(loc=0.4, size=700)
        ref = kll.KllSketch(2048); ref.update(ref_v)
        cur = kll.KllSketch(2048); cur.update(cur_v)
        got = kll.psi_distance(cur, ref, bins=10)
        # independent exact computation with the same reference edges
        edges = np.quantile(ref_v, np.linspace(0, 1, 11)[1:-1], method="inverted_cdf")
        def m(v):
            c = np.searchsorted(np.sort(v), edges, side="right")
            mm = np.diff(np.concatenate(([0], c, [len(v)]))) / len(v)
            mm = np.maximum(mm, 1e-4)
            return mm / mm.sum()
        p, q = m(ref_v), m(cur_v)
        want = float(np.sum((q - p) * np.log(q / p)))
        assert abs(got - want) < 0.02  # same bins up to edge convention
        assert got > 0.2  # 0.4-sigma shift lands at ~0.24: moderate-major

    def test_psi_bins_guard(self):
        a = kll.KllSketch(128); a.update(np.arange(10.0))
        for bad in (0, 1):
            with pytest.raises(ValueError, match="need >= 2"):
                kll.psi_distance(a, a, bins=bad)

    def test_psi_empty_and_ties(self):
        empty = kll.KllSketch(128)
        full = kll.KllSketch(128); full.update(np.ones(100))
        assert np.isnan(kll.psi_distance(empty, full))
        # all-ties reference: every inner edge identical; floor handles
        same = kll.KllSketch(128); same.update(np.ones(50))
        assert kll.psi_distance(same, full) < 1e-6

    def test_psi_drift_col_matches_kernel(self, spark):
        from pfutil_spark.operators.drift import psi_drift_col
        from pfutil_spark.operators.sketch_agg import SKETCH_COL, kll_sketch

        rng = np.random.default_rng(19)
        rows = [("a", float(v)) for v in rng.normal(size=300)]
        rows += [("b", float(v + 1.0)) for v in rng.normal(size=300)]
        df = spark.createDataFrame(rows, "grp string, val double")
        sk = {r["grp"]: bytes(r[SKETCH_COL])
              for r in kll_sketch(df, "val", by=("grp",), k=1024).collect()}
        got = (
            spark.createDataFrame([(sk["a"], sk["b"])], "sa binary, sb binary")
            .select(psi_drift_col("sa", "sb").alias("psi"))
            .first()["psi"]
        )
        want = kll.psi_distance(kll.decode(sk["a"]), kll.decode(sk["b"]))
        assert got == want


class TestSnapshotJoinScale:
    def test_broadcast_reference_knob(self, spark):
        """Default broadcasts the reference (few-strata case); False
        must NOT force a broadcast so 10^6-strata snapshots shuffle
        (pre-AQE plan inspected - AQE may still re-broadcast tiny
        sides at runtime, which is the desired adaptivity)."""
        from pfutil_spark.operators.drift import drift_against_reference
        from pfutil_spark.operators.sketch_agg import kll_sketch

        df = spark.createDataFrame(
            [("g%d" % (i % 4), float(i)) for i in range(200)],
            "grp string, val double",
        )
        ref = kll_sketch(df, "val", by=("grp",), k=256)

        def initial_plan(frame):
            return frame._jdf.queryExecution().executedPlan().toString()

        hinted = drift_against_reference(df, "val", ref, by=("grp",), k=256)
        assert "BroadcastHashJoin" in initial_plan(hinted)
        shuffled = drift_against_reference(
            df, "val", ref, by=("grp",), k=256, broadcast_reference=False
        )
        plan = initial_plan(shuffled)
        assert "BroadcastHashJoin" not in plan, plan
        # results identical either way
        a = sorted((r["grp"], r["ks_est"]) for r in hinted.collect())
        b = sorted((r["grp"], r["ks_est"]) for r in shuffled.collect())
        assert a == b


class TestBatchDecodedEvaluators:
    """r5 (VERDICT r4 item 2): the pair evaluators batch-decode — one
    flat parse per Arrow batch, KS vectorized ACROSS pairs. Must be
    float-for-float identical to the scalar per-pair path."""

    @staticmethod
    def _flat_of(bufs):
        from pfutil_spark.kernel.sketch_common import flat_buffers

        return flat_buffers(bufs)

    def _population(self, seed):
        rng = np.random.default_rng(seed)

        def mk(kind, k):
            sk = kll.KllSketch(k)
            if kind == "lossless":
                sk.update(rng.normal(size=int(rng.integers(1, 50))))
            elif kind == "big":
                for _ in range(6):
                    sk.update(rng.normal(size=1000))
            elif kind == "weighted":
                sk.update_weighted(
                    rng.normal(size=200), rng.integers(1, 1000, 200)
                )
            return sk  # "empty" falls through

        kinds = ["lossless", "big", "weighted", "empty", "lossless", "big"]
        a = [mk(kinds[i % 6], [200, 100][i % 2]) for i in range(60)]
        b = [mk(kinds[(i + 2) % 6], 200) for i in range(60)]
        return a, b

    def test_ks_pairs_flat_bit_parity(self):
        sks_a, sks_b = self._population(31)
        pa = kll.parse_weighted_flat(*self._flat_of([s.encode() for s in sks_a]))
        pb = kll.parse_weighted_flat(*self._flat_of([s.encode() for s in sks_b]))
        d, e = kll.ks_pairs_flat(pa, pb)
        for i, (a, b) in enumerate(zip(sks_a, sks_b)):
            d0, e0 = kll.ks_distance(a, b)
            if np.isnan(d0):
                assert np.isnan(d[i]) and e[i] == float("inf")
            else:
                assert d[i] == d0 and e[i] == e0, i
            assert pa[0][i] == a.n
            assert pa[1][i] == kll.rank_eps(a)

    def test_psi_arrays_bit_parity(self):
        sks_a, sks_b = self._population(32)
        for a, b in zip(sks_a, sks_b):
            if a.n == 0 or b.n == 0:
                continue
            assert kll.psi_distance(a, b, 10) == kll.psi_arrays(
                *a._weighted(), *b._weighted(), 10, 1e-4
            )

    def test_psi_pairs_flat_bit_parity(self):
        """r6: the across-pairs PSI (psi_pairs_flat) must match the
        per-pair psi_arrays bit for bit, nan placement included."""
        sks_a, sks_b = self._population(37)
        pa = kll.parse_weighted_flat(*self._flat_of([s.encode() for s in sks_a]))
        pb = kll.parse_weighted_flat(*self._flat_of([s.encode() for s in sks_b]))
        for bins in (2, 10):
            out = kll.psi_pairs_flat(pa, pb, bins)
            for i, (a, b) in enumerate(zip(sks_a, sks_b)):
                if a.n == 0 or b.n == 0:
                    assert np.isnan(out[i]), i
                else:
                    assert out[i] == kll.psi_distance(a, b, bins), (i, bins)

    def test_psi_pairs_flat_rejects_empty_segment(self):
        """A pair with n > 0 but no retained items on one side must raise
        instead of reading a neighbouring segment's items."""

        def parsed(n, items, starts):
            items = np.asarray(items, dtype=np.float64)
            return (
                np.asarray(n, dtype=np.int64),
                np.zeros(len(n)),
                items,
                np.ones(len(items), dtype=np.int64),
                np.asarray(starts, dtype=np.int64),
            )

        cur = parsed([3, 2], [1.0, 2.0, 3.0], [0, 3, 3])  # pair 1: empty
        ref = parsed([2, 2], [1.0, 2.0, 3.0, 4.0], [0, 2, 4])
        with pytest.raises(ValueError, match="no retained items"):
            kll.psi_pairs_flat(cur, ref, 4)
        with pytest.raises(ValueError, match="no retained items"):
            kll.psi_pairs_flat(ref, cur, 4)
        ok = parsed([2, 2], [1.0, 2.0, 3.0, 4.0], [0, 2, 4])
        assert np.isfinite(kll.psi_pairs_flat(ok, ref, 4)).all()

    def test_psi_path_has_no_per_pair_python(self, monkeypatch):
        """r6 gate (VERDICT r5 item 4 'Done' criterion): the psi column
        path must never fall back to per-pair psi_arrays."""
        import pandas as pd

        from pfutil_spark.operators.drift import psi_pair_series

        def boom(*a, **k):  # pragma: no cover
            raise AssertionError("per-pair psi_arrays called on psi path")

        monkeypatch.setattr(kll, "psi_arrays", boom)
        sks_a, sks_b = self._population(38)
        sa = pd.Series([s.encode() for s in sks_a])
        sb = pd.Series([s.encode() for s in sks_b])
        out = psi_pair_series(sa, sb, 10)
        assert len(out) == len(sa)
        assert np.isfinite(out.to_numpy()).any()

    def test_evaluator_columns_match_scalar(self, spark):
        """End-to-end: ks_drift_col / psi via the Spark columns equal
        the scalar kernel per pair, NULLs stay NULL."""
        from pfutil_spark.operators.drift import ks_drift_col, psi_drift_col

        sks_a, sks_b = self._population(33)
        rows = [
            (i, a.encode() if i % 7 else None, b.encode())
            for i, (a, b) in enumerate(zip(sks_a, sks_b))
        ]
        df = spark.createDataFrame(rows, "id long, sa binary, sb binary")
        out = (
            df.select(
                "id",
                ks_drift_col("sa", "sb").alias("ks"),
                psi_drift_col("sa", "sb").alias("psi"),
            )
            .orderBy("id")
            .collect()
        )
        for r in out:
            i = r["id"]
            if i % 7 == 0:
                assert r["ks"]["ks_est"] is None and r["psi"] is None
                continue
            a, b = sks_a[i], sks_b[i]
            d0, e0 = kll.ks_distance(a, b)
            if np.isnan(d0):
                assert r["ks"]["ks_est"] is None
                assert r["ks"]["err_bound"] == float("inf")
            else:
                assert r["ks"]["ks_est"] == d0 and r["ks"]["err_bound"] == e0
                assert r["ks"]["n_a"] == a.n and r["ks"]["n_b"] == b.n
            p0 = kll.psi_distance(a, b, 10)
            if np.isnan(p0):
                assert r["psi"] is None
            else:
                assert r["psi"] == p0

    def test_ks_pairs_chunking_parity(self):
        """Item-mass-bounded chunking (the 10^4-strata memory guard)
        must not change a single bit, including NaN/inf placement for
        empty sketches straddling chunk boundaries."""
        rng = np.random.default_rng(41)
        sks = []
        for i in range(20):
            sk = kll.KllSketch(64)
            for _ in range(3):
                sk.update(rng.normal(loc=i * 0.05, size=500))
            sks.append(sk)
        em = kll.KllSketch(64)
        mix_a = [sks[0], em, sks[1], em] * 40
        mix_b = [em, sks[2], sks[3], em] * 40
        pa = kll.parse_weighted_flat(
            *self._flat_of([s.encode() for s in mix_a])
        )
        pb = kll.parse_weighted_flat(
            *self._flat_of([s.encode() for s in mix_b])
        )
        d1, e1 = kll.ks_pairs_flat(pa, pb)
        for mc in (150, 700, 5000):
            d2, e2 = kll.ks_pairs_flat(pa, pb, max_chunk_items=mc)
            assert np.array_equal(d1, d2, equal_nan=True)
            assert np.array_equal(e1, e2)


class TestCompactionDifferential:
    """r5 (VERDICT r4 item 4): the 4/k uniform rank bound and the KS
    bound, asserted EMPIRICALLY in the forced-compaction regime
    (k small, n >> k, multi-way merges) at randomized shapes — the
    prior exactness evidence leaned on the lossless regime."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.sampled_from([32, 64, 128]),
        st.integers(min_value=30, max_value=150),   # n = k * ratio >> k
        st.integers(min_value=2, max_value=16),     # merge fan-in
        st.booleans(),                              # heavy ties?
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_rank_bound_under_forced_compaction(self, k, ratio, parts, ties, seed):
        rng = np.random.default_rng(seed)
        n = k * ratio
        x = rng.normal(loc=rng.uniform(-1, 1), size=n)
        if ties:
            x = np.floor(x * 3)
        sks = []
        for p in np.array_split(x, parts):
            s = kll.KllSketch(k)
            s.update(p)
            sks.append(s)
        a = kll.merge_all(sks)
        assert not kll.is_lossless(a)  # the regime under test
        pts = np.unique(x)
        exact_cdf = np.searchsorted(np.sort(x), pts, side="right") / n
        err = float(np.max(np.abs(a.rank(pts) - exact_cdf)))
        assert err <= kll.KS_EPS_C / k  # empirical ~1.2/k, 4/k shipped

    @settings(max_examples=30, deadline=None)
    @given(
        st.sampled_from([32, 64, 128]),
        st.integers(min_value=30, max_value=120),
        st.integers(min_value=2, max_value=16),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_ks_bound_under_forced_compaction(self, k, ratio, parts, seed):
        rng = np.random.default_rng(seed)
        n = k * ratio
        x = rng.normal(size=n)
        y = rng.normal(loc=rng.uniform(0, 1), size=n)

        def build(v):
            sks = []
            for p in np.array_split(v, parts):
                s = kll.KllSketch(k)
                s.update(p)
                sks.append(s)
            return kll.merge_all(sks)

        a, b = build(x), build(y)
        assert not kll.is_lossless(a) and not kll.is_lossless(b)
        d, e = kll.ks_distance(a, b)
        assert e == 2 * kll.KS_EPS_C / k  # both sides compacted
        assert abs(d - exact_ks(x, y)) <= e

    @settings(max_examples=25, deadline=None)
    @given(
        st.sampled_from([32, 64, 128]),
        st.integers(min_value=30, max_value=120),
        st.integers(min_value=2, max_value=16),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_psi_tracks_exact_under_compaction(self, k, ratio, parts, seed):
        """PSI from compacted sketches vs PSI from the exact empirical
        CDFs (a lossless huge-k sketch), CONTINUOUS inputs: measured
        worst |diff| is ~2.3/k (k=32), shipped tolerance 8/k (~3.5x
        headroom). Heavily-tied inputs are excluded by design — edges
        landing on atoms make PSI genuinely unstable there (documented
        unbounded; KS carries the sound bound)."""
        rng = np.random.default_rng(seed)
        n = k * ratio
        loc = rng.uniform(-1, 1)
        x = rng.normal(loc=loc, size=n)
        y = rng.normal(loc=loc + rng.uniform(0, 0.5), size=n)

        def build(v, kk):
            sks = []
            for p in np.array_split(v, parts):
                s = kll.KllSketch(kk)
                s.update(p)
                sks.append(s)
            return kll.merge_all(sks)

        a, b = build(x, k), build(y, k)
        ref_x = kll.KllSketch(1 << 17)
        ref_x.update(x)
        ref_y = kll.KllSketch(1 << 17)
        ref_y.update(y)
        assert kll.is_lossless(ref_x) and kll.is_lossless(ref_y)
        psi_s = kll.psi_distance(b, a, 10)
        psi_x = kll.psi_distance(ref_y, ref_x, 10)
        assert abs(psi_s - psi_x) <= 8.0 / k


class TestDriftMatrixScale:
    def test_non_broadcast_matrix_same_results(self, spark):
        """broadcast=False (the past-broadcast-limit path, r5) must
        produce the identical pair matrix."""
        from pfutil_spark.operators.drift import drift_matrix

        df = spark.range(4000).selectExpr(
            "concat('s', id % 8) AS s", "cast(id % 97 AS double) AS v"
        )
        key = lambda r: (r["a"], r["b"])  # noqa: E731
        bc = {key(r): r["ks_est"] for r in drift_matrix(df, "v", "s").collect()}
        sj = {
            key(r): r["ks_est"]
            for r in drift_matrix(df, "v", "s", broadcast=False).collect()
        }
        assert bc == sj and len(bc) == 28

    def test_non_broadcast_matrix_never_broadcasts(self, spark):
        """The a<b pair condition has no equi-keys, so without the
        shuffle_replicate_nl hint JoinSelection could pick
        BroadcastNestedLoopJoin whenever catalyst's size estimate of
        the (tiny-looking) sketch table dips under the threshold —
        broadcasting exactly the table broadcast=False exists to keep
        off the driver. Gate the distributed CartesianProduct plan."""
        from pfutil_spark.operators.drift import drift_matrix

        df = spark.range(1000).selectExpr(
            "concat('s', id % 4) AS s", "cast(id % 31 AS double) AS v"
        )
        out = drift_matrix(df, "v", "s", broadcast=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "BroadcastExchange" not in plan, plan
