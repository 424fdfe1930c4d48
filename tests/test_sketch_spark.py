"""Distributed extension-sketch tests: Spark two-phase plan vs exact /
vs pure-kernel results, partition invariance of exact-merge sketches."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pfutil_spark.kernel import bloom as bloom_k
from pfutil_spark.operators.sketch_agg import (
    _null_safe_hash,
    bloom_might_contain_col,
    bloom_sketch,
    cms_counts_col,
    cms_sketch,
    kll_quantiles_col,
    kll_sketch,
    tdigest_quantiles_col,
    tdigest_sketch,
)


def events(spark, sf="sf0.001"):
    return spark.read.parquet(f"/root/testdata/{sf}/events.parquet")


class TestCMSSpark:
    def test_counts_vs_exact(self, spark):
        ev = events(spark)
        sk = cms_sketch(ev, "event_type", by=())
        items = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
        est = sk.select(cms_counts_col(sk, items).alias("counts")).collect()[0]["counts"]
        exact = {r["event_type"]: r["cnt"] for r in
                 ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        n = ev.count()
        eps = np.e / 2048
        for item, e in zip(items, est):
            assert e >= exact[item]
            assert e - exact[item] <= eps * n * 3

    @pytest.mark.parametrize("partitions", [1, 7])
    def test_partition_invariant_bytes(self, spark, partitions):
        ev = events(spark).repartition(partitions)
        sk = cms_sketch(ev, "user_id", by=()).collect()[0]["sketch"]
        base = cms_sketch(events(spark).coalesce(1), "user_id", by=()).collect()[0]["sketch"]
        assert bytes(sk) == bytes(base)  # CMS merge is exact addition


class TestBloomSpark:
    def test_membership_and_semijoin_filter(self, spark):
        ev = events(spark)
        some_users = ev.filter(F.col("user_id") % 3 == 0)
        sk = bloom_sketch(some_users, "user_id", expected_n=5000).collect()[0]["sketch"]
        # no false negatives through the Spark surface
        flagged = ev.withColumn(
            "maybe", bloom_might_contain_col("user_id", bytes(sk))
        )
        missed = flagged.filter((F.col("user_id") % 3 == 0) & ~F.col("maybe")).count()
        assert missed == 0
        # filter actually prunes most non-members
        kept = flagged.filter(F.col("maybe")).count()
        total = ev.count()
        members = ev.filter(F.col("user_id") % 3 == 0).count()
        assert kept < total
        assert kept >= members

    def test_grouped_bloom(self, spark):
        ev = events(spark)
        rows = bloom_sketch(ev, "user_id", by=("event_type",), expected_n=5000).collect()
        assert len(rows) == ev.select("event_type").distinct().count()
        for r in rows:
            state, k = bloom_k.decode(bytes(r["sketch"]))
            assert 0 < bloom_k.fill_ratio(state) < 0.7


class TestQuantileSketchesSpark:
    def test_kll_quantiles_vs_exact(self, spark):
        ev = events(spark, "sf0.01")
        sk = kll_sketch(ev, "value", by=())
        qs = [0.1, 0.5, 0.9]
        est = sk.select(kll_quantiles_col(qs).alias("q")).collect()[0]["q"]
        vals = np.array([r["value"] for r in ev.select("value").collect()])
        for q, e in zip(qs, est):
            true_rank = (vals <= e).mean()
            assert abs(true_rank - q) <= 0.03, (q, e, true_rank)

    def test_tdigest_grouped_vs_exact(self, spark):
        ev = events(spark, "sf0.01")
        sk = tdigest_sketch(ev, "value", by=("event_type",))
        rows = sk.select("event_type", tdigest_quantiles_col([0.5]).alias("q")).collect()
        pdf = ev.select("event_type", "value").toPandas()
        for r in rows:
            vals = pdf[pdf["event_type"] == r["event_type"]]["value"].to_numpy()
            true_rank = (vals <= r["q"][0]).mean()
            assert abs(true_rank - 0.5) <= 0.05, (r["event_type"], true_rank)

    def test_null_values_ignored(self, spark):
        import pandas as pd

        df = spark.createDataFrame(
            pd.DataFrame({"v": [1.0, None, 3.0, None, 5.0]})
        )
        est = (
            kll_sketch(df, "v", by=())
            .select(kll_quantiles_col([0.5]).alias("q"))
            .collect()[0]["q"]
        )
        assert est[0] == 3.0


class TestBloomPartitionInvariance:
    @pytest.mark.parametrize("partitions", [1, 9])
    def test_bloom_bytes_partition_invariant(self, spark, partitions):
        ev = events(spark).repartition(partitions)
        sk = bloom_sketch(ev, "user_id", m_bits=1 << 14, k=5).collect()[0]["sketch"]
        base = bloom_sketch(events(spark).coalesce(1), "user_id", m_bits=1 << 14, k=5
                            ).collect()[0]["sketch"]
        assert bytes(sk) == bytes(base)  # OR-merge is exact


class TestBloomJoin:
    def test_bloom_filter_join_equals_plain_join(self, spark):
        from pfutil_spark.operators.sketch_agg import bloom_filter_join

        ev = events(spark, "sf0.01")
        right = (
            ev.filter(F.col("user_id") % 7 == 0)
            .select("user_id")
            .distinct()
            .withColumn("tag", F.lit("hit"))
        )
        plain = ev.join(right, "user_id").select("event_id", "tag")
        pre = bloom_filter_join(ev, right, "user_id").select("event_id", "tag")
        assert sorted(r["event_id"] for r in pre.collect()) == sorted(
            r["event_id"] for r in plain.collect()
        )


class TestKMVSpark:
    def test_exact_regime_matches_countdistinct(self, spark):
        from pfutil_spark.operators.sketch_agg import kmv_estimate_col, kmv_sketch

        ev = events(spark)
        est = (
            kmv_sketch(ev, "user_id", by=("event_type",), k=1024)
            .select("event_type", kmv_estimate_col().alias("est"))
            .collect()
        )
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert len(est) == len(exact)
        for r in est:  # < k distincts -> the sketch IS the set
            assert r["est"] == float(exact[r["event_type"]])

    @pytest.mark.parametrize("partitions", [1, 3, 16])
    def test_bytes_partition_invariant(self, spark, partitions):
        from pfutil_spark.operators.sketch_agg import kmv_sketch

        ev = events(spark).repartition(partitions)
        sk = bytes(kmv_sketch(ev, "user_id", k=512).collect()[0]["sketch"])
        base = bytes(kmv_sketch(events(spark).coalesce(1), "user_id", k=512).collect()[0]["sketch"])
        assert sk == base

    def test_sampled_regime_set_ops_vs_exact(self, spark):
        from pfutil_spark.operators.sketch_agg import kmv_set_ops_col, kmv_sketch

        o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        in_a = F.col("o_orderstatus") == "O"
        in_b = F.col("o_totalprice") > 150000
        sa = kmv_sketch(o.filter(in_a), "o_orderkey", k=1024).select(
            F.col("sketch").alias("sa")
        )
        sb = kmv_sketch(o.filter(in_b), "o_orderkey", k=1024).select(
            F.col("sketch").alias("sb")
        )
        got = (
            sa.crossJoin(sb)
            .select(kmv_set_ops_col("sa", "sb").alias("ops"))
            .select("ops.*")
            .collect()[0]
        )
        ex = o.agg(
            F.countDistinct(F.when(in_a | in_b, F.col("o_orderkey"))).alias("u"),
            F.countDistinct(F.when(in_a & in_b, F.col("o_orderkey"))).alias("i"),
            F.countDistinct(F.when(in_a & ~in_b, F.col("o_orderkey"))).alias("d"),
        ).collect()[0]
        assert ex["u"] > 1024, "not in the sampled regime"
        assert abs(got["union_est"] - ex["u"]) <= 0.16 * ex["u"]
        assert abs(got["intersect_est"] - ex["i"]) <= 0.35 * ex["i"]
        assert abs(got["diff_est"] - ex["d"]) <= 0.35 * ex["d"]
        assert abs(got["jaccard"] - ex["i"] / ex["u"]) <= 0.35 * ex["i"] / ex["u"]

    def test_null_elements_ignored(self, spark):
        from pfutil_spark.operators.sketch_agg import kmv_estimate_col, kmv_sketch

        df = spark.createDataFrame(
            [("a",), (None,), ("b",), (None,), ("a",)], "v string"
        )
        got = kmv_sketch(df, "v", k=64).select(kmv_estimate_col().alias("e")).collect()
        assert got[0]["e"] == 2.0

    def test_cms_bloom_null_elements_ignored(self, spark):
        """xxhash64(NULL) = seed regression gate: nulls must not enter
        hash-keyed sketches as a phantom element."""
        from pfutil_spark.kernel import cms as cms_k
        from pfutil_spark.operators.sketch_agg import cms_sketch

        df = spark.createDataFrame(
            [("a",), (None,), ("b",), (None,), ("a",)], "v string"
        )
        sk = bytes(cms_sketch(df, "v").collect()[0]["sketch"])
        assert cms_k.total(cms_k.decode(sk)) == 3  # only non-null rows
        blm = bytes(bloom_sketch(df, "v", expected_n=100).collect()[0]["sketch"])
        state, kk = bloom_k.decode(blm)
        assert int(np.unpackbits(state).sum()) <= 2 * kk  # <= 2 items' bits


class TestKMVSimilarityMatrix:
    def _data(self, spark, n_per=3000, seed=5):
        """Three strata over a shared key space with known overlap
        structure: A/B heavy overlap, C mostly disjoint."""
        rng = np.random.default_rng(seed)
        rows = [("A", int(x)) for x in rng.integers(0, 4000, n_per)]
        rows += [("B", int(x)) for x in rng.integers(2000, 6000, n_per)]
        rows += [("C", int(x)) for x in rng.integers(50_000, 60_000, n_per)]
        return spark.createDataFrame(rows, "s string, k long").repartition(5)

    def _exact(self, df):
        du = df.distinct()
        out = {}
        rows = du.collect()
        by = {}
        for r in rows:
            by.setdefault(r["s"], set()).add(r["k"])
        for a in sorted(by):
            for b in sorted(by):
                if a < b:
                    u = len(by[a] | by[b])
                    i = len(by[a] & by[b])
                    out[(a, b)] = (u, i, i / u)
        return out

    def test_sampled_regime_within_bounds(self, spark):
        from pfutil_spark.operators.rollup import kmv_similarity_matrix

        df = self._data(spark)
        exact = self._exact(df)
        got = {
            (r["a"], r["b"]): r
            for r in kmv_similarity_matrix(df, "k", "s", k=512).collect()
        }
        assert set(got) == set(exact)
        for key, (u, i, j) in exact.items():
            r = got[key]
            assert abs(r["union_est"] - u) <= 0.25 * u, key
            assert abs(r["intersect_est"] - i) <= max(0.35 * i, 0.12 * u), key
            assert abs(r["jaccard"] - j) <= max(0.35 * j, 0.12), key

    def test_exact_regime_is_exact(self, spark):
        """k above every union size: the sketches ARE the sets, so all
        four outputs are exact."""
        from pfutil_spark.operators.rollup import kmv_similarity_matrix

        df = self._data(spark, n_per=400)
        exact = self._exact(df)
        got = {
            (r["a"], r["b"]): r
            for r in kmv_similarity_matrix(df, "k", "s", k=8192).collect()
        }
        for key, (u, i, j) in exact.items():
            r = got[key]
            assert r["union_est"] == float(u), key
            assert r["intersect_est"] == float(i), key
            assert r["jaccard"] == j, key

    def test_single_scan_single_shuffle_broadcast_pairs(self, spark):
        """The matrix must cost ONE data shuffle (the sketch agg); the
        L^2 pairing is a broadcast join of the sketch table."""
        from pfutil_spark.operators.rollup import kmv_similarity_matrix

        df = self._data(spark, n_per=200)
        out = kmv_similarity_matrix(df, "k", "s", k=256)
        out.collect()  # AQE finalizes the plan (ReuseExchange applies)
        ep = out._jdf.queryExecution().executedPlan().toString()
        # the a/b sides are the SAME sketch subtree: the runtime must
        # reuse its shuffle (data folded once), and the pairing must be
        # a broadcast of the tiny sketch table, never a shuffle join
        assert "ReusedExchange" in ep, ep
        assert "BroadcastExchange" in ep, ep


class TestWeightedTDigestSpark:
    def test_weighted_matches_integer_replication(self, spark):
        """Integer weights == replicating each value weight times: the
        weighted sketch's quantiles must land within rank error of the
        exact quantiles of the replicated data, and n must equal the
        exact weight sum."""
        import pandas as pd

        from pfutil_spark.operators.sketch_agg import tdigest_weighted_sketch

        rng = np.random.default_rng(11)
        pdf = pd.DataFrame({
            "grp": rng.integers(0, 3, 4000).astype(str),
            "v": rng.normal(100, 25, 4000),
            "w": rng.integers(1, 7, 4000).astype(float),
        })
        df = spark.createDataFrame(pdf)
        sk = tdigest_weighted_sketch(df, "v", "w", by=("grp",))
        rows = sk.select(
            "grp", tdigest_quantiles_col([0.25, 0.5, 0.9]).alias("q")
        ).collect()
        assert len(rows) == 3
        for r in rows:
            sub = pdf[pdf["grp"] == r["grp"]]
            rep = np.repeat(sub["v"].to_numpy(), sub["w"].to_numpy().astype(int))
            for q, est in zip((0.25, 0.5, 0.9), r["q"]):
                true_rank = (rep <= est).mean()
                assert abs(true_rank - q) <= 0.05, (r["grp"], q, true_rank)

    def test_weighted_null_and_nonpositive_rows_dropped(self, spark):
        import pandas as pd

        from pfutil_spark.kernel import tdigest as td_k
        from pfutil_spark.operators.sketch_agg import tdigest_weighted_sketch

        df = spark.createDataFrame(
            pd.DataFrame({
                "v": [1.0, 2.0, None, 4.0, 5.0],
                "w": [2.0, None, 1.0, 0.0, -3.0],
            })
        )
        buf = tdigest_weighted_sketch(df, "v", "w").collect()[0]["sketch"]
        d = td_k.decode(bytes(buf))
        assert d.n == 2.0  # only (1.0, w=2) survives
        assert d.quantile(0.5) == 1.0

    def test_weighted_direct_emit_matches_accumulation(self, spark):
        """Force the high-cardinality vectorized weighted fold
        (direct_emit_groups=1) and compare against the accumulation
        path: same weight totals, quantiles within rank error."""
        import pandas as pd

        from pfutil_spark.kernel import tdigest as td_k
        from pfutil_spark.operators.sketch_agg import (
            sketch_agg,
            tdigest_spec,
        )

        rng = np.random.default_rng(5)
        pdf = pd.DataFrame({
            "grp": rng.integers(0, 50, 20_000).astype(str),
            "v": rng.normal(0, 1, 20_000),
            "w": rng.random(20_000) * 4,
        })
        df = spark.createDataFrame(pdf).repartition(4)
        spec = tdigest_spec(100)
        fast = sketch_agg(
            df, F.col("v"), spec, ("grp",),
            direct_emit_groups=1, weight=F.col("w"),
        ).collect()
        slow = sketch_agg(
            df, F.col("v"), spec, ("grp",),
            direct_emit_groups=10**9, weight=F.col("w"),
        ).collect()
        a = {r["grp"]: td_k.decode(bytes(r["sketch"])) for r in fast}
        b = {r["grp"]: td_k.decode(bytes(r["sketch"])) for r in slow}
        assert set(a) == set(b) and len(a) == 50
        qs = np.array([0.1, 0.5, 0.9])
        for g in a:
            assert abs(a[g].n - b[g].n) < 1e-6 * max(1.0, b[g].n)
            sub = pdf[pdf["grp"] == g]
            rep_v, rep_w = sub["v"].to_numpy(), sub["w"].to_numpy()
            order = np.argsort(rep_v)
            cw = np.cumsum(rep_w[order])
            for q, ea, eb in zip(qs, a[g].quantile(qs), b[g].quantile(qs)):
                for est in (ea, eb):
                    true_rank = cw[np.searchsorted(rep_v[order], est, "right") - 1] / cw[-1] if est >= rep_v[order][0] else 0.0
                    assert abs(true_rank - q) <= 0.06, (g, q, est, true_rank)

    def test_weight_requires_spec_hook(self, spark):
        # bloom has no weighted semantics (membership is weight-blind)
        from pfutil_spark.operators.sketch_agg import bloom_spec, sketch_agg

        df = spark.range(10).select(F.col("id").alias("v"))
        with pytest.raises(ValueError, match="weighted"):
            sketch_agg(
                df, F.xxhash64("v"), bloom_spec(1 << 10, 3), weight=F.col("v")
            ).collect()


class TestWeightedCMSSpark:
    def test_weighted_counts_never_undercount_and_track_exact(self, spark):
        import pandas as pd

        from pfutil_spark.operators.sketch_agg import cms_weighted_sketch

        rng = np.random.default_rng(19)
        pdf = pd.DataFrame({
            "tok": rng.integers(0, 200, 8000).astype(str),
            "nbytes": rng.integers(1, 50, 8000),
        })
        df = spark.createDataFrame(pdf).repartition(5)
        sk = cms_weighted_sketch(df, "tok", "nbytes", depth=5, width=4096)
        items = sorted(pdf["tok"].unique())
        est = (
            sk.select(cms_counts_col(df, items).alias("c"))
            .collect()[0]["c"]
        )
        exact = pdf.groupby("tok")["nbytes"].sum()
        total = int(pdf["nbytes"].sum())
        eps = 2.0 * np.e / 4096
        for tok, e in zip(items, est):
            x = int(exact[tok])
            assert e >= x, (tok, e, x)  # never undercount, weighted
            assert e - x <= eps * total + 1, (tok, e, x)


class TestWeightedKLLSpark:
    def test_weighted_matches_integer_replication(self, spark):
        """kll_weighted_sketch(v, w) quantiles must land within rank
        error of the exact weighted quantiles, per group."""
        import pandas as pd

        from pfutil_spark.kernel import kll as kll_k
        from pfutil_spark.operators.sketch_agg import (
            kll_quantiles_col,
            kll_weighted_sketch,
        )

        rng = np.random.default_rng(21)
        pdf = pd.DataFrame({
            "grp": rng.integers(0, 4, 12_000).astype(str),
            "v": rng.uniform(0, 100, 12_000),
            "w": rng.integers(1, 50, 12_000),
        })
        df = spark.createDataFrame(pdf).repartition(4)
        rows = (
            kll_weighted_sketch(df, "v", "w", by=("grp",))
            .select("grp", kll_quantiles_col([0.1, 0.5, 0.9]).alias("qs"), "sketch")
            .collect()
        )
        assert len(rows) == 4
        for r in rows:
            sub = pdf[pdf["grp"] == r["grp"]]
            order = np.argsort(sub["v"].to_numpy())
            sv = sub["v"].to_numpy()[order]
            cw = np.cumsum(sub["w"].to_numpy()[order])
            assert kll_k.decode(bytes(r["sketch"])).n == int(cw[-1])
            for q, est in zip((0.1, 0.5, 0.9), r["qs"]):
                rank = cw[np.searchsorted(sv, est, "right") - 1] / cw[-1]
                assert abs(rank - q) <= 0.04, (r["grp"], q, est, rank)

    def test_weighted_direct_emit_matches_accumulation_bytes(self, spark):
        """Single upstream partition + one Arrow batch: the vectorized
        weighted fold (direct_emit_groups=1) and the accumulation path
        see identical per-group row sequences, so the no-compaction
        byte parity of the kernel must survive the whole plan."""
        import pandas as pd

        from pfutil_spark.operators.sketch_agg import kll_spec, sketch_agg

        rng = np.random.default_rng(22)
        pdf = pd.DataFrame({
            "grp": rng.integers(0, 60, 3000).astype(str),
            "v": rng.normal(0, 1, 3000),
            "w": rng.integers(1, 6, 3000),
        })
        df = spark.createDataFrame(pdf).coalesce(1)
        spec = kll_spec(200)
        fast = {
            r["grp"]: bytes(r["sketch"])
            for r in sketch_agg(
                df, F.col("v"), spec, ("grp",),
                direct_emit_groups=1, weight=F.col("w").cast("long"),
            ).collect()
        }
        slow = {
            r["grp"]: bytes(r["sketch"])
            for r in sketch_agg(
                df, F.col("v"), spec, ("grp",),
                direct_emit_groups=10**9, weight=F.col("w").cast("long"),
            ).collect()
        }
        assert fast == slow and len(fast) == 60

    def test_weighted_null_and_nonpositive_rows_dropped(self, spark):
        from pfutil_spark.kernel import kll as kll_k
        from pfutil_spark.operators.sketch_agg import kll_weighted_sketch

        df = spark.createDataFrame(
            [(1.0, 3.0), (2.0, None), (None, 5.0), (4.0, 0.0),
             (5.0, -2.0), (6.0, float("nan"))],
            "v double, w double",
        )
        buf = kll_weighted_sketch(df, "v", "w").collect()[0]["sketch"]
        sk = kll_k.decode(bytes(buf))
        assert sk.n == 3 and sk.quantile(0.5) == 1.0

    def test_unit_weight_bytes_equal_unweighted(self, spark):
        """weight=1 must be byte-identical to the unweighted sketch —
        the guarantee t-digest's float path can't make, KLL's binary
        expansion can."""
        from pfutil_spark.operators.sketch_agg import kll_sketch, kll_weighted_sketch

        df = (
            spark.range(5000)
            .select(
                (F.col("id") % 7).cast("string").alias("grp"),
                (F.col("id") * 0.37).alias("v"),
                F.lit(1).alias("w"),
            )
            .coalesce(1)
        )
        a = {r["grp"]: bytes(r["sketch"]) for r in kll_sketch(df, "v", by=("grp",)).collect()}
        b = {
            r["grp"]: bytes(r["sketch"])
            for r in kll_weighted_sketch(df, "v", "w", by=("grp",)).collect()
        }
        assert a == b and len(a) == 7

    def test_byte_gate_lazy_on_accumulation_path(self, spark):
        """The weighted byte bound (a popcount scan of the whole weight
        array) must NOT be evaluated on batches that take the
        accumulation path — low-cardinality batches pay only the cheap
        n_groups gate."""
        import dataclasses

        from pfutil_spark.operators.sketch_agg import kll_spec, sketch_agg

        def boom(g, n, w):  # pragma: no cover - failure marker
            raise AssertionError("byte bound computed on accumulation path")

        spec = dataclasses.replace(kll_spec(), fold_bytes_bound_weighted=boom)
        df = (
            spark.range(2000)
            .select(
                (F.col("id") % 3).cast("string").alias("grp"),
                (F.col("id") * 0.31).alias("v"),
                (F.col("id") % 5 + 1).alias("w"),
            )
            .coalesce(1)
        )
        out = sketch_agg(
            df, F.col("v"), spec, by=("grp",), weight=F.col("w"),
            direct_emit_groups=1 << 30,
        )
        assert out.count() == 3  # would raise if the bound were eager

    def test_weighted_metric_needs_both_weighted_hooks(self, spark):
        """A weighted metric is refused up front, before any job, unless
        its spec has both ``update_weighted`` (accumulation) and
        ``fold_groups_weighted`` (direct emit)."""
        import dataclasses

        from pfutil_spark.operators.sketch_agg import kll_spec, kmv_spec, sketch_agg

        df = spark.createDataFrame([("a", 1.0, 2)], "grp string, v double, w long")
        for spec in (
            kmv_spec(),  # neither hook
            dataclasses.replace(kll_spec(), fold_groups_weighted=None),
            dataclasses.replace(kll_spec(), update_weighted=None),
        ):
            with pytest.raises(ValueError, match="does not support weighted"):
                sketch_agg(df, F.col("v"), spec, by=("grp",), weight=F.col("w"))


class TestWeightedSpaceSavingSpark:
    def test_exact_regime_weighted_totals(self, spark):
        """distinct <= m: weighted SpaceSaving totals are EXACT and
        theta stays 0; resumable-job pass-through builds the same."""
        import pandas as pd

        from pfutil_spark.kernel import spacesaving as ss_k
        from pfutil_spark.operators.sketch_agg import (
            spacesaving_topk_col,
            spacesaving_weighted_sketch,
        )

        rng = np.random.default_rng(23)
        pdf = pd.DataFrame({
            "val": rng.integers(0, 12, 6000).astype(str),
            "w": rng.integers(1, 100, 6000),
        })
        df = spark.createDataFrame(pdf).repartition(7)
        sk = spacesaving_weighted_sketch(df, "val", "w", m=64)
        buf = sk.collect()[0]["sketch"]
        d = ss_k.decode(bytes(buf))
        exact = pdf.groupby("val")["w"].sum()
        assert d.theta == 0
        assert d.n == int(pdf["w"].sum())
        top = sk.select(spacesaving_topk_col(5).alias("t")).collect()[0]["t"]
        expect = sorted(
            ((int(c), v) for v, c in exact.items()), key=lambda t: (-t[0], t[1])
        )[:5]
        got = [(r["est_count"], r["value"]) for r in top]
        assert got == expect
        assert all(r["max_overcount"] == 0 for r in top)

    def test_weighted_nonpositive_and_null_dropped(self, spark):
        import pandas as pd

        from pfutil_spark.kernel import spacesaving as ss_k
        from pfutil_spark.operators.sketch_agg import spacesaving_weighted_sketch

        df = spark.createDataFrame(
            pd.DataFrame({
                "val": ["a", "a", "b", "c", None],
                "w": [3.0, None, 0.0, -5.0, 7.0],
            })
        )
        buf = spacesaving_weighted_sketch(df, "val", "w", m=8).collect()[0]["sketch"]
        d = ss_k.decode(bytes(buf))
        assert d.counts == {"a": 3}
        assert d.n == 3

    def test_weighted_resumable_job_roundtrip(self, spark, tmp_path):
        import pandas as pd
        from pyspark.sql import functions as F2

        from pfutil_spark.kernel import spacesaving as ss_k
        from pfutil_spark.operators.sketch_agg import spacesaving_spec
        from pfutil_spark.sources.checkpoint import ResumableSketchJob

        pdf = pd.DataFrame({
            "grp": (["x"] * 50 + ["y"] * 50),
            "val": [str(i % 7) for i in range(100)],
            "w": list(range(1, 101)),
        })
        df = spark.createDataFrame(pdf).repartition(3)
        job = ResumableSketchJob(
            spark, str(tmp_path / "wss"), spacesaving_spec(16), by=("grp",)
        )
        out = job.run(
            df, F2.col("val").cast("string"), weight=F2.col("w").cast("long")
        )
        got = {r["grp"]: ss_k.decode(bytes(r["sketch"])) for r in out.collect()}
        for g in ("x", "y"):
            sub = pdf[pdf["grp"] == g]
            exact = sub.groupby("val")["w"].sum()
            assert got[g].n == int(sub["w"].sum())
            for v, c in exact.items():
                assert got[g].estimate(v) == int(c)  # theta 0: exact
        # resume: rerunning returns the checkpointed result
        out2 = job.run(df, F2.col("val").cast("string"), weight=F2.col("w").cast("long"))
        a = sorted((r["grp"], bytes(r["sketch"])) for r in out.collect())
        b = sorted((r["grp"], bytes(r["sketch"])) for r in out2.collect())
        assert a == b


class TestSketchMulti:
    def test_multi_equals_single_metric_jobs(self, spark):
        """One-scan multi-sketch report == the separate single-metric
        jobs: byte-equal for the byte-deterministic sketches (KMV, CMS),
        weight-total-equal + quantile-close for t-digest."""
        from pfutil_spark.kernel import kmv as kmv_k
        from pfutil_spark.kernel import tdigest as td_k
        from pfutil_spark.operators.sketch_agg import (
            cms_sketch,
            cms_spec,
            kmv_sketch,
            kmv_spec,
            sketch_multi,
            tdigest_sketch,
            tdigest_spec,
        )

        ev = events(spark, "sf0.001").select("event_type", "user_id", "value")
        metrics = {
            "users_kmv": (_null_safe_hash("user_id"), kmv_spec(256)),
            "value_td": (F.col("value").cast("double"), tdigest_spec(100)),
            "users_cms": (_null_safe_hash("user_id"), cms_spec(4, 1024)),
        }
        multi = {
            r["event_type"]: r
            for r in sketch_multi(ev, metrics, by=("event_type",)).collect()
        }
        kk = {
            r["event_type"]: bytes(r["sketch"])
            for r in kmv_sketch(ev, "user_id", by=("event_type",), k=256).collect()
        }
        cc = {
            r["event_type"]: bytes(r["sketch"])
            for r in cms_sketch(
                ev, "user_id", by=("event_type",), depth=4, width=1024
            ).collect()
        }
        tt = {
            r["event_type"]: bytes(r["sketch"])
            for r in tdigest_sketch(ev, "value", by=("event_type",)).collect()
        }
        assert set(multi) == set(kk)
        for et, r in multi.items():
            assert bytes(r["users_kmv"]) == kk[et]
            assert bytes(r["users_cms"]) == cc[et]
            a, b = td_k.decode(bytes(r["value_td"])), td_k.decode(tt[et])
            assert a.n == b.n
            qs = np.array([0.1, 0.5, 0.9])
            span = max(1e-9, b.vmax - b.vmin)
            assert np.abs(a.quantile(qs) - b.quantile(qs)).max() <= 0.05 * span
            # KMV estimates usable straight off the multi column
            assert kmv_k.decode(bytes(r["users_kmv"])).estimate() >= 0

    def test_multi_per_metric_nulls_and_empty_groups(self, spark):
        import pandas as pd

        from pfutil_spark.kernel import kmv as kmv_k
        from pfutil_spark.kernel import tdigest as td_k
        from pfutil_spark.operators.sketch_agg import (
            kmv_spec,
            sketch_multi,
            tdigest_spec,
        )

        pdf = pd.DataFrame({
            "g": ["a", "a", "b", "b"],
            "u": ["u1", "u2", None, None],   # b: all-null for the KMV metric
            "v": [None, None, 1.0, 2.0],     # a: all-null for the t-digest
        })
        df = spark.createDataFrame(pdf)
        out = {
            r["g"]: r
            for r in sketch_multi(
                df,
                {
                    "u_kmv": (_null_safe_hash("u"), kmv_spec(16)),
                    "v_td": (F.col("v").cast("double"), tdigest_spec(50)),
                },
                by=("g",),
            ).collect()
        }
        assert kmv_k.decode(bytes(out["a"]["u_kmv"])).estimate() == 2
        assert kmv_k.decode(bytes(out["b"]["u_kmv"])).estimate() == 0
        assert td_k.decode(bytes(out["a"]["v_td"])).n == 0
        assert td_k.decode(bytes(out["b"]["v_td"])).n == 2

    def test_multi_direct_emit_matches_accumulation_bytes(self, spark):
        """High-cardinality direct emit (every spec's vectorized fold)
        produces byte-identical results to the accumulation path for the
        byte-deterministic sketches."""
        from pfutil_spark.operators.sketch_agg import (
            cms_spec,
            kmv_spec,
            sketch_multi,
        )

        df = (
            spark.range(30_000)
            .select(
                (F.col("id") % 6000).cast("string").alias("k"),
                F.col("id").alias("x"),
            )
            .withColumn("hx", _null_safe_hash("x"))
            .repartition(4)
        )
        metrics = {
            "m_kmv": (F.col("hx"), kmv_spec(32)),
            "m_cms": (F.col("hx"), cms_spec(3, 256)),
        }
        fast = {
            r["k"]: (bytes(r["m_kmv"]), bytes(r["m_cms"]))
            for r in sketch_multi(df, metrics, by=("k",), direct_emit_groups=1).collect()
        }
        slow = {
            r["k"]: (bytes(r["m_kmv"]), bytes(r["m_cms"]))
            for r in sketch_multi(
                df, metrics, by=("k",), direct_emit_groups=10**9
            ).collect()
        }
        assert fast == slow and len(fast) == 6000

    def test_multi_single_shuffle_plan(self, spark):
        from pfutil_spark.operators.sketch_agg import (
            kmv_spec,
            sketch_multi,
            tdigest_spec,
        )

        ev = events(spark, "sf0.001")
        df = sketch_multi(
            ev,
            {
                "a": (_null_safe_hash("user_id"), kmv_spec(64)),
                "b": (F.col("value").cast("double"), tdigest_spec(50)),
            },
            by=("event_type",),
        )
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        n_exchange = plan.count("Exchange")
        assert n_exchange == 1, plan


class TestQuantileBucketing:
    def test_bucket_col_pure_jvm_and_balanced(self, spark):
        """tdigest_edges + bucket_col: deciles of a continuous column
        land ~10% per bucket; the bucketing plan has no Python nodes;
        null values bucket to NULL."""
        from pfutil_spark.operators.sketch_agg import (
            bucket_col,
            tdigest_edges,
            tdigest_sketch,
        )

        df = spark.range(20_000).select(
            (F.col("id") % 9973).cast("double").alias("v")
        )
        edges = tdigest_edges(tdigest_sketch(df, "v"), [i / 10 for i in range(1, 10)])
        assert len(edges) == 9 and edges == sorted(edges)
        bucketed = df.select(bucket_col("v", edges).alias("b"))
        plan = bucketed._jdf.queryExecution().explainString(
            bucketed._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "Python" not in plan, plan
        counts = {r["b"]: r["count"] for r in bucketed.groupBy("b").count().collect()}
        assert set(counts) == set(range(10))
        for b, c in counts.items():
            assert abs(c / 20_000 - 0.1) <= 0.05, (b, c)
        # nulls stay null
        df2 = spark.createDataFrame([(None,), (1.0,)], "v double")
        got = {r["v"]: r["b"] for r in df2.select("v", bucket_col("v", edges).alias("b")).collect()}
        assert got[None] is None and got[1.0] == 0


class TestSketchMultiWeighted:
    def test_weighted_metric_equals_single_weighted_job(self, spark):
        """A 3-tuple (element, spec, weight) metric inside sketch_multi
        equals the standalone weighted job: byte-equal for weighted CMS,
        weight-total-equal for weighted t-digest; unweighted metrics in
        the same call are unaffected (byte-equal to their single jobs)."""
        import pandas as pd

        from pfutil_spark.kernel import tdigest as td_k
        from pfutil_spark.operators.sketch_agg import (
            cms_spec,
            cms_weighted_sketch,
            kmv_sketch,
            kmv_spec,
            sketch_multi,
            tdigest_spec,
            tdigest_weighted_sketch,
            _long_weight,
        )

        rng = np.random.default_rng(31)
        pdf = pd.DataFrame({
            "grp": rng.integers(0, 4, 6000).astype(str),
            "tok": rng.integers(0, 300, 6000).astype(str),
            "v": rng.normal(10, 3, 6000),
            "w": rng.integers(1, 20, 6000),
        })
        df = (
            spark.createDataFrame(pdf)
            .withColumn("htok", _null_safe_hash("tok"))
            .repartition(5)
        )
        metrics = {
            "tok_cms_w": (F.col("htok"), cms_spec(4, 512), _long_weight("w")),
            "v_td_w": (
                F.col("v").cast("double"),
                tdigest_spec(100),
                F.col("w").cast("double"),
            ),
            "tok_kmv": (F.col("htok"), kmv_spec(64)),
        }
        multi = {
            r["grp"]: r for r in sketch_multi(df, metrics, by=("grp",)).collect()
        }
        cms_single = {
            r["grp"]: bytes(r["sketch"])
            for r in cms_weighted_sketch(
                df, "tok", "w", by=("grp",), depth=4, width=512
            ).collect()
        }
        kmv_single = {
            r["grp"]: bytes(r["sketch"])
            for r in kmv_sketch(df, "tok", by=("grp",), k=64).collect()
        }
        td_single = {
            r["grp"]: td_k.decode(bytes(r["sketch"]))
            for r in tdigest_weighted_sketch(df, "v", "w", by=("grp",)).collect()
        }
        for g, r in multi.items():
            assert bytes(r["tok_cms_w"]) == cms_single[g]
            assert bytes(r["tok_kmv"]) == kmv_single[g]
            a = td_k.decode(bytes(r["v_td_w"]))
            assert abs(a.n - td_single[g].n) <= 1e-9 * td_single[g].n
            exact_w = pdf[pdf["grp"] == g]["w"].sum()
            assert abs(a.n - exact_w) <= 1e-9 * exact_w

    def test_weighted_direct_emit_matches_accumulation(self, spark):
        import pandas as pd

        from pfutil_spark.operators.sketch_agg import (
            cms_spec,
            sketch_multi,
            _long_weight,
            _null_safe_hash,
        )

        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({
            "k": rng.integers(0, 5000, 20_000).astype(str),
            "w": rng.integers(1, 9, 20_000),
        })
        df = (
            spark.createDataFrame(pdf)
            .withColumn("hk", _null_safe_hash("k"))
            .repartition(4)
        )
        metrics = {"m": (F.col("hk"), cms_spec(3, 256), _long_weight("w"))}
        fast = {
            r["k"]: bytes(r["m"])
            for r in sketch_multi(df, metrics, by=("k",), direct_emit_groups=1).collect()
        }
        slow = {
            r["k"]: bytes(r["m"])
            for r in sketch_multi(
                df, metrics, by=("k",), direct_emit_groups=10**9
            ).collect()
        }
        assert fast == slow and len(fast) == pdf["k"].nunique()

    def test_weighted_metric_requires_hook(self, spark):
        import pytest as pt

        from pfutil_spark.operators.sketch_agg import bloom_spec, sketch_multi

        # bloom has no weighted hooks (set membership has no rank mass)
        df = spark.range(5).select(F.col("id").cast("double").alias("v"))
        with pt.raises(ValueError, match="weighted"):
            sketch_multi(
                df, {"x": (F.col("v"), bloom_spec(), F.col("v"))}, by=()
            )


def test_cms_literal_hashes_run_no_job(spark):
    """``cms_counts_col`` hashes its items over a one-row local relation:
    the same xxhash64 values as selecting the literals over
    ``spark.range(1)``, with no Spark job."""
    from pfutil_spark.operators.sketch_agg import _hash_literals
    from tests._spark_counts import spark_counts

    items = ["a", "héllo wörld ✓", "", "x" * 100, 7, 2**40, 1.5, None, b"\x00\xff", True]
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(it)).alias(f"h{i}") for i, it in enumerate(items)]
    ).collect()[0]
    want = [row[f"h{i}"] for i in range(len(items))]
    df = spark.range(3)
    with spark_counts(spark) as c:
        got = _hash_literals(df, items)
    assert got.dtype == np.int64
    assert got.tolist() == want
    assert c.jobs == 0
