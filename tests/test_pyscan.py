"""Round-6: python-native parquet scan fast path (operators/pyscan.py).

The fast path replaces the JVM scan -> row -> Arrow -> Python boundary
with a worker-side pyarrow columnar read when the partial's input is
exactly a projection over a small local parquet relation. These gates
pin (a) result equality against the JVM path for every supported shape,
(b) byte equality of MERGED sketches (canonical-encoder invariant), and
(c) that every unsupported plan feature falls back rather than engaging.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pfutil_spark.operators import pf_count_distinct, pf_partial, pf_sketch
from pfutil_spark.operators import pyscan
from pfutil_spark.operators.multi import pf_count_distinct_multi

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def _with_pyscan(spark, enabled: bool):
    spark.conf.set("pfutil.pyscan.enabled", "true" if enabled else "false")


@pytest.fixture(autouse=True)
def _reset_conf(spark):
    yield
    for key in ("enabled", "maxInputBytes", "targetTasks", "minRowsPerTask"):
        spark.conf.unset(f"pfutil.pyscan.{key}")


def _li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "ok", F.col("l_orderkey").cast("string")
    )


def test_pyscan_engages_on_cast_projection(spark):
    df = _li(spark)
    pruned = df.select("l_returnflag", "ok")
    plan = pyscan.try_parquet_pyscan(pruned, ["l_returnflag", "ok"])
    assert plan is not None
    assert plan.columns == {
        "l_returnflag": ("l_returnflag", False),
        "ok": ("l_orderkey", True),
    }
    # pyscan reads ONLY the two needed parquet columns (the column-
    # pruning property, now enforced on the python side)
    assert sorted({src for src, _ in plan.columns.values()}) == [
        "l_orderkey",
        "l_returnflag",
    ]
    total = sum(ln for _, _, _, ln in plan.specs)
    assert total == spark.read.parquet(f"{SF}/lineitem.parquet").count()


def test_pyscan_results_match_jvm_scan(spark):
    for by, version in [((), 4), (("l_returnflag",), 4), (("l_returnflag",), 5)]:
        _with_pyscan(spark, False)
        old = _rows(pf_count_distinct(_li(spark), "ok", by=by, version=version))
        _with_pyscan(spark, True)
        new = _rows(pf_count_distinct(_li(spark), "ok", by=by, version=version))
        assert old == new, (by, version)


def test_pyscan_merged_sketch_bytes_identical(spark):
    _with_pyscan(spark, False)
    old = _rows(pf_sketch(_li(spark), "ok", by=("l_returnflag",)))
    _with_pyscan(spark, True)
    new = _rows(pf_sketch(_li(spark), "ok", by=("l_returnflag",)))
    assert old == new  # includes the sketch BYTES — canonical encoding


def test_pyscan_multi_results_match(spark):
    def q():
        ev = (
            spark.read.parquet(f"{SF}/events.parquet")
            .withColumn("uid", F.col("user_id").cast("string"))
            .withColumn("eid", F.col("event_id").cast("string"))
        )
        return pf_count_distinct_multi(ev, ["uid", "eid"], by=("event_type",))

    _with_pyscan(spark, False)
    old = _rows(q())
    _with_pyscan(spark, True)
    new = _rows(q())
    assert old == new


def test_pyscan_null_elements_and_keys(spark, tmp_path):
    p = str(tmp_path / "nulls.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array(["a", None, "a", "b", None, "b", "a", None]),
                "v": pa.array([1, 2, None, 4, 5, None, 7, 8], type=pa.int64()),
            }
        ),
        p,
    )
    df = spark.read.parquet(p).withColumn("vs", F.col("v").cast("string"))
    _with_pyscan(spark, True)
    assert pyscan.try_parquet_pyscan(df.select("k", "vs"), ["k", "vs"]) is not None
    new = _rows(pf_count_distinct(df, "vs", by=("k",)))
    _with_pyscan(spark, False)
    old = _rows(pf_count_distinct(df, "vs", by=("k",)))
    assert old == new


def test_pyscan_empty_and_multifile(spark, tmp_path):
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({"v": pa.array([], type=pa.int64())}), empty)
    df = spark.read.parquet(empty).withColumn("vs", F.col("v").cast("string"))
    _with_pyscan(spark, True)
    assert _rows(pf_count_distinct(df, "vs", by=())) == [(0,)]

    multi = str(tmp_path / "multi")
    os.makedirs(multi)
    for i in range(3):
        pq.write_table(
            pa.table({"v": pa.array(range(i * 10, i * 10 + 10), type=pa.int64())}),
            f"{multi}/part-{i}.parquet",
        )
    df = spark.read.parquet(multi).withColumn("vs", F.col("v").cast("string"))
    plan = pyscan.try_parquet_pyscan(df.select("vs"), ["vs"])
    assert plan is not None and len(plan.files) == 3
    _with_pyscan(spark, False)
    old = _rows(pf_count_distinct(df, "vs", by=()))
    _with_pyscan(spark, True)
    assert _rows(pf_count_distinct(df, "vs", by=())) == old


def test_pyscan_falls_back_on_unsupported_plans(spark):
    li = _li(spark)
    # filter in the plan
    assert (
        pyscan.try_parquet_pyscan(
            li.filter(F.col("l_orderkey") > 5).select("ok"), ["ok"]
        )
        is None
    )
    # non-integral cast (double -> string rendering is engine-specific)
    d = li.withColumn("qs", F.col("l_quantity").cast("string"))
    assert pyscan.try_parquet_pyscan(d.select("qs"), ["qs"]) is None
    # computed expression
    e = li.withColumn("h", F.sha2(F.col("ok"), 256))
    assert pyscan.try_parquet_pyscan(e.select("h"), ["h"]) is None
    # size gate
    spark.conf.set("pfutil.pyscan.maxInputBytes", "1")
    assert pyscan.try_parquet_pyscan(li.select("ok"), ["ok"]) is None
    spark.conf.unset("pfutil.pyscan.maxInputBytes")
    # disabled by conf
    _with_pyscan(spark, False)
    assert pyscan.try_parquet_pyscan(li.select("ok"), ["ok"]) is None


def test_pyscan_falls_back_on_schema_evolution(spark, tmp_path):
    """A directory where one file predates a column (the JVM scan
    null-fills it) must use the JVM scan — the pyarrow read would drop
    the missing column and KeyError on the worker."""
    d = str(tmp_path / "evolved")
    os.makedirs(d)
    pq.write_table(
        pa.table({"v": pa.array([1, 2], type=pa.int64())}), f"{d}/old.parquet"
    )
    pq.write_table(
        pa.table(
            {"v": pa.array([3, 4], type=pa.int64()), "k": pa.array(["a", "b"])}
        ),
        f"{d}/new.parquet",
    )
    df = (
        spark.read.schema("v long, k string")
        .parquet(d)
        .withColumn("vs", F.col("v").cast("string"))
    )
    assert pyscan.try_parquet_pyscan(df.select("k", "vs"), ["k", "vs"]) is None
    # and the end-to-end query (JVM fallback) still answers
    got = _rows(pf_count_distinct(df, "vs", by=("k",)))
    assert len(got) == 3  # k in {a, b, NULL}


def test_pyscan_lineage_uses_jvm_scan(spark):
    part = pf_partial(_li(spark), "ok", by=(), lineage=True)
    assert "_partition_id" in part.columns
    # lineage partials must carry REAL scan partition ids — plan keeps
    # the parquet relation (no Range fast-path source)
    from tests.conftest import plan_of

    assert "Range" not in plan_of(part, "simple")


def test_fused_count_matches_two_stage(spark):
    """pf_count_distinct's fused merge+count == explicit merge then
    pf_count_col (the r5 two-stage structure)."""
    from pfutil_spark.operators import pf_count_col, pf_merge
    from pfutil_spark.operators.hll_agg import SKETCH_COL

    li = _li(spark)
    fused = _rows(pf_count_distinct(li, "ok", by=("l_returnflag",)))
    partials = pf_partial(_li(spark), "ok", by=("l_returnflag",))
    merged = pf_merge(partials, ["l_returnflag"])
    two_stage = _rows(
        merged.select("l_returnflag", pf_count_col(SKETCH_COL, 4).alias("estimate"))
    )
    assert fused == two_stage


# ---------------------------------------------------------------------------
# balanced task planning
# ---------------------------------------------------------------------------


def _row_groups(path: str) -> list[int]:
    md = pq.ParquetFile(path).metadata
    return [md.row_group(i).num_rows for i in range(md.num_row_groups)]


def _check_slices(plan, files_rgs: dict[int, list[int]], total: int) -> None:
    """Every slice lies inside one row group; slices tile the input."""
    assert sum(ln for _, _, _, ln in plan.specs) == total
    for fi, rg, start, ln in plan.specs:
        assert ln > 0 and start >= 0 and start + ln <= files_rgs[fi][rg]
    # tasks partition the slice list in order
    assert plan.tasks[0][0] == 0 and plan.tasks[-1][1] == len(plan.specs)
    assert all(a[1] == b[0] for a, b in zip(plan.tasks, plan.tasks[1:]))


def test_pyscan_balances_tasks_across_row_groups(spark, tmp_path):
    """300k rows in 4 row groups of 75k on targetTasks=3: 3 tasks of
    100k rows (one wave), not one task per row group."""
    p = str(tmp_path / "rg.parquet")
    pq.write_table(
        pa.table({"v": pa.array(range(300_000), type=pa.int64())}),
        p,
        row_group_size=75_000,
    )
    assert _row_groups(p) == [75_000] * 4
    spark.conf.set("pfutil.pyscan.targetTasks", "3")
    df = spark.read.parquet(p).withColumn("vs", F.col("v").cast("string"))
    plan = pyscan.try_parquet_pyscan(df.select("vs"), ["vs"])
    assert plan is not None
    rows = [sum(plan.specs[i][3] for i in range(a, b)) for a, b in plan.tasks]
    assert rows == [100_000] * 3
    _check_slices(plan, {0: _row_groups(p)}, 300_000)


def test_pyscan_merged_bytes_match_jvm_for_any_task_count(spark, tmp_path):
    p = str(tmp_path / "small.parquet")
    n = 30_000
    pq.write_table(
        pa.table(
            {
                "k": pa.array([f"g{i % 7}" for i in range(n)]),
                "v": pa.array(range(n), type=pa.int64()),
            }
        ),
        p,
        row_group_size=7_500,
    )
    df = spark.read.parquet(p).withColumn("vs", F.col("v").cast("string"))
    _with_pyscan(spark, False)
    jvm = _rows(pf_sketch(df, "vs", by=("k",)))
    _with_pyscan(spark, True)
    spark.conf.set("pfutil.pyscan.minRowsPerTask", "1000")
    for target in range(1, 6):
        spark.conf.set("pfutil.pyscan.targetTasks", str(target))
        plan = pyscan.try_parquet_pyscan(df.select("k", "vs"), ["k", "vs"])
        assert plan is not None and len(plan.tasks) == target
        _check_slices(plan, {0: _row_groups(p)}, n)
        assert _rows(pf_sketch(df, "vs", by=("k",))) == jvm, target


def _benchmark_shaped_corpus(d: str, files: int = 4, rows_per_file: int = 75_000) -> None:
    """The north report's input shape: 300k source-file rows in 4 parquet
    files of one row group each (plus the profile report's ``size``)."""
    langs = ["JavaScript", "Python", "Java", "C", "Go"]
    os.makedirs(d)
    for f in range(files):
        ids = range(f * rows_per_file, (f + 1) * rows_per_file)
        pq.write_table(
            pa.table(
                {
                    "lang": pa.array([langs[i % 5] for i in ids]),
                    "repo": pa.array([f"repo{i // 40}" for i in ids]),
                    "path": pa.array([f"src/{i // 10}.x" for i in ids]),
                    "commit": pa.array([f"{i * 2654435761 % 2**40:010x}" for i in ids]),
                    "content_sha": pa.array([f"{i // 5:064x}" for i in ids]),
                    "size": pa.array([float(i * 7919 % 100_003) for i in ids]),
                }
            ),
            f"{d}/part-{f:05d}.parquet",
        )


def test_report_stage_p_runs_one_wave(spark, tmp_path):
    """On 3 cores (targetTasks=3) the north report's stage P over 4
    row groups of 75k rows runs 3 tasks, where one task per row group
    ran 4 — and answers as the JVM scan does."""
    from pfutil_spark.operators.multi import sourcecode_distinct_report
    from tests._spark_counts import spark_counts

    d = str(tmp_path / "corpus")
    _benchmark_shaped_corpus(d)
    spark.conf.set("pfutil.pyscan.targetTasks", "3")
    df = spark.read.parquet(d)
    with spark_counts(spark) as c:
        got = _rows(sourcecode_distinct_report(df))
    assert c.stage_tasks[min(c.stage_tasks)] == 3
    _with_pyscan(spark, False)
    assert _rows(sourcecode_distinct_report(spark.read.parquet(d))) == got


# ---------------------------------------------------------------------------
# footers and confs the pyarrow read must not take
# ---------------------------------------------------------------------------


def test_pyscan_falls_back_on_legacy_date_rebase(spark, tmp_path):
    """Spark marks files whose dates it rebased to the hybrid Julian
    calendar; only the JVM scan rebases them back."""
    import datetime

    tbl = pa.table(
        {
            "d": pa.array([datetime.date(1500, 1, 1), datetime.date(2020, 1, 1)]),
            "v": pa.array([1, 2], type=pa.int64()),
        }
    )
    plain = str(tmp_path / "plain.parquet")
    legacy = str(tmp_path / "legacy.parquet")
    pq.write_table(tbl, plain)
    pq.write_table(
        tbl.replace_schema_metadata({"org.apache.spark.legacyDateTime": ""}), legacy
    )
    for path, engages in ((plain, True), (legacy, False)):
        df = spark.read.parquet(path).withColumn("vs", F.col("v").cast("string"))
        plan = pyscan.try_parquet_pyscan(df.select("d", "vs"), ["d", "vs"])
        assert (plan is not None) == engages, path
        # no date column read: the marker does not matter
        assert pyscan.try_parquet_pyscan(df.select("vs"), ["vs"]) is not None


def test_pyscan_checks_codecs_in_every_row_group(spark, tmp_path, monkeypatch):
    """A codec pyarrow cannot decode in a LATER row group must fall back
    too (the footer check used to look at row group 0 only)."""
    p = str(tmp_path / "codecs.parquet")
    pq.write_table(
        pa.table({"v": pa.array(range(100), type=pa.int64())}), p, row_group_size=50
    )
    df = spark.read.parquet(p).withColumn("vs", F.col("v").cast("string"))
    assert pyscan.try_parquet_pyscan(df.select("vs"), ["vs"]) is not None

    class _Col:
        def __init__(self, col, codec):
            self.path_in_schema = col.path_in_schema
            self.compression = codec or col.compression

    class _RowGroup:
        def __init__(self, rgm, codec):
            self._rgm, self._codec = rgm, codec
            self.num_rows, self.num_columns = rgm.num_rows, rgm.num_columns

        def column(self, j):
            return _Col(self._rgm.column(j), self._codec)

    class _Meta:
        def __init__(self, md):
            self._md = md
            self.num_row_groups, self.metadata = md.num_row_groups, md.metadata

        def row_group(self, i):
            return _RowGroup(self._md.row_group(i), "LZO" if i == 1 else None)

    class _LzoInRowGroup1(pq.ParquetFile):
        @property
        def metadata(self):
            return _Meta(super().metadata)

    monkeypatch.setattr(pq, "ParquetFile", _LzoInRowGroup1)
    assert pyscan.try_parquet_pyscan(df.select("vs"), ["vs"]) is None


@pytest.mark.parametrize("key", ["targetTasks", "minRowsPerTask"])
def test_pyscan_malformed_conf_falls_back(spark, key):
    li = _li(spark)
    spark.conf.set(f"pfutil.pyscan.{key}", "three")
    assert pyscan.try_parquet_pyscan(li.select("ok"), ["ok"]) is None
    # the query itself still answers, through the JVM scan
    got = _rows(pf_count_distinct(li, "ok", by=()))
    _with_pyscan(spark, False)
    assert _rows(pf_count_distinct(_li(spark), "ok", by=())) == got


# ---------------------------------------------------------------------------
# the extension sketches: worker-side xxhash64 and double passthrough
# ---------------------------------------------------------------------------


def _profile_metrics():
    """The benchmark's sketch_profile report."""
    from pfutil_spark.operators import sketch_agg as sa

    return {
        "kll": (F.col("size"), sa.kll_spec()),
        "tdigest": (F.col("size"), sa.tdigest_spec()),
        "cms": (F.xxhash64(F.col("path")), sa.cms_spec()),
        "kmv": (F.xxhash64(F.col("content_sha")), sa.kmv_spec()),
    }


def test_profile_stage_p_runs_one_wave(spark, tmp_path):
    """sketch_multi's stage P reads the parquet itself: over 4 row
    groups of 75k rows on targetTasks=3 it plans 3 tasks, where the JVM
    scan planned one per row group; the exact sketches' (CMS, KMV) merged
    bytes equal the JVM scan's."""
    from pfutil_spark.operators.sketch_agg import sketch_multi
    from tests._spark_counts import spark_counts

    d = str(tmp_path / "corpus")
    _benchmark_shaped_corpus(d)
    spark.conf.set("pfutil.pyscan.targetTasks", "3")
    df = spark.read.parquet(d)

    def report():
        return _rows(
            sketch_multi(df, _profile_metrics(), ["lang"]).select("lang", "cms", "kmv")
        )

    with spark_counts(spark) as c:
        got = report()
    assert c.stage_tasks[min(c.stage_tasks)] == 3
    _with_pyscan(spark, False)
    assert report() == got


def _hashed_corpus(tmp_path) -> str:
    """Strings of every length class (NULLs, empty, non-ASCII, past the
    32-byte stripe) and binary, over 4 row groups."""
    p = str(tmp_path / "hashed.parquet")
    n = 30_000
    words = ["", "a", "é", "src/main/java/Foo.java", "😀" * 9, "x" * 33, None]
    pq.write_table(
        pa.table(
            {
                "k": pa.array([f"g{i % 7}" for i in range(n)]),
                "s": pa.array(
                    [None if i % 11 == 0 else f"{words[i % 7] or ''}{i % 4000}"
                     for i in range(n)]
                ),
                "b": pa.array([f"{i % 3000:x}".encode() for i in range(n)]),
                "v": pa.array(range(n), type=pa.int64()),
            }
        ),
        p,
        row_group_size=7_500,
    )
    return p


def test_pyscan_hashed_sketch_bytes_match_jvm_for_any_task_count(spark, tmp_path):
    """CMS, KMV and Bloom over plain and null-safe xxhash64 columns:
    merged bytes equal the JVM scan's for every task count."""
    from pfutil_spark.operators import sketch_agg as sa

    df = spark.read.parquet(_hashed_corpus(tmp_path))

    def sketches():
        multi = sa.sketch_multi(
            df,
            {
                "cms": (F.xxhash64("s"), sa.cms_spec()),
                "kmv": (F.xxhash64("b"), sa.kmv_spec()),
            },
            ["k"],
        )
        return [
            _rows(multi),
            _rows(sa.cms_sketch(df, "s", by=["k"])),
            _rows(sa.kmv_sketch(df, "s", by=["k"])),
            _rows(sa.bloom_sketch(df, "s", by=["k"], expected_n=5000)),
        ]

    pruned = df.select("k", F.when(F.col("s").isNotNull(), F.xxhash64("s")).alias("h"))
    _with_pyscan(spark, False)
    jvm = sketches()
    _with_pyscan(spark, True)
    plan = pyscan.try_parquet_pyscan(pruned, ["k", "h"])
    assert plan is not None and plan.xxhash == {"h": True}
    spark.conf.set("pfutil.pyscan.minRowsPerTask", "1000")
    for target in range(1, 6):
        spark.conf.set("pfutil.pyscan.targetTasks", str(target))
        assert sketches() == jvm, target


def test_pyscan_null_safe_hash_keeps_nulls(spark, tmp_path):
    """Worker-side hashing: plain xxhash64 turns NULL into the seed (42),
    the null-safe shape keeps it NULL, as the JVM projection does."""
    df = spark.read.parquet(_hashed_corpus(tmp_path))
    pruned = df.select(
        F.xxhash64("s").alias("h"),
        F.when(F.col("s").isNotNull(), F.xxhash64("s")).alias("hn"),
    )
    _with_pyscan(spark, True)
    plan = pyscan.try_parquet_pyscan(pruned, ["h", "hn"])
    assert plan is not None and plan.xxhash == {"h": False, "hn": True}
    assert plan.arrow_types == {"h": "int64", "hn": "int64"}
    first, end = plan.tasks[0]
    batch = next(pyscan.read_spec_batches(plan, [pa.record_batch([pa.array([0])], ["id"])]))
    length = plan.specs[first][3]
    want = pruned.limit(length).collect()
    assert batch.column("h").to_pylist() == [r["h"] for r in want]
    assert batch.column("hn").to_pylist() == [r["hn"] for r in want]
    assert batch.column("hn").null_count == sum(r["hn"] is None for r in want) > 0


def test_pyscan_double_passthrough_matches_jvm(spark, tmp_path):
    """Doubles pass through as raw values — NaN, -0.0 and NULL included —
    so KLL and t-digest estimates equal the JVM scan's."""
    from pfutil_spark.operators import sketch_agg as sa

    p = str(tmp_path / "doubles.parquet")
    vals = [float("nan"), -0.0, 0.0, None, 1.5, -2.25, float("inf"), 1e300, None]
    # under KLL's k and t-digest's delta per group, so both sketches stay
    # exact and their estimates cannot depend on the task split
    n = 150
    pq.write_table(
        pa.table(
            {
                "k": pa.array([f"g{i % 3}" for i in range(n)]),
                "x": pa.array(
                    [vals[i % len(vals)] if i % 5 else i * 0.5 for i in range(n)],
                    type=pa.float64(),
                ),
            }
        ),
        p,
        row_group_size=20,
    )
    df = spark.read.parquet(p)
    assert pyscan.try_parquet_pyscan(df.select("k", "x"), ["k", "x"]) is not None
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]

    def estimates():
        merged = sa.sketch_multi(
            df, {"kll": (F.col("x"), sa.kll_spec()), "td": (F.col("x"), sa.tdigest_spec())},
            ["k"],
        )
        rows = merged.select(
            "k", sa.kll_quantiles_col(qs, "kll"), sa.tdigest_quantiles_col(qs, "td")
        ).collect()
        return sorted(repr(tuple(r)) for r in rows)

    _with_pyscan(spark, False)
    jvm = estimates()
    _with_pyscan(spark, True)
    spark.conf.set("pfutil.pyscan.minRowsPerTask", "1")
    spark.conf.set("pfutil.pyscan.targetTasks", "3")
    assert estimates() == jvm


def test_pyscan_falls_back_on_unsupported_hashes(spark, tmp_path):
    df = spark.read.parquet(_hashed_corpus(tmp_path))
    s, v = F.col("s"), F.col("v")
    declined = {
        "two arguments": F.xxhash64("s", "b"),
        "long argument": F.xxhash64("v"),
        "computed argument": F.xxhash64(F.upper(s)),
        "other attribute in the guard": F.when(v.isNotNull(), F.xxhash64(s)),
        "isnull guard": F.when(s.isNull(), F.xxhash64(s)),
        "else branch": F.when(s.isNotNull(), F.xxhash64(s)).otherwise(F.lit(7)),
        "two branches": F.when(s.isNotNull(), F.xxhash64(s)).when(v > 3, F.lit(1)),
        "hash of a hash": F.when(s.isNotNull(), F.xxhash64(F.xxhash64(s))),
    }
    for why, expr in declined.items():
        pruned = df.select("k", expr.alias("h"))
        assert pyscan.try_parquet_pyscan(pruned, ["k", "h"]) is None, why
    # a seed other than 42 (SQL only exposes the default; build it in
    # Catalyst directly)
    jvm = spark._jvm
    cat = jvm.org.apache.spark.sql.catalyst.expressions
    attr = df.select("s")._jdf.queryExecution().analyzed().output().apply(0)
    args = jvm.scala.jdk.javaapi.CollectionConverters.asScala([attr]).toSeq()
    assert pyscan._xxhash64_attr(cat.XxHash64(args, 42)) is not None
    assert pyscan._xxhash64_attr(cat.XxHash64(args, 7)) is None
