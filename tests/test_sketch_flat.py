"""Vectorized extension-sketch aggregation (VERDICT r3 top item): the
flat grouped fold/merge kernels must be byte-identical to the scalar
update/merge paths, the Arrow merge stage must match an in-process
kernel-only fold of the same partials,
high-cardinality direct emit must match accumulation, and — structurally
— the merge stage must run zero per-group Python for the vectorized
specs (monkeypatch gate, mirroring tests/test_highcard.py's HLL gate)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pfutil_spark.kernel import bloom, cms, kll, kmv, spacesaving as ss, tdigest
from pfutil_spark.kernel.sketch_common import flat_buffers
from pfutil_spark.operators.sketch_agg import (
    SKETCH_COL,
    bloom_spec,
    cms_spec,
    kll_spec,
    kmv_spec,
    merge_sketch_batch,
    sketch_agg,
    sketch_merge,
    sketch_partial,
    spacesaving_spec,
    tdigest_spec,
)


def _pairs(seed=0, n=60_000, n_groups=4000):
    rng = np.random.default_rng(seed)
    inv = rng.integers(0, n_groups, n).astype(np.int64)
    inv[:n_groups] = np.arange(n_groups)  # every group present
    h = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
    return rng, inv, h


class TestKernelFoldParity:
    """fold_groups == per-group scalar update, byte for byte."""

    def test_kmv(self):
        rng, inv, h = _pairs(1)
        data, offs = kmv.fold_groups_hashes(h, inv, 4000, k=64)
        for g in rng.choice(4000, 40, replace=False):
            sk = kmv.KmvSketch(64).update(h[inv == g])
            assert bytes(data[offs[g] : offs[g + 1]]) == sk.encode()
        assert kmv.valid_flat(data, offs, 64).all()
        assert not kmv.valid_flat(data, offs, 65).any()

    def test_cms(self):
        rng, inv, h = _pairs(2)
        data, offs = cms.fold_groups(h, inv, 4000, depth=3, width=64)
        for g in rng.choice(4000, 25, replace=False):
            st = cms.empty(3, 64)
            cms.update(st, h[inv == g])
            assert bytes(data[offs[g] : offs[g + 1]]) == cms.encode(st)
        assert cms.valid_flat(data, offs, 3, 64).all()
        assert not cms.valid_flat(data, offs, 3, 65).any()

    def test_bloom(self):
        rng, inv, h = _pairs(3)
        data, offs = bloom.fold_groups(h, inv, 4000, m_bits=1 << 10, k=5)
        for g in rng.choice(4000, 25, replace=False):
            st = bloom.empty(1 << 10)
            bloom.update(st, h[inv == g], 5)
            assert bytes(data[offs[g] : offs[g + 1]]) == bloom.encode(st, 5)
        assert bloom.valid_flat(data, offs, 1 << 10, 5).all()

    def test_kll_level0(self):
        rng, inv, _ = _pairs(4)
        vals = rng.normal(size=len(inv))
        vals[rng.random(len(inv)) < 0.05] = np.nan  # NaN-drop parity
        data, offs = kll.fold_groups_level0(vals, inv, 4000, k=200)
        for g in rng.choice(4000, 40, replace=False):
            sk = kll.KllSketch(200)
            sk.update(vals[inv == g])
            assert bytes(data[offs[g] : offs[g + 1]]) == sk.encode()
        assert kll.valid_flat(data, offs, 200).all()
        # a real multi-level sketch round-trips and passes the probe
        big = kll.KllSketch(200)
        big.update(rng.normal(size=5000))
        bb = big.encode()
        flat = np.frombuffer(bb, dtype=np.uint8)
        assert kll.valid_flat(flat, np.array([0, len(bb)]), 200).all()
        assert kll.decode(bb).encode() == bb

    def test_tdigest(self):
        rng, inv, _ = _pairs(5)
        vals = rng.normal(size=len(inv))
        data, offs = tdigest.fold_groups(vals, inv, 4000, delta=100)
        for g in rng.choice(4000, 40, replace=False):
            td = tdigest.TDigest(100)
            td.update(vals[inv == g])
            assert bytes(data[offs[g] : offs[g + 1]]) == td.encode()
        assert tdigest.valid_flat(data, offs, 100).all()
        assert not tdigest.valid_flat(data, offs, 101).any()


class TestKernelMergeParity:
    """merge_groups_flat == merge_all over per-group decodes."""

    @pytest.mark.parametrize("name", ["kmv", "cms", "bloom"])
    def test_merge_matches_scalar(self, name):
        rng, inv, h = _pairs(6)
        if name == "kmv":
            data, offs = kmv.fold_groups_hashes(h, inv, 4000, k=64)
            mg = lambda d, o, c, n: kmv.merge_groups_flat(d, o, c, n, 64)  # noqa: E731
            dec, mrg, enc = kmv.decode, kmv.merge_all, lambda s: s.encode()
        elif name == "cms":
            data, offs = cms.fold_groups(h, inv, 4000, 3, 64)
            mg = lambda d, o, c, n: cms.merge_groups_flat(d, o, c, n, 3, 64)  # noqa: E731
            dec, mrg, enc = cms.decode, cms.merge, cms.encode
        else:
            data, offs = bloom.fold_groups(h, inv, 4000, 1 << 10, 5)
            mg = lambda d, o, c, n: bloom.merge_groups_flat(d, o, c, n, 1 << 10, 5)  # noqa: E731
            dec = lambda b: bloom.decode(b)[0]  # noqa: E731
            mrg, enc = bloom.merge, lambda s: bloom.encode(s, 5)
        codes = np.repeat(np.arange(1000, dtype=np.int64), 4)  # 4 partials/group
        md, mo = mg(data, offs, codes, 1000)
        for g in rng.choice(1000, 25, replace=False):
            states = [
                dec(bytes(data[offs[4 * g + j] : offs[4 * g + j + 1]]))
                for j in range(4)
            ]
            assert bytes(md[mo[g] : mo[g + 1]]) == enc(mrg(states))

    def test_kmv_merge_shapes(self):
        """The row-sort merge over its corner shapes: unsorted group
        codes, groups of several widths, partials that share hashes,
        truncation to k, the all-ones hash (the padding value) and
        groups with no partial."""
        rng = np.random.default_rng(11)
        k = 16
        pool = rng.integers(0, 2**63, 200, dtype=np.int64).astype(np.uint64)
        pool[:3] = np.uint64(2**64 - 1), np.uint64(0), np.uint64(1)
        bufs, codes = [], []
        for _ in range(60):
            g = int(rng.integers(0, 12))  # groups 12..13 get no partial
            sk = kmv.KmvSketch(k).update(rng.choice(pool, int(rng.integers(0, 40))))
            bufs.append(sk.encode())
            codes.append(g)
        data, offs = flat_buffers(bufs)
        md, mo = kmv.merge_groups_flat(data, offs, np.array(codes), 14, k)
        for g in range(14):
            parts = [kmv.decode(b) for b, c in zip(bufs, codes) if c == g]
            want = kmv.merge_all(parts) if parts else kmv.KmvSketch(k)
            assert bytes(md[mo[g] : mo[g + 1]]) == want.encode()

    def test_kmv_merge_rejects_unsorted_entries(self):
        sk = kmv.KmvSketch(8).update(np.arange(1, 6, dtype=np.int64))
        raw = bytearray(sk.encode())
        raw[16:24], raw[24:32] = raw[24:32], raw[16:24]  # swap two entries
        data, offs = flat_buffers([sk.encode(), bytes(raw)])
        with pytest.raises(ValueError, match="Invalid KMV"):
            kmv.merge_groups_flat(data, offs, np.array([0, 0]), 1, 8)

    def test_kmv_merge_rejects_corrupt_and_mismatched(self):
        _, inv, h = _pairs(7, n=1000, n_groups=4)
        data, offs = kmv.fold_groups_hashes(h, inv, 4, k=32)
        bad = data.copy()
        bad[offs[1]] = 0x58  # break magic of row 1
        with pytest.raises(ValueError, match="Invalid KMV"):
            kmv.merge_groups_flat(bad, offs, np.array([0, 0, 1, 1]), 2, 32)
        with pytest.raises(ValueError, match="k mismatch"):
            kmv.merge_groups_flat(data, offs, np.array([0, 0, 1, 1]), 2, 64)


def _mk_df(spark, n=40_000, groups=25_000):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), (F.col("id") % groups).cast("string")).alias("k"),
            F.col("id").cast("string").alias("e"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
        .repartition(4)
    )


ALL_SPECS = [
    ("kmv", lambda: kmv_spec(64), "hash"),
    ("cms", lambda: cms_spec(3, 64), "hash"),
    ("bloom", lambda: bloom_spec(1 << 10, 5), "hash"),
    ("kll", lambda: kll_spec(100), "value"),
    ("tdigest", lambda: tdigest_spec(50), "value"),
    ("spacesaving", lambda: spacesaving_spec(32), "string"),
]


def _element(kind):
    if kind == "hash":
        return F.xxhash64(F.col("e"))
    if kind == "value":
        return F.col("v")
    return F.col("e").cast("string")


def _reference_merge(partials, spec, by=None):
    """In-process, kernel-only merge of collected partials per group:
    ``spec.merge([spec.decode(b) ...])`` — the fold the retired
    applyInPandas engine ran, with no Spark stage in between."""
    groups: dict = {}
    for r in partials.collect():
        key = r[by] if by else None
        groups.setdefault(key, []).append(spec.decode(bytes(r[SKETCH_COL])))
    return {k: spec.encode(spec.merge(v)) for k, v in groups.items()}


class TestArrowEngineSpark:
    @pytest.mark.parametrize("name,mkspec,kind", ALL_SPECS)
    def test_arrow_equals_pandas_engine(self, spark, name, mkspec, kind):
        """The merge stage against the kernel-only reference fold of the
        partials: byte-stable sketches (KMV/CMS/Bloom — merge is a
        set/sum/OR function) must agree byte for byte; order-dependent
        ones (KLL/t-digest/SpaceSaving, whose bytes depend on shuffle
        arrival order) must agree on totals and estimates."""
        df = _mk_df(spark, n=8000, groups=40)
        spec = mkspec()
        a = {
            r["k"]: bytes(r[SKETCH_COL])
            for r in sketch_agg(df, _element(kind), spec, by=("k",)).collect()
        }
        p = _reference_merge(sketch_partial(df, _element(kind), spec, by=("k",)), spec, "k")
        assert a.keys() == p.keys() and len(a) == 40
        if name in ("kmv", "cms", "bloom"):
            assert a == p  # byte-stable sketches: exact parity
        elif name == "spacesaving":
            for k in a:
                da, dp = ss.decode(a[k]), ss.decode(p[k])
                assert da.n == dp.n
                assert da.top_k(3)[0][0] == dp.top_k(3)[0][0]
        else:
            for k in a:
                da, dp = spec.decode(a[k]), spec.decode(p[k])
                assert da.n == dp.n
                assert abs(float(da.quantile(0.5)) - float(dp.quantile(0.5))) <= 60.0

    @pytest.mark.parametrize("name,mkspec,kind", ALL_SPECS[:3])
    def test_direct_emit_matches_accumulation(self, spark, name, mkspec, kind):
        """High-cardinality direct emit == accumulation path after the
        merge, byte for byte (exact-merge sketches)."""
        df = _mk_df(spark, n=30_000, groups=20_000)
        spec = mkspec()
        lo = {
            r["k"]: bytes(r[SKETCH_COL])
            for r in sketch_agg(df, _element(kind), spec, by=("k",), direct_emit_groups=1).collect()
        }
        hi = {
            r["k"]: bytes(r[SKETCH_COL])
            for r in sketch_agg(
                df, _element(kind), spec, by=("k",), direct_emit_groups=10**9
            ).collect()
        }
        assert lo == hi

    def test_kll_tdigest_direct_emit_estimates(self, spark):
        """Value sketches at high-card by: direct emit merges to valid
        sketches whose quantiles agree with accumulation within the rank
        error (bytes may differ: compaction timing is path-dependent)."""
        df = _mk_df(spark, n=30_000, groups=10_000)
        for mk in (lambda: kll_spec(100), lambda: tdigest_spec(50)):
            spec = mk()
            de = sketch_agg(df, F.col("v"), spec, by=("k",), direct_emit_groups=1)
            acc = sketch_agg(df, F.col("v"), spec, by=("k",), direct_emit_groups=10**9)
            rows_d = {r["k"]: bytes(r[SKETCH_COL]) for r in de.collect()}
            rows_a = {r["k"]: bytes(r[SKETCH_COL]) for r in acc.collect()}
            assert rows_d.keys() == rows_a.keys()
            rng = np.random.default_rng(0)
            for k in rng.choice(list(rows_d), 50, replace=False):
                qd = spec.decode(rows_d[k])
                qa = spec.decode(rows_a[k])
                assert abs(float(qd.quantile(0.5)) - float(qa.quantile(0.5))) <= 30.0

    def test_global_merge(self, spark):
        df = _mk_df(spark, n=5000, groups=10)
        spec = kmv_spec(256)
        a = bytes(sketch_agg(df, F.xxhash64("e"), spec).collect()[0][0])
        p = _reference_merge(sketch_partial(df, F.xxhash64("e"), spec), spec)
        assert p == {None: a}

    def test_corrupt_partials_raise(self, spark):
        """Invalid buffers must fail with the kernel's validation error,
        not pass through the singleton fast path silently."""
        df = spark.createDataFrame(
            [("a", bytearray(b"JUNK")), ("b", bytearray(b"xy"))],
            "k string, sketch binary",
        )
        with pytest.raises(Exception, match="Invalid KMV"):
            sketch_merge(df, kmv_spec(64), ["k"]).collect()
        with pytest.raises(Exception, match="Invalid KLL"):
            sketch_merge(df, kll_spec(100), ["k"]).collect()


class TestReviewFindings:
    """r4 self-review regressions: direct-emit byte cap, KLL space
    contract, SpaceSaving byte determinism, CMS zero-sum entries."""

    def test_bloom_bound_and_cap_fallback_parity(self, spark):
        """The direct emit is gated on a per-spec byte bound (r4 review
        finding: pre-sparse-wire, per-key Bloom at default sizing would
        have allocated n_groups x m/8 = gigabytes). With the sparse v2
        wire the bound is row-scaled — and when the cap DOES trip, the
        accumulation path produces identical bytes (OR-merge is exact
        either way)."""
        import pfutil_spark.operators.sketch_agg as sa

        df = _mk_df(spark, n=6000, groups=5000)
        spec = bloom_spec(1 << 10, 5)
        # row-scaled: 20/group + 4 bytes per (row, hash) — independent
        # of m, so default-m per-key filters direct-emit fine
        assert spec.fold_bytes_bound(5000, 6000) == 20 * 5000 + 4 * 5 * 6000
        big = bloom_spec(1 << 24, 7)
        assert big.fold_bytes_bound(4096, 10_000) < sa.DIRECT_EMIT_BYTES_CAP
        direct = {
            r["k"]: bytes(r[SKETCH_COL])
            for r in sketch_agg(df, F.xxhash64("e"), spec, by=("k",), direct_emit_groups=1).collect()
        }
        orig = sa.DIRECT_EMIT_BYTES_CAP
        try:
            sa.DIRECT_EMIT_BYTES_CAP = 1000  # every batch exceeds it
            fallback = {
                r["k"]: bytes(r[SKETCH_COL])
                for r in sketch_agg(df, F.xxhash64("e"), spec, by=("k",), direct_emit_groups=1).collect()
            }
        finally:
            sa.DIRECT_EMIT_BYTES_CAP = orig
        assert direct == fallback

    def test_kll_fold_compacts_over_cap_groups(self):
        """A skewed key that concentrates >k values in one batch must
        emit the COMPACTED sketch (scalar-update parity), not an
        unbounded raw level-0 dump."""
        rng = np.random.default_rng(13)
        vals = rng.normal(size=6000)
        inv = np.zeros(6000, dtype=np.int64)
        inv[:500] = np.arange(500) % 300  # 300 small groups too
        data, offs = kll.fold_groups_level0(vals, inv, 300, k=200)
        lens = np.diff(offs)
        assert lens[0] < 32 + 8 * 1000  # compacted, not ~5500 raw values
        sk = kll.KllSketch(200)
        sk.update(vals[inv == 0])
        assert bytes(data[offs[0] : offs[1]]) == sk.encode()
        for g in (1, 5, 299):  # small groups: level-0 parity as before
            sk = kll.KllSketch(200)
            sk.update(vals[inv == g])
            assert bytes(data[offs[g] : offs[g + 1]]) == sk.encode()

    def test_spacesaving_merge_bytes_order_independent(self):
        """Merged summary bytes must be a pure function of the summary
        map: merge(A,B) == merge(B,A) byte-for-byte even when truncation
        fires (shuffle arrival order must not leak into checkpoints)."""

        def mk(seed):
            s = ss.SpaceSaving(32)
            vals = [f"w{int(v) % 200}" for v in np.random.default_rng(seed).zipf(1.3, 5000)]
            s.update_batch(np.asarray(vals, dtype=object))
            return s

        ab = mk(1).merge(mk(2))
        ba = mk(2).merge(mk(1))
        assert len(ab.counts) > 0
        assert ab.counts == ba.counts and ab.theta == ba.theta and ab.n == ba.n
        assert ab.encode() == ba.encode()

    def test_bloom_merge_keeps_dense_rows_packed(self, monkeypatch):
        """r4 second-review finding: dense (v1) Bloom partials must OR
        as packed byte matrices — never unpack to per-bit items (an 8x
        blowup plus a 16B-per-set-bit sort at default m). Gate: a merge
        whose inputs and output are dense runs with np.unpackbits
        BROKEN (only the rare heavy-but-sparse-output corner may
        unpack)."""
        rng = np.random.default_rng(16)
        sketches = []
        for _ in range(6):
            st = bloom.empty(1 << 14)
            bloom.update(st, rng.integers(-(2**63), 2**63 - 1, 4000, dtype=np.int64), 5)
            sketches.append(bloom.encode(st, 5))
        assert all(b[4] == 1 for b in sketches)  # dense inputs
        want = bloom.encode(bloom.merge([bloom.decode(b)[0] for b in sketches]), 5)
        flat = np.frombuffer(b"".join(sketches), dtype=np.uint8)
        offs = np.concatenate(([0], np.cumsum([len(b) for b in sketches])))

        def boom(*a, **kw):
            raise AssertionError("np.unpackbits called in packed dense merge")

        monkeypatch.setattr(np, "unpackbits", boom)
        md, mo = bloom.merge_groups_flat(
            flat, offs, np.zeros(6, dtype=np.int64), 1, 1 << 14, 5
        )
        monkeypatch.undo()
        assert bytes(md[mo[0] : mo[1]]) == want

    def test_cms_merge_drops_zero_sum_counters(self):
        """Third-party buffers may carry negative counts; counters that
        cancel to zero must be dropped like the scalar encoder does, so
        arrow == pandas bytes and the output stays canonical."""
        dw = 3 * 32
        pos = cms.empty(3, 32)
        cms.update(pos, np.array([5, 7], dtype=np.int64))
        neg = -pos  # cancels everything
        half = cms.empty(3, 32)
        cms.update(half, np.array([5], dtype=np.int64))
        bufs = [cms.encode(pos), cms.encode(neg.copy()), cms.encode(half)]
        # hand-encode the negative state (encode works fine on it: nnz
        # counts nonzeros regardless of sign)
        flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        offs = np.concatenate(([0], np.cumsum([len(b) for b in bufs])))
        md, mo = cms.merge_groups_flat(flat, offs, np.array([0, 0, 0]), 1, 3, 32)
        expected = cms.encode(cms.merge([cms.decode(b) for b in bufs]))
        assert bytes(md[mo[0] : mo[1]]) == expected
        merged = cms.decode(bytes(md[mo[0] : mo[1]]))
        assert np.array_equal(merged, half)  # pos+neg cancelled


class TestCmsMergeBodies:
    """cms.merge_groups_flat has a dense-matrix body and a sparse-items
    body; each must emit the bytes of per-group decode / merge / encode
    on every input shape, whichever the size rule would pick."""

    D, W = 3, 64

    def _states(self):
        rng = np.random.default_rng(21)
        states = []
        for n in (0, 1, 3, 40, 500, 0, 2000, 7):  # v2 and v1 partials
            st = cms.empty(self.D, self.W)
            cms.update(st, rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64))
            states.append(st)
        return states

    def _inputs(self):
        s = self._states()
        neg = cms.empty(self.D, self.W)
        cms.update(neg, np.array([5, 7], dtype=np.int64))
        mixed = [[s[2], s[4]], [s[6]], [s[3], s[6], s[1]], [s[4], s[4]], [s[7]]]
        empty = [[s[0]], [s[0], s[5]], [s[5]]]
        cancel = [[neg, -neg], [s[6], -s[6], s[2]], [neg, s[4]]]
        return {"mixed v1/v2": mixed, "all empty": empty, "cancel to zero": cancel}

    @pytest.mark.parametrize("body", ["matrix", "sparse"])
    def test_bytes_match_per_group_merge(self, monkeypatch, body):
        if body == "matrix":
            monkeypatch.setattr(cms, "_MATRIX_MAX_FILL", 1 << 40)
        else:
            monkeypatch.setattr(cms, "_MATRIX_BUDGET", 0)
        for name, groups in self._inputs().items():
            bufs = [cms.encode(st) for grp in groups for st in grp]
            codes = np.repeat(np.arange(len(groups)), [len(g) for g in groups])
            data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            offs = np.concatenate(([0], np.cumsum([len(b) for b in bufs])))
            md, mo = cms.merge_groups_flat(data, offs, codes, len(groups), self.D, self.W)
            want = [cms.encode(cms.merge(grp)) for grp in groups]
            got = [bytes(md[mo[g] : mo[g + 1]]) for g in range(len(groups))]
            assert got == want, name
            if name == "mixed v1/v2":
                assert {b[4] for b in bufs} == {1, 2}  # wire versions


class TestNoPerGroupPython:
    """Structural gate: for vectorized specs, merge_sketch_batch must
    never call the scalar kernel entry points — passthrough singles and
    grouped merges both go through the flat machinery."""

    @staticmethod
    def _batch(data, offs, n_singles, n_multi):
        """A batch of n_singles one-partial groups + n_multi two-partial
        groups from consecutive rows of (data, offs), and the singles'
        bytes."""
        import pyarrow as pa

        keys, bufs = [], []
        n_rows = len(offs) - 1
        i = 0
        for g in range(n_singles):
            keys.append(f"s{g}")
            bufs.append(bytes(data[offs[i] : offs[i + 1]]))
            i += 1
        for g in range(n_multi):
            for _ in range(2):
                keys.append(f"m{g}")
                bufs.append(bytes(data[offs[i] : offs[i + 1]]))
                i += 1
        assert i <= n_rows
        batch = pa.record_batch(
            [pa.array(keys), pa.array(bufs, type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        return batch, bufs[:n_singles]

    @staticmethod
    def _recording(valid_flat, seen):
        """``valid_flat`` that records every buffer it is asked about."""

        def rec(d, o):
            seen.extend(bytes(d[o[j] : o[j + 1]]) for j in range(len(o) - 1))
            return valid_flat(d, o)

        return rec

    def _drive(self, spec, data, offs, n_singles, n_multi):
        """Merge a :meth:`_batch` with every scalar hook on the spec
        object BROKEN (the merge binds spec attributes, so patching the
        spec is airtight), and assert the pass-through gate saw exactly
        the single-partial rows."""
        batch, singles = self._batch(data, offs, n_singles, n_multi)

        def boom(*a, **kw):
            raise AssertionError("scalar kernel called in vectorized merge stage")

        spec.decode = boom
        spec.merge = boom
        spec.update = boom
        spec.encode = boom
        spec.zero = boom
        seen: list = []
        spec.valid_flat = self._recording(spec.valid_flat, seen)
        out = merge_sketch_batch(batch, ["k"], SKETCH_COL, spec)
        assert sorted(seen) == sorted(singles)
        assert out.num_rows == n_singles + n_multi
        return {
            out.column("k")[j].as_py(): out.column(SKETCH_COL)[j].as_py()
            for j in range(out.num_rows)
        }

    def test_hll_gate_sees_only_singles(self, monkeypatch):
        """The HLL merge runs the same body: its pass-through gate
        (``hll.canonical_flat``) sees exactly the single-partial rows,
        and multi-partial groups come out as the register-max."""
        from pfutil_spark.kernel import hll
        from pfutil_spark.operators.hll_agg import merge_record_batch

        rng = np.random.default_rng(15)
        regs = np.zeros((300, hll.HLL_REGISTERS), dtype=np.uint8)
        for r in regs:
            n = int(rng.choice([5, 40, 9000]))
            np.maximum.at(r, rng.integers(0, hll.HLL_REGISTERS, n), rng.integers(1, 30, n).astype(np.uint8))
        data, offs = hll.encode_many(regs)
        batch, singles = self._batch(data, offs, 100, 100)
        seen: list = []
        monkeypatch.setattr(hll, "canonical_flat", self._recording(hll.canonical_flat, seen))
        out = merge_record_batch(batch, ["k"], SKETCH_COL)
        assert sorted(seen) == sorted(singles)
        got = dict(zip(out.column("k").to_pylist(), out.column(SKETCH_COL).to_pylist()))
        assert len(got) == 200
        for g in range(100):
            assert got[f"s{g}"] == singles[g]
            i = 100 + 2 * g
            assert got[f"m{g}"] == hll.encode(np.maximum(regs[i], regs[i + 1]))

    def test_kmv(self):
        _, inv, h = _pairs(8, n=30_000, n_groups=500)
        spec = kmv_spec(64)
        data, offs = kmv.fold_groups_hashes(h, inv, 500, k=64)
        expected = {}
        for g in range(100):
            expected[f"s{g}"] = bytes(data[offs[g] : offs[g + 1]])
        for g in range(150):
            a = kmv.decode(bytes(data[offs[100 + 2 * g] : offs[100 + 2 * g + 1]]))
            b = kmv.decode(bytes(data[offs[100 + 2 * g + 1] : offs[100 + 2 * g + 2]]))
            expected[f"m{g}"] = kmv.merge_all([a, b]).encode()
        got = self._drive(spec, data, offs, 100, 150)
        assert got == expected

    def test_cms(self):
        _, inv, h = _pairs(9, n=30_000, n_groups=400)
        spec = cms_spec(3, 64)
        data, offs = cms.fold_groups(h, inv, 400, 3, 64)
        got = self._drive(spec, data, offs, 100, 150)
        assert len(got) == 250

    def test_bloom(self):
        _, inv, h = _pairs(11, n=30_000, n_groups=400)
        spec = bloom_spec(1 << 10, 5)
        data, offs = bloom.fold_groups(h, inv, 400, 1 << 10, 5)
        got = self._drive(spec, data, offs, 100, 150)
        assert len(got) == 250

    def test_kll_singles_passthrough(self):
        """Singles (the ~only regime at high-cardinality by) must pass
        through without touching the scalar decode."""
        rng, inv, _ = _pairs(10, n=20_000, n_groups=300)
        vals = rng.normal(size=len(inv))
        spec = kll_spec(100)
        data, offs = kll.fold_groups_level0(vals, inv, 300, 100)
        got = self._drive(spec, data, offs, 300, 0)
        assert len(got) == 300

    def test_kll_multi_partial_vectorized(self):
        """r5: multi-partial KLL groups merge via merge_groups_flat with
        the scalar hooks broken — and match merge_all byte-for-byte in
        the no-compaction regime."""
        rng, inv, _ = _pairs(12, n=20_000, n_groups=400)
        vals = rng.normal(size=len(inv))
        spec = kll_spec(100)
        data, offs = kll.fold_groups_level0(vals, inv, 400, 100)
        expected = {f"s{g}": bytes(data[offs[g] : offs[g + 1]]) for g in range(100)}
        for g in range(150):
            i = 100 + 2 * g
            parts = [
                kll.decode(bytes(data[offs[i + j] : offs[i + j + 1]]))
                for j in range(2)
            ]
            expected[f"m{g}"] = kll.merge_all(parts).encode()
        got = self._drive(spec, data, offs, 100, 150)
        assert got == expected

    def test_tdigest_multi_partial_vectorized(self):
        rng, inv, _ = _pairs(13, n=20_000, n_groups=400)
        vals = rng.normal(size=len(inv))
        spec = tdigest_spec(50)
        data, offs = tdigest.fold_groups(vals, inv, 400, 50)
        got = self._drive(spec, data, offs, 100, 150)
        assert len(got) == 250
        for g in range(0, 150, 30):
            i = 100 + 2 * g
            parts = [
                tdigest.decode(bytes(data[offs[i + j] : offs[i + j + 1]]))
                for j in range(2)
            ]
            exp = tdigest.merge_all(parts)
            out = tdigest.decode(got[f"m{g}"])
            assert abs(out.n - exp.n) < 1e-9
            assert abs(out.quantile(0.5) - exp.quantile(0.5)) < 0.3

    def test_spacesaving_multi_partial_vectorized(self):
        rng = np.random.default_rng(14)
        univ = np.asarray([f"t{i}" for i in range(40)], dtype=object)
        bufs = []
        for _ in range(400):
            s = ss.SpaceSaving(16)
            s.update_batch(rng.choice(univ, size=25))
            bufs.append(s.encode())
        data, offs = _flat_of(bufs)
        spec = spacesaving_spec(16)
        got = self._drive(spec, data, offs, 100, 150)
        for g in range(0, 150, 30):
            i = 100 + 2 * g
            a = ss.decode(bufs[i])
            b = ss.decode(bufs[i + 1])
            assert got[f"m{g}"] == a.merge(b).encode()  # P=2 byte parity

    def test_cms_sparse_wire(self):
        """Sparse (v2) CMS encoding: the canonical encoder picks sparse
        iff strictly smaller; the passthrough probe enforces that rule
        on both sides (dense-but-eligible and corrupt-sparse re-route)."""
        rng = np.random.default_rng(12)
        few = cms.empty(5, 2048)
        cms.update(few, rng.integers(-(2**63), 2**63 - 1, 2, dtype=np.int64))
        many = cms.empty(5, 2048)
        cms.update(many, rng.integers(-(2**63), 2**63 - 1, 100_000, dtype=np.int64))
        bf, bm = cms.encode(few), cms.encode(many)
        assert bf[4] == 2 and len(bf) < 200          # sparse, tiny
        assert bm[4] == 1 and len(bm) == 16 + 5 * 2048 * 8  # dense dump
        for b, st in ((bf, few), (bm, many)):
            assert np.array_equal(cms.decode(b), st)
            assert cms.encode(cms.decode(b)) == b
        # dense bytes for a sparse-eligible state: decodable, NOT canonical
        nc = cms.MAGIC + np.array([1, 5, 2048], dtype="<u4").tobytes() + few.astype("<i8").tobytes()
        flat = np.frombuffer(nc, dtype=np.uint8)
        assert np.array_equal(cms.decode(nc), few)
        assert not cms.valid_flat(flat, np.array([0, len(nc)]), 5, 2048).any()
        # unsorted sparse entries: rejected by decode AND the probe
        two = cms.empty(3, 32)
        cms.update(two, np.array([5, 9], dtype=np.int64))
        b2 = bytearray(cms.encode(two))
        b2[20:32], b2[32:44] = b2[32:44], b2[20:32]
        with pytest.raises(ValueError, match="Invalid CMS"):
            cms.decode(bytes(b2))
        flat2 = np.frombuffer(bytes(b2), dtype=np.uint8)
        assert not cms.valid_flat(flat2, np.array([0, len(b2)]), 3, 32).any()

    def test_cms_merge_partition_independent_for_noncanonical_single(self):
        """The dense-encoded-but-sparse-eligible single must merge to the
        same bytes whether alone or sharing its group — the HLL
        canonicality invariant, ported to the CMS passthrough."""
        import pyarrow as pa

        st = cms.empty(3, 32)
        cms.update(st, np.array([5], dtype=np.int64))
        nc = cms.MAGIC + np.array([1, 3, 32], dtype="<u4").tobytes() + st.astype("<i8").tobytes()
        empty_b = cms.encode(cms.empty(3, 32))
        spec = cms_spec(3, 32)
        one = pa.record_batch(
            [pa.array(["g"]), pa.array([nc], type=pa.binary())], names=["k", SKETCH_COL]
        )
        split = pa.record_batch(
            [pa.array(["g", "g"]), pa.array([nc, empty_b], type=pa.binary())],
            names=["k", SKETCH_COL],
        )
        o1 = merge_sketch_batch(one, ["k"], SKETCH_COL, spec).column(SKETCH_COL)[0].as_py()
        o2 = merge_sketch_batch(split, ["k"], SKETCH_COL, spec).column(SKETCH_COL)[0].as_py()
        assert o1 == o2 == cms.encode(st)

    def test_bloom_sparse_wire(self):
        """Sparse (v2) Bloom encoding: canonical-iff-strictly-smaller,
        roundtrip stability, duplicate-byte scatter, and the passthrough
        probe rejecting dense-but-eligible bytes."""
        rng = np.random.default_rng(15)
        few = bloom.empty(1 << 20)
        bloom.update(few, rng.integers(-(2**63), 2**63 - 1, 2, dtype=np.int64), 7)
        many = bloom.empty(1 << 12)
        bloom.update(many, rng.integers(-(2**63), 2**63 - 1, 50_000, dtype=np.int64), 5)
        bf, bm = bloom.encode(few, 7), bloom.encode(many, 5)
        assert bf[4] == 2 and len(bf) < 100        # sparse, tiny at default m
        assert bm[4] == 1 and len(bm) == 16 + (1 << 9)  # dense dump
        for b, st in ((bf, few), (bm, many)):
            assert np.array_equal(bloom.decode(b)[0], st)
            assert bloom.encode(*bloom.decode(b)) == b
        # two bits in ONE byte must survive the v2 decode scatter
        st = bloom.empty(1 << 10)
        st[3] = 0b10000001  # bits 24 and 31
        b = bloom.encode(st, 5)
        assert b[4] == 2
        assert np.array_equal(bloom.decode(b)[0], st)
        # dense bytes for a sparse-eligible state: decodable, NOT canonical
        one = bloom.empty(1 << 10)
        bloom.update(one, np.array([5], dtype=np.int64), 5)
        nc = bloom.MAGIC + np.array([1, 1 << 10, 5], dtype="<u4").tobytes() + one.tobytes()
        flat = np.frombuffer(nc, dtype=np.uint8)
        assert np.array_equal(bloom.decode(nc)[0], one)
        assert not bloom.valid_flat(flat, np.array([0, len(nc)]), 1 << 10, 5).any()

    def test_near_unique_1m_gate_fresh_jvm(self):
        """VERDICT r3+r4 done-criterion: EVERY sketch family (CMS at the
        DEFAULT width, Bloom at the default 1M-key sizing — feasible
        only because of the sparse wire formats; r5 adds kll / tdigest /
        spacesaving and the weighted-KLL fold, closing the last
        per-group-Python merge path) at 1M rows / 900k near-unique
        groups within ~3x of the low-card case. Fresh JVM via
        tools/sketch_highcard_gate.py (the shared test session measures
        GC archaeology — see tools/highcard_gate rationale); A-B-A
        low-card timing + one retry for noise bursts."""
        import json
        import os
        import subprocess
        import sys

        gate = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "sketch_highcard_gate.py",
        )
        kinds = (
            "kmv", "cms", "bloom", "kll", "tdigest", "spacesaving",
            "kll_weighted",
        )
        for _ in range(2):
            out = subprocess.run(
                [sys.executable, gate],
                capture_output=True,
                text=True,
                timeout=1800,
                env={**os.environ, "PFUTIL_GATE_KINDS": ",".join(kinds)},
            )
            assert out.returncode == 0, out.stderr[-2000:]
            r = json.loads(out.stdout.strip().splitlines()[-1])
            for kind in kinds:
                assert r[kind]["g_lo"] == 17
                assert r[kind]["g_hi"] == 900_000
            if all(r[k]["t_hi"] <= 3.0 * r[k]["t_lo"] + 4.0 for k in kinds):
                break
        else:
            raise AssertionError(f"sketch high-card gate failed twice: {r}")

    def test_spacesaving_singles_passthrough(self):
        spec = spacesaving_spec(16)
        bufs = []
        for i in range(200):
            s = ss.SpaceSaving(16)
            s.update_batch(np.asarray([f"v{i}", f"v{i}", "common"], dtype=object))
            bufs.append(s.encode())
        flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        offs = np.zeros(201, dtype=np.int64)
        offs[1:] = np.cumsum([len(b) for b in bufs])
        got = self._drive(spec, flat, offs, 200, 0)
        assert got == {f"s{i}": bufs[i] for i in range(200)}


def _flat_of(bufs):
    return flat_buffers(bufs)


class TestKllFlatMerge:
    """r5: kll.merge_groups_flat — concat-then-compress-once multiway
    merge; byte parity with sequential merge_all whenever the sequential
    path never compacts (the lossless EXACT-oracle regime), estimate
    stability + the space contract for compacted groups."""

    def test_lossless_byte_parity_with_merge_all(self):
        rng = np.random.default_rng(7)
        k, bufs, codes, groups = 200, [], [], []
        for g in range(50):
            parts = []
            for _ in range(int(rng.integers(1, 5))):
                sk = kll.KllSketch(k)
                sk.update(rng.normal(size=int(rng.integers(0, 30))))
                parts.append(sk.encode())
            groups.append(parts)
            bufs += parts
            codes += [g] * len(parts)
        data, offs = _flat_of(bufs)
        md, mo = kll.merge_groups_flat(data, offs, np.asarray(codes), 50, k)
        for g, parts in enumerate(groups):
            exp = kll.merge_all([kll.decode(p) for p in parts]).encode()
            assert bytes(md[mo[g] : mo[g + 1]]) == exp, g
            assert kll.is_lossless(kll.decode(exp))

    def test_weighted_multilevel_byte_parity(self):
        rng = np.random.default_rng(8)
        bufs, codes = [], []
        for g in range(10):
            for _ in range(3):
                sk = kll.KllSketch(200)
                sk.update_weighted(
                    rng.normal(size=20), rng.integers(1, 100, 20)
                )
                bufs.append(sk.encode())
                codes.append(g)
        data, offs = _flat_of(bufs)
        md, mo = kll.merge_groups_flat(data, offs, np.asarray(codes), 10, 200)
        for g in range(10):
            exp = kll.merge_all(
                [kll.decode(bufs[3 * g + p]) for p in range(3)]
            ).encode()
            assert bytes(md[mo[g] : mo[g + 1]]) == exp, g

    def test_compacted_groups_estimate_and_space_contract(self):
        rng = np.random.default_rng(9)
        k, bufs, codes, vals = 50, [], [], {}
        for g in range(5):
            vals[g] = []
            for _ in range(20):
                v = rng.normal(size=500)
                sk = kll.KllSketch(k)
                sk.update(v)
                bufs.append(sk.encode())
                codes.append(g)
                vals[g].append(v)
        data, offs = _flat_of(bufs)
        md, mo = kll.merge_groups_flat(data, offs, np.asarray(codes), 5, k)
        for g in range(5):
            got = kll.decode(bytes(md[mo[g] : mo[g + 1]]))
            allv = np.concatenate(vals[g])
            assert got.n == len(allv)
            r = (allv <= got.quantile(0.5)).mean()
            assert abs(r - 0.5) <= 3 * kll.KS_EPS_C / k
            assert sum(len(lv) for lv in got.levels) <= got._total_cap()

    def test_invalid_and_param_mismatch_raise(self):
        sk = kll.KllSketch(100)
        sk.update(np.arange(5.0))
        good = sk.encode()
        data, offs = _flat_of([good, b"XXXX" + good[4:]])
        with pytest.raises(ValueError, match="Invalid KLL"):
            kll.merge_groups_flat(data, offs, np.array([0, 0]), 1, 100)
        data, offs = _flat_of([good, good])
        with pytest.raises(ValueError, match="Invalid KLL"):
            kll.merge_groups_flat(data, offs, np.array([0, 0]), 1, 200)

    def test_empty_merge(self):
        data, offs = _flat_of([kll.KllSketch(200).encode()] * 3)
        md, mo = kll.merge_groups_flat(data, offs, np.array([0, 0, 0]), 1, 200)
        got = kll.decode(bytes(md[mo[0] : mo[1]]))
        assert got.n == 0 and np.isnan(got.quantile(0.5))


class TestTdigestFlatMerge:
    """r5: tdigest.merge_groups_flat — compress-once multiway merge;
    byte parity when at most one partial is non-empty (scalar merge_all
    skips compression then), estimate stability otherwise."""

    def test_single_nonempty_byte_parity(self):
        rng = np.random.default_rng(11)
        delta, bufs, codes, expect = 100, [], [], []
        for g in range(20):
            sk = tdigest.TDigest(delta)
            sk.update(rng.normal(size=int(rng.integers(1, 2000))))
            trio = [
                tdigest.TDigest(delta).encode(),
                sk.encode(),
                tdigest.TDigest(delta).encode(),
            ]
            bufs += trio
            codes += [g] * 3
            expect.append(
                tdigest.merge_all([tdigest.decode(b) for b in trio]).encode()
            )
        data, offs = _flat_of(bufs)
        md, mo = tdigest.merge_groups_flat(data, offs, np.asarray(codes), 20, delta)
        for g in range(20):
            assert bytes(md[mo[g] : mo[g + 1]]) == expect[g], g

    def test_multi_source_estimates(self):
        rng = np.random.default_rng(12)
        delta, bufs, codes, vals = 100, [], [], {}
        for g in range(8):
            vals[g] = []
            for _ in range(16):
                v = rng.normal(loc=g, size=3000)
                sk = tdigest.TDigest(delta)
                sk.update(v)
                bufs.append(sk.encode())
                codes.append(g)
                vals[g].append(v)
        data, offs = _flat_of(bufs)
        md, mo = tdigest.merge_groups_flat(data, offs, np.asarray(codes), 8, delta)
        for g in range(8):
            got = tdigest.decode(bytes(md[mo[g] : mo[g + 1]]))
            allv = np.concatenate(vals[g])
            for q in (0.01, 0.5, 0.95, 0.99):
                r = (allv <= got.quantile(q)).mean()
                assert abs(r - q) < 0.02, (g, q, r)
            assert got.vmin == allv.min() and got.vmax == allv.max()
            assert abs(got.n - len(allv)) < 1e-6
            assert len(got.means) <= delta + 2

    def test_all_empty_and_param_mismatch(self):
        bufs = [tdigest.TDigest(100).encode()] * 3
        data, offs = _flat_of(bufs)
        md, mo = tdigest.merge_groups_flat(data, offs, np.array([0, 0, 0]), 1, 100)
        assert bytes(md[mo[0] : mo[1]]) == tdigest.TDigest(100).encode()
        with pytest.raises(ValueError, match="Invalid t-digest"):
            tdigest.merge_groups_flat(data, offs, np.array([0, 0, 0]), 1, 50)


class TestSpaceSavingV2:
    """r5: binary v2 wire + vectorized fold/merge. The one-shot multiway
    merge (PODS'12) is order-free and never looser than the sequential
    pairwise path; P=2 is byte-identical to scalar merge."""

    def _v1_blob(self, s):
        import json

        pay = json.dumps(
            {"c": s.counts, "t": s.theta, "n": s.n}, ensure_ascii=False
        ).encode("utf-8")
        return ss.MAGIC + np.array([1, s.m, len(pay)], dtype="<u4").tobytes() + pay

    def test_v2_roundtrip_and_v1_backcompat(self):
        s = ss.SpaceSaving(8)
        s.update_batch(np.asarray(["a", "b", "a", "ü", "c", "a", "b", "x"] * 3, dtype=object))
        b2 = s.encode()
        assert b2[4] == 2
        d = ss.decode(b2)
        assert (d.counts, d.theta, d.n) == (s.counts, s.theta, s.n)
        assert d.encode() == b2
        d1 = ss.decode(self._v1_blob(s))
        assert (d1.counts, d1.theta, d1.n) == (s.counts, s.theta, s.n)
        # passthrough probe: v2 valid, legacy v1 re-routes (re-encodes)
        data, offs = _flat_of([b2, self._v1_blob(s), ss.SpaceSaving(8).encode()])
        assert ss.valid_flat(data, offs, 8).tolist() == [True, False, True]

    def test_fold_groups_byte_parity(self):
        rng = np.random.default_rng(21)
        m, vals, inv = 6, [], []
        univ = np.asarray([f"u{i}" for i in range(12)], dtype=object)
        for g in range(40):
            vv = rng.choice(univ, size=int(rng.integers(0, 40)))
            vals.append(vv)
            inv.append(np.full(len(vv), g, dtype=np.int64))
        values = np.concatenate(vals).astype(object)
        inverse = np.concatenate(inv)
        data, offs = ss.fold_groups(values, inverse, 40, m)
        for g in range(40):
            exp = ss.SpaceSaving(m)
            exp.update_batch(vals[g].astype(object))
            assert bytes(data[offs[g] : offs[g + 1]]) == exp.encode(), g
        # weighted variant, zero/negative weights dropped like the spec
        wts = rng.integers(-2, 50, size=len(values)).astype(np.int64)
        data, offs = ss.fold_groups_weighted(values, wts, inverse, 40, m)
        pos = 0
        for g in range(40):
            w_g = wts[pos : pos + len(vals[g])]
            pos += len(vals[g])
            exp = ss.SpaceSaving(m)
            keep = w_g > 0
            exp.update_batch(vals[g][keep].astype(object), w_g[keep])
            assert bytes(data[offs[g] : offs[g + 1]]) == exp.encode(), g

    def test_fold_coerces_nonstring_like_scalar(self):
        vals = np.asarray([5, "5", 7, None, "x"], dtype=object)
        data, offs = ss.fold_groups(vals, np.zeros(5, dtype=np.int64), 1, 4)
        exp = ss.SpaceSaving(4)
        exp.update_batch(vals)
        assert bytes(data[offs[0] : offs[1]]) == exp.encode()
        assert ss.decode(bytes(data[offs[0] : offs[1]])).counts["5"] == 2

    def test_pairwise_merge_byte_parity(self):
        rng = np.random.default_rng(22)
        m, bufs, codes, pairs = 6, [], [], []
        univ = np.asarray([f"k{i}" for i in range(20)], dtype=object)
        for g in range(30):
            a, b = ss.SpaceSaving(m), ss.SpaceSaving(m)
            a.update_batch(rng.choice(univ, size=int(rng.integers(1, 60))))
            b.update_batch(rng.choice(univ, size=int(rng.integers(1, 60))))
            pairs.append((a, b))
            bufs += [a.encode(), b.encode()]
            codes += [g, g]
        data, offs = _flat_of(bufs)
        md, mo = ss.merge_groups_flat(data, offs, np.asarray(codes), 30, m)
        for g, (a, b) in enumerate(pairs):
            exp = ss.decode(a.encode()).merge(ss.decode(b.encode())).encode()
            assert bytes(md[mo[g] : mo[g + 1]]) == exp, g

    def test_multiway_guarantees_and_order_freedom(self):
        import collections

        rng = np.random.default_rng(23)
        keys = np.asarray(
            [f"v{z % 500}" for z in rng.zipf(1.5, size=40_000)], dtype=object
        )
        bufs = []
        for p in np.array_split(keys, 12):
            sk = ss.SpaceSaving(64)
            sk.update_batch(p)
            bufs.append(sk.encode())
        cnt = collections.Counter(keys.tolist())
        N = sum(cnt.values())
        data, offs = _flat_of(bufs)
        md, mo = ss.merge_groups_flat(data, offs, np.zeros(12, dtype=np.int64), 1, 64)
        got = ss.decode(bytes(md[mo[0] : mo[1]]))
        assert got.n == N and got.theta <= N / 64
        for k_, c in got.counts.items():
            assert cnt[k_] <= c <= cnt[k_] + got.theta
        for k_, c in cnt.items():
            if c > N / 64:
                assert k_ in got.counts
        # one-shot multiway is never looser than sequential pairwise
        assert got.theta <= ss.merge_all([ss.decode(b) for b in bufs]).theta
        # ... and arrival-order free
        perm = rng.permutation(12)
        md2, _ = ss.merge_groups_flat(
            *_flat_of([bufs[i] for i in perm]), np.zeros(12, dtype=np.int64), 1, 64
        )
        assert bytes(md2) == bytes(md)

    def test_v1_partial_in_merge_upgrades(self):
        a, b = ss.SpaceSaving(6), ss.SpaceSaving(6)
        a.update_batch(np.asarray(["x", "y", "x"], dtype=object))
        b.update_batch(np.asarray(["y", "z"], dtype=object))
        data, offs = _flat_of([self._v1_blob(a), b.encode()])
        md, mo = ss.merge_groups_flat(data, offs, np.array([0, 0]), 1, 6)
        exp = ss.decode(a.encode()).merge(ss.decode(b.encode())).encode()
        assert bytes(md[mo[0] : mo[1]]) == exp
        with pytest.raises(ValueError, match="Invalid SpaceSaving"):
            ss.merge_groups_flat(data, offs, np.array([0, 0]), 1, 7)


class TestSketchCommonHelpers:
    def test_gather_f8_runs(self):
        from pfutil_spark.kernel.sketch_common import gather_f8_runs

        rng = np.random.default_rng(3)
        runs = [rng.normal(size=int(n)) for n in rng.integers(0, 7, 30)]
        bufs = [b"HD" + r.astype("<f8").tobytes() for r in runs]  # 2B header
        data, offs = flat_buffers(bufs)
        got = gather_f8_runs(
            data, offs[:-1] + 2, np.array([len(r) for r in runs], dtype=np.int64)
        )
        assert np.array_equal(got, np.concatenate(runs))
        # all-empty runs
        assert len(gather_f8_runs(data, offs[:-1], np.zeros(30, dtype=np.int64))) == 0
