"""Correctness oracles, independent of ``pfutil_spark.operators``.

HLL references are computed on the driver with the ``kernel`` functions
alone (hash, register update, canonical encoding, estimator), reading the
parquet inputs with pyarrow; Spark results must match them exactly.
Exact quantiles, distinct counts and item counts for the extension
sketches come from DuckDB over the same parquet files.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pfutil_spark.kernel import hll

HLL_VERSION = 4
# normalized-rank tolerance for KLL (k=200) and t-digest (delta=100)
# quantiles: 4/k, the KLL kernel's own uniform bound, used for both
RANK_TOL = 0.02
# KMV relative-error tolerance in standard errors (1/sqrt(k-2))
KMV_SIGMAS = 5.0
KMV_K = 2048


def read_parquet_dir(path: str, columns: list[str]) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def varbin(arr: pa.ChunkedArray | pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(values, int64 offsets) numpy views of a string/binary array."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.cast(pa.large_binary())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=len(arr) + 1, offset=arr.offset * 8)
    return np.frombuffer(bufs[2], dtype=np.uint8), offsets


def hll_updates(values: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    data, offsets = varbin(values)
    return hll.hash_and_patlen_flat(data, offsets, HLL_VERSION)


def estimates_of(regs2d: np.ndarray) -> np.ndarray:
    """PFCOUNT of each register row via its canonical wire encoding."""
    return hll.estimate_bytes_batch([hll.encode(r) for r in regs2d], HLL_VERSION)


class LowcardOracle:
    """Reference for ``sourcecode_distinct_report``: one exact estimate
    per (lang, metric) plus the global (lang NULL) row per metric."""

    def __init__(self, input_dir: str, by: str, elements: list[str]):
        tbl = read_parquet_dir(input_dir, [by, *elements])
        enc = pc.dictionary_encode(tbl.column(by).combine_chunks())
        codes = enc.indices.to_numpy().astype(np.int64)
        groups = enc.dictionary.to_pylist()
        self.expected: dict[tuple, int] = {}
        for e in elements:
            idx, patlen = hll_updates(tbl.column(e))
            regs = hll.empty_registers(len(groups))
            hll.update_registers_grouped(regs, codes, idx, patlen)
            per_group = estimates_of(regs)
            for g, est in zip(groups, per_group):
                self.expected[(g, e)] = int(est)
            glob_regs = hll.merge_registers(regs)[None, :]
            self.expected[(None, e)] = int(estimates_of(glob_regs)[0])

    def check(self, rows: list[tuple]) -> bool:
        got = {(r[0], r[1]): r[2] for r in rows}
        return len(rows) == len(self.expected) and got == self.expected

    def check_subset(self, rows: list[tuple]) -> bool:
        """Per-group rows only (the traced run counts without the global
        re-merge)."""
        return len(rows) > 0 and all(
            self.expected.get((r[0], r[1])) == r[2] for r in rows
        )


class KeyedHllOracle:
    """Reference for per-key HLL state fed batch by batch: the sorted
    unique (key * 16384 + register) pairs with their max pattern length,
    i.e. every nonzero register of every key. Estimates come from
    ``encode_groups`` + ``estimate_bytes_batch`` over those pairs."""

    def __init__(self, key_col: str, element: str, key_values: pa.Array):
        self.key_col = key_col
        self.element = element
        self.key_values = key_values
        self.keys = np.empty(0, dtype=np.int64)
        self.vals = np.empty(0, dtype=np.uint8)

    def apply(self, tbl: pa.Table) -> None:
        codes = pc.index_in(tbl.column(self.key_col), value_set=self.key_values)
        if codes.null_count:
            raise ValueError("batch key outside the oracle's key universe")
        idx, patlen = hll_updates(tbl.column(self.element))
        new_keys = codes.to_numpy().astype(np.int64) * hll.HLL_REGISTERS + idx.astype(np.int64)
        keys = np.concatenate([self.keys, new_keys])
        vals = np.concatenate([self.vals, patlen.astype(np.uint8)])
        order = np.argsort(keys, kind="stable")
        keys, vals = keys[order], vals[order]
        starts = np.flatnonzero(np.concatenate(([True], keys[1:] != keys[:-1])))
        self.keys = keys[starts]
        self.vals = np.maximum.reduceat(vals, starts)

    def expected(self) -> dict[str, int]:
        key_codes = self.keys >> hll.HLL_P
        present, inverse = np.unique(key_codes, return_inverse=True)
        data, offsets = hll.encode_groups(
            inverse, self.keys & (hll.HLL_REGISTERS - 1), self.vals, len(present)
        )
        bufs = [data[offsets[i] : offsets[i + 1]].tobytes() for i in range(len(present))]
        ests = hll.estimate_bytes_batch(bufs, HLL_VERSION)
        names = self.key_values.take(pa.array(present)).to_pylist()
        return dict(zip(names, (int(v) for v in ests)))


class ProfileOracle:
    """Exact per-lang facts from DuckDB for the ``sketch_multi`` report:
    sorted sizes (rank error of KLL and t-digest quantiles), distinct
    content hashes (KMV bound) and counts of the queried paths (CMS must
    never undercount)."""

    def __init__(self, input_dir: str, work_dir: str, items: list[str]):
        import duckdb

        src = f"read_parquet('{os.path.join(input_dir, '*.parquet')}')"
        con = duckdb.connect(
            config={"threads": "2", "temp_directory": os.path.join(work_dir, "duckdb_tmp")}
        )
        try:
            sizes = con.execute(f"SELECT lang, size FROM {src} ORDER BY lang, size").arrow()
            langs = sizes.column("lang").to_numpy(zero_copy_only=False)
            vals = sizes.column("size").to_numpy()
            cut = np.flatnonzero(np.concatenate(([True], langs[1:] != langs[:-1]), axis=0))
            bounds = list(cut) + [len(langs)]
            self.sorted_sizes = {
                langs[bounds[i]]: vals[bounds[i] : bounds[i + 1]] for i in range(len(cut))
            }
            self.distinct_sha = dict(
                con.execute(
                    f"SELECT lang, count(DISTINCT content_sha) FROM {src} GROUP BY lang"
                ).fetchall()
            )
            self.items = items
            in_list = ", ".join("'" + p.replace("'", "''") + "'" for p in self.items)
            self.item_counts = {
                (lang, path): n
                for lang, path, n in con.execute(
                    f"SELECT lang, path, count(*) FROM {src} WHERE path IN ({in_list}) "
                    f"GROUP BY lang, path"
                ).fetchall()
            }
        finally:
            con.close()

    def _rank_ok(self, lang: str, qs: list[float], values: list[float]) -> bool:
        s = self.sorted_sizes[lang]
        n = len(s)
        for q, v in zip(qs, values):
            lo = np.searchsorted(s, v, side="left") / n
            hi = np.searchsorted(s, v, side="right") / n
            if not (lo - RANK_TOL <= q <= hi + RANK_TOL):
                return False
        return True

    def _kmv_ok(self, lang: str, est: float) -> bool:
        exact = self.distinct_sha[lang]
        if exact < KMV_K:
            return est == exact
        return abs(est - exact) <= KMV_SIGMAS * exact / np.sqrt(KMV_K - 2)

    def _cms_ok(self, lang: str, counts: list[int]) -> bool:
        total = len(self.sorted_sizes[lang])
        return all(
            self.item_counts.get((lang, item), 0) <= c <= total
            for item, c in zip(self.items, counts)
        )

    def check(self, rows: list[tuple], qs: list[float]) -> bool:
        """rows: (lang, kll quantiles, t-digest quantiles, kmv estimate,
        cms counts of ``self.items``)."""
        if sorted(r[0] for r in rows) != sorted(self.sorted_sizes):
            return False
        return all(
            self._rank_ok(lang, qs, kq)
            and self._rank_ok(lang, qs, tq)
            and self._kmv_ok(lang, kmv_est)
            and self._cms_ok(lang, cms_counts)
            for lang, kq, tq, kmv_est, cms_counts in rows
        )
