"""Seeded synthetic source-code corpus for the benchmark.

The shape mirrors ``pfutil_spark.sources.synthetic.sourcecode_table``
(Zipf-skewed ``lang`` over 17 languages, ``content`` duplicated about 5x,
40-hex ``commit`` per row) with two additions the workloads need: a
``content_sha`` column (hex sha256 of ``content``) and a heavy-tailed
``size`` double. Every value is drawn from ``numpy.random.default_rng``
seeded by the benchmark's ``--seed`` and salted into the string values,
so the same seed gives byte-identical parquet inputs and another seed
gives other element values at the same sizes.

The generator is independent of the package under test: it builds Arrow
arrays with numpy and writes them with pyarrow, so the program only ever
receives the parquet files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (language, weight in percent): the Zipf-like mix of the synthetic table
LANG_WEIGHTS = [
    ("JavaScript", 30), ("Python", 20), ("Java", 12), ("C", 8), ("C++", 6),
    ("Go", 5), ("TypeScript", 4), ("Ruby", 3), ("PHP", 3), ("C#", 2),
    ("Swift", 1), ("Kotlin", 1), ("Rust", 1), ("Scala", 1), ("Perl", 1),
    ("Haskell", 1), ("Lua", 1),
]
LANGS = [name for name, _ in LANG_WEIGHTS]
_LANG_P = np.array([w for _, w in LANG_WEIGHTS], dtype=np.float64) / 100.0

_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)

ROWS_PER_REPO = 40
DUP_FACTOR = 5
ROWS_PER_PATH = 10
ROW_GROUP_ROWS = 131072


def _fixed_width_strings(mat: np.ndarray) -> pa.Array:
    """A (n, w) uint8 matrix as an Arrow string array of n w-byte values."""
    n, w = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * w
    data = np.ascontiguousarray(mat).reshape(-1)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _hex_matrix(raw: np.ndarray) -> np.ndarray:
    """(n, k) random bytes -> (n, 2k) lowercase hex characters."""
    out = np.empty((raw.shape[0], 2 * raw.shape[1]), dtype=np.uint8)
    out[:, 0::2] = _HEX[raw >> 4]
    out[:, 1::2] = _HEX[raw & 15]
    return out


class Universe:
    """The value tables one seed draws from: repo names, paths and
    content texts. Micro-batches for the streaming workload draw from the
    same universe, so their repos land in the persisted state."""

    def __init__(self, seed: int, n_rows: int):
        self.rng = np.random.default_rng(seed)
        salt = f"{seed & 0xFFFFFFFF:08x}"
        self.n_repos = max(1, n_rows // ROWS_PER_REPO)
        self.n_paths = max(1, n_rows // ROWS_PER_PATH)
        self.n_contents = max(1, n_rows // DUP_FACTOR)
        self.repos = pa.array(
            [f"org{r % 97}/repo-{salt}-{r}" for r in range(self.n_repos)], pa.string()
        )
        self.paths = pa.array(
            [
                f"src/d{p % 7}/f{p % 13}/{salt}/file_{p}.{LANGS[p % 17].lower()}"
                for p in range(self.n_paths)
            ],
            pa.string(),
        )
        # fixed-width pseudo source: two hex runs inside a code template
        head = np.frombuffer(b"// blob ", dtype=np.uint8)
        mid = np.frombuffer(b"\nfn main() { return 0x", dtype=np.uint8)
        tail = np.frombuffer(b"; }\n", dtype=np.uint8)
        n = self.n_contents
        body = np.concatenate(
            [
                np.broadcast_to(head, (n, len(head))),
                _hex_matrix(self.rng.integers(0, 256, (n, 16), dtype=np.uint8)),
                np.broadcast_to(mid, (n, len(mid))),
                _hex_matrix(self.rng.integers(0, 256, (n, 8), dtype=np.uint8)),
                np.broadcast_to(tail, (n, len(tail))),
            ],
            axis=1,
        )
        self.contents = _fixed_width_strings(body)
        shas = np.frombuffer(
            b"".join(hashlib.sha256(bytes(row)).digest() for row in body),
            dtype=np.uint8,
        ).reshape(n, 32)
        self.content_shas = _fixed_width_strings(_hex_matrix(shas))
        self.langs = pa.array(LANGS, pa.string())

    def rows(self, n: int) -> pa.Table:
        """``n`` fresh rows: new commits, values drawn from the universe."""
        rng = self.rng
        repo_i = rng.integers(0, self.n_repos, n)
        path_i = rng.integers(0, self.n_paths, n)
        content_i = rng.integers(0, self.n_contents, n)
        lang_i = rng.choice(len(LANGS), size=n, p=_LANG_P)
        commits = _fixed_width_strings(
            _hex_matrix(rng.integers(0, 256, (n, 20), dtype=np.uint8))
        )
        # Pareto tail over a lognormal body: sizes of source files in bytes
        size = np.round(
            rng.lognormal(7.0, 1.0, n) * (1.0 + rng.pareto(1.5, n)), 3
        )
        return pa.table(
            {
                "repo": self.repos.take(pa.array(repo_i)),
                "path": self.paths.take(pa.array(path_i)),
                "commit": commits,
                "lang": self.langs.take(pa.array(lang_i)),
                "content": self.contents.take(pa.array(content_i)),
                "content_sha": self.content_shas.take(pa.array(content_i)),
                "size": pa.array(size, pa.float64()),
            }
        )


def write_parquet_dir(table: pa.Table, out_dir: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet parts (like a Spark job's
    output) and return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    total = 0
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows == 0:
            continue
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path, row_group_size=ROW_GROUP_ROWS)
        total += os.path.getsize(path)
    return total

