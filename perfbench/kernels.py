"""In-process kernel probes: each public kernel function is called on a
fixed sample of the workload's own elements and reported as a rate (the
median of several timed calls, each consuming its full result)."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pfutil_spark.kernel import cms, hll, kll, kmv, murmur, tdigest

from perfbench.oracle import varbin

MIN_PROBE_S = 0.15
MIN_CALLS = 3


def _rate(fn, n_items: int) -> float:
    """Items per second: n_items over the median call time."""
    times = []
    t_end = time.perf_counter() + MIN_PROBE_S
    while len(times) < MIN_CALLS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_items / statistics.median(times)


def _codes(col: pa.ChunkedArray) -> tuple[np.ndarray, int]:
    enc = pc.dictionary_encode(col.combine_chunks())
    return enc.indices.to_numpy().astype(np.int64), len(enc.dictionary)


def probe_kernels(sample: pa.Table, tracer) -> dict[str, float]:
    """Rates for the murmur/HLL kernels and each extension sketch's
    grouped fold. ``sample`` has the corpus columns."""
    n = sample.num_rows
    commit_data, commit_offs = varbin(sample.column("commit"))
    sha_data, sha_offs = varbin(sample.column("content_sha"))
    path_data, path_offs = varbin(sample.column("path"))
    lang_codes, n_langs = _codes(sample.column("lang"))
    repo_codes, n_repos = _codes(sample.column("repo"))
    sizes = sample.column("size").to_numpy()
    out: dict[str, float] = {}

    with tracer.span("kernel.murmur"):
        out["kernel.murmur.rows_per_s"] = _rate(
            lambda: murmur.murmur64a_flat(commit_data, commit_offs), n
        )
    with tracer.span("kernel.hll.hash_and_patlen"):
        out["kernel.hll.hash_patlen_rows_per_s"] = _rate(
            lambda: hll.hash_and_patlen_flat(commit_data, commit_offs, 4), n
        )
    sha_idx, sha_patlen = hll.hash_and_patlen_flat(sha_data, sha_offs, 4)

    def update_grouped():
        regs = hll.empty_registers(n_langs)
        hll.update_registers_grouped(regs, lang_codes, sha_idx, sha_patlen)

    with tracer.span("kernel.hll.update_registers_grouped"):
        out["kernel.hll.update_grouped_rows_per_s"] = _rate(update_grouped, n)
    c_idx, c_patlen = hll.hash_and_patlen_flat(commit_data, commit_offs, 4)
    with tracer.span("kernel.hll.encode_groups"):
        out["kernel.hll.encode_groups_rows_per_s"] = _rate(
            lambda: hll.encode_groups(repo_codes, c_idx, c_patlen, n_repos), n
        )
    data, offs = hll.encode_groups(repo_codes, c_idx, c_patlen, n_repos)
    bufs = [data[offs[i] : offs[i + 1]].tobytes() for i in range(n_repos)]
    with tracer.span("kernel.hll.estimate_bytes_batch"):
        out["kernel.hll.estimate_sketches_per_s"] = _rate(
            lambda: hll.estimate_bytes_batch(bufs, 4), n_repos
        )

    # extension sketches' grouped folds, keyed by repo (the
    # high-cardinality direct-emit regime those folds serve)
    path_hashes = murmur.murmur64a_flat(path_data, path_offs).view(np.int64)
    sha_hashes = murmur.murmur64a_flat(sha_data, sha_offs).view(np.int64)
    folds = {
        "kll": lambda: kll.fold_groups_level0(sizes, repo_codes, n_repos),
        "tdigest": lambda: tdigest.fold_groups(sizes, repo_codes, n_repos),
        "cms": lambda: cms.fold_groups(path_hashes, repo_codes, n_repos),
        "kmv": lambda: kmv.fold_groups_hashes(sha_hashes, repo_codes, n_repos),
    }
    for kind, fn in folds.items():
        with tracer.span(f"kernel.{kind}.fold_groups"):
            out[f"kernel.{kind}.fold_rows_per_s"] = _rate(fn, n)
    return out
