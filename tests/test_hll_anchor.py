"""Regression anchor for the HLL kernel's byte outputs.

Not a parity claim (the Redis fixtures in test_hll_kernel.py are that):
these sha256 digests pin what the kernel emits today — encode, the dense
6-bit codec, dump, estimate and merged bytes, for v4 and v5 — over
seeded register states that cover sparse->dense promotion, the
encoder's nnz bail (4094 vs 4095 nonzero registers), values 32/33 and
all-zero rows. A codec or encoder rewrite must leave every digest where
it is; the batched encoder must hash to the scalar encoder's digest.
"""

import hashlib

import numpy as np
import pytest

from pfutil_spark.kernel import hll

R = hll.HLL_REGISTERS


def _added(n: int, version: int, salt: str) -> np.ndarray:
    regs = hll.empty_registers()
    elems = [f"{salt}-{i}".encode() for i in range(n)]
    idx, pl = hll.hash_and_patlen(elems, version)
    hll.update_registers(regs, idx, pl)
    return regs


def _nnz(n: int, vmax: int, seed: int) -> np.ndarray:
    """``n`` nonzero registers at seeded positions, values in 1..vmax."""
    rng = np.random.default_rng(seed)
    regs = hll.empty_registers()
    pos = rng.choice(R, size=n, replace=False)
    regs[pos] = rng.integers(1, vmax + 1, size=n)
    return regs


def anchor_states(version: int) -> np.ndarray:
    """(n, 16384) seeded register states, one row per edge case."""
    rows = [hll.empty_registers()]  # all zero
    # sparse -> dense promotion by element count
    rows += [_added(n, version, "p") for n in (1, 26, 300, 1000, 3000, 6000, 20000, 100000)]
    rows.append(hll.empty_registers())  # all zero again, mid-batch
    az = hll.empty_registers()
    hll.update_registers(
        az, *hll.hash_and_patlen([chr(c).encode() for c in range(65, 91)], version)
    )
    rows.append(az)  # A..Z
    # the sparse nnz bail: nnz*3 + 4 >= 12288 first holds at 4095
    rows += [_nnz(4094, 32, 1), _nnz(4095, 32, 2), _nnz(4094, 1, 3)]
    # values at and above the VAL opcode limit
    at32 = _nnz(200, 31, 4)
    at32[7] = 32
    over = at32.copy()
    over[9] = 33
    rows += [at32, over]
    # long equal-value runs and a full register file
    runs = hll.empty_registers()
    runs[100:1100] = 3
    runs[5000:5003] = 32
    rows += [runs, np.full(R, 1, np.uint8), _nnz(R, 50, 5)]
    return np.stack(rows)


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(bytes(p))
    return h.hexdigest()


def _artifacts(version: int) -> dict[str, str]:
    states = anchor_states(version)
    # pairwise merges of neighbouring states (register max), re-encoded
    merged = np.maximum(states[:-1], states[1:])
    ests = [hll.estimate(r, version) for r in states]
    return {
        "encode": _digest(hll.encode(r) for r in states),
        "pack_dense": _digest([hll.pack_dense(states).tobytes()]),
        "dump": _digest(hll.dump(r, version) for r in states),
        "estimate": _digest([np.array(ests, dtype=np.int64).tobytes()]),
        "merged": _digest(hll.encode(r) for r in merged),
    }


# computed from the kernel before the shift/mask codec and the batched
# encoder landed; register states hash alike for v4 and v5 here (their
# patLen only differs past 48 trailing zero bits), so only the
# version-dependent artifacts (dump, estimate) differ between them
_SHARED = {
    "encode": "5707d77b4ef12727d9824f5ea1166a738cc8b17bdc0f65ab9737acbc4facb9ea",
    "pack_dense": "e08367afa30f608ef6f0eeffb221a75f8ef983c700261af786eff98b3cd16611",
    "merged": "6843939b51ec9196da0794f413a496471e1c82a99b08aaebe5be952304c17a90",
}
ANCHORS = {
    4: {
        **_SHARED,
        "dump": "54cb7cd92c7eaaaa69b079f9bd2f89773997816db931738006c817390ba87087",
        "estimate": "2e9083ba81bc77379ee6130d81b90ac986ca38c5170f1e820fe940cf8b0cb7e6",
    },
    5: {
        **_SHARED,
        "dump": "925cf95f984beaaf375ca16555ce7da38d0ca3931b620ce858369add38707ca4",
        "estimate": "3fb35458d0e19714a612c94e677ef0ac5744b032e710e62ddebc74eb60e1e613",
    },
}


@pytest.mark.parametrize("version", [4, 5])
def test_kernel_digests_unchanged(version):
    assert _artifacts(version) == ANCHORS[version]


@pytest.mark.parametrize("version", [4, 5])
def test_batched_codecs_hit_the_scalar_anchors(version):
    states = anchor_states(version)
    data, _ = hll.encode_many(states)
    assert _digest([data]) == ANCHORS[version]["encode"]
    merged, _ = hll.encode_many(np.maximum(states[:-1], states[1:]))
    assert _digest([merged]) == ANCHORS[version]["merged"]
    assert np.array_equal(hll.unpack_dense(hll.pack_dense(states)), states & 0x3F)
