"""Pinned dedup configuration (SURVEY.md §2.1).

Every semantic knob of the pipeline lives in ONE frozen dataclass.
``config_hash`` is written to the lineage table (T7) so resume
refuses to mix configs (BASELINE.json north_rule: "at the same
shingle/signature config"). Changing any default invalidates all
golden files under tests/golden/.

Every hash the dedup pipeline computes (doc ids, shingles, band
hashes) is Spark's xxhash64 with seed 42; there is no hash knob. The
DuckDB-checked sketch, bloom and DSIR queries take md5 as their own
function argument, not from this config.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

import numpy as np

# Production LSH geometry: b=32 bands x r=4 rows = 128 permutations.
# S-curve P(candidate) = 1-(1-J^r)^b gives >=0.9999 at J>=0.72
# (SURVEY.md §2.2) — headroom over the >=0.99 recall target.
N_PERM = 128
BANDS = 32
ROWS_PER_BAND = 4


@dataclass(frozen=True)
class DedupConfig:
    """All pinned semantics of a dedup run (SURVEY.md §2.1)."""

    # --- shingling ---
    shingle_k: int = 5           # character 5-grams (language-agnostic; zh-safe)
    # --- MinHash ---
    n_perm: int = N_PERM         # 128-permutation signatures
    bands: int = BANDS           # LSH: 32 bands ...
    rows_per_band: int = ROWS_PER_BAND  # ... x 4 rows
    tau: float = 0.7             # signature-Jaccard edge threshold (O11)
    perm_seed: int = 42          # PCG64 seed for permutation coefficients
    # --- SimHash ---
    simhash_bits: int = 64
    hamming_max: int = 3         # dup iff Hamming <= 3 (Manku WWW'07)
    simhash_blocks: int = 4      # 16-bit block banding (pigeonhole for <=3)
    simhash_chain: int = 8       # successors paired per bucket member (§2.5)
    # --- exact-substring pass ---
    substr_len: int = 200        # common-run threshold, normalized bytes
    winnow_w: int = 64           # winnowing window (positions)
    anchor_k: int = 64           # rolling-hash window (bytes)
    # --- skew handling ---
    # Two-level salted aggregation (§2.4). Memory bound per reducer
    # group: level 1 holds <= ceil(|hot bucket| / S) ids x 8B, level 2
    # holds <= S ids x 8B. S=1024 bounds a 10^9-doc boilerplate bucket
    # at ~8 MB per level-1 group and 8 KB at level 2. Salt is a pure
    # function of doc_id, so the connected components of every
    # candidate-pair graph are invariant in S
    # (tests/test_spark_stages.py::test_candidate_components_salt_invariant).
    # Verified edges may differ with S, because stars centre on
    # salt-group minima.
    salt_buckets: int = 1024
    # --- doc-id width ---
    # 64: doc_id = xxhash64(url) as bigint (default; ~2.7e4 birthday
    #     collisions expected at 10^12 docs — SCALE.md).
    # 128: doc_id = 16-byte binary, hi = xxhash64(url), lo =
    #     xxhash64(reverse(url)) — collision odds ~1e-14 at 10^12.
    #     Binary ids order/join/window/min correctly in Spark and pass
    #     through every Arrow kernel as opaque bytes, so the whole
    #     pipeline is id-width-agnostic (tests/test_id128.py).
    id_bits: int = 64

    def config_hash(self) -> str:
        """sha256 of the sorted-JSON config; written to lineage (T7)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()

    def __post_init__(self):
        if self.bands * self.rows_per_band != self.n_perm:
            raise ValueError("bands * rows_per_band must equal n_perm")
        if self.simhash_bits % self.simhash_blocks != 0:
            raise ValueError("simhash_bits must divide into equal blocks")
        # winnowing guarantee (Schleimer'03): every common run of
        # >= winnow_w + anchor_k - 1 bytes shares an anchor; that
        # bound must not exceed the dup threshold L
        if self.winnow_w + self.anchor_k - 1 > self.substr_len:
            raise ValueError("winnow_w + anchor_k - 1 must be <= substr_len")
        if self.id_bits not in (64, 128):
            raise ValueError("id_bits must be 64 or 128")


# Small-fixture config for the exact-substring pass (FIXTURES.md F2):
# tests use L=40 / w=16 so containment fixtures stay small — config,
# not code, changes.
TEST_SUBSTR = DedupConfig(substr_len=40, winnow_w=16, anchor_k=16)


def perm_coeffs(n_perm: int = N_PERM, seed: int = 42):
    """MinHash permutation coefficients, one fixed call order.

    pi_i(h) = (A_i * h + B_i) mod 2^64 with A_i odd — a bijection on
    64-bit ints (Broder et al. 1998 approximation; SURVEY.md §2.1).
    Shared by the Spark kernel and the oracle: the coefficients ARE
    part of the pinned spec.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(0, 2**64, size=n_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 2**64, size=n_perm, dtype=np.uint64)
    return a, b
