"""Spark-free kernel tests: the mapInArrow wrappers over the native
kernels vs the plain-loop oracle, plus MinHash statistical properties
(SURVEY.md §5.1/§5.2). hypothesis drives random texts through the
fused signature kernel.
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from miekki.config import DedupConfig, perm_coeffs
from miekki.kernels import make_text_signature_kernel
from miekki.textproc import char_shingles
from oracle.sketches import (est_jaccard, minhash_signature,
                             simhash_fingerprint)
from oracle.xxh64 import spark_xxhash64

CFG = DedupConfig()


def assert_matches_oracle(texts):
    """The fused kernel vs the oracle composition char_shingles ->
    spark_xxhash64 -> minhash_signature / simhash_fingerprint, row by
    row. Returns the kernel's n_shingles."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(texts))), type=pa.int64()),
         pa.array(texts, type=pa.string())],
        names=["doc_id", "norm_text"],
    )
    out = list(make_text_signature_kernel(CFG)(iter([batch])))
    assert len(out) == 1
    mhs = out[0].column("minhash").to_pylist()
    fps = out[0].column("simhash").to_pylist()
    nsh = out[0].column("n_shingles").to_pylist()
    for text, mh, fp, n in zip(texts, mhs, fps, nsh):
        hashes = {spark_xxhash64(s) for s in char_shingles(text, CFG.shingle_k)}
        assert mh == list(minhash_signature(hashes, CFG))
        assert fp == simhash_fingerprint(hashes, CFG)
        assert n == len(hashes)
    return nsh


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(max_size=200), min_size=1, max_size=8))
def test_kernel_matches_oracle(texts):
    assert_matches_oracle(texts)


def test_kernel_chunking_boundary():
    # rows of ~10^5 distinct 5-grams next to 1-3 char rows in one batch
    rng = np.random.Generator(np.random.PCG64(7))
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789 éü中"))

    def big(n_chars):
        return "".join(rng.choice(alphabet, size=n_chars))

    texts = [big(150_004), big(120_004), "abc", "a", big(99_004), "zz"]
    n_shingles = assert_matches_oracle(texts)
    assert n_shingles[0] > 149_000 and n_shingles[4] > 98_000, n_shingles


def test_perm_bijectivity():
    """Odd-A affine maps are injective on sampled uint64 inputs
    (SURVEY.md §5.2)."""
    a, b = perm_coeffs(CFG.n_perm, CFG.perm_seed)
    assert np.all(a % 2 == 1)
    rng = np.random.Generator(np.random.PCG64(3))
    h = rng.integers(0, 2**64, size=5000, dtype=np.uint64)
    for i in (0, 63, 127):
        p = a[i] * h + b[i]
        assert len(np.unique(p)) == len(np.unique(h))


def test_minhash_estimator_unbiased():
    """|est_J - true_J| small at 128 perms on seeded random set pairs
    (statistical bound: 4 sigma with sigma = sqrt(J(1-J)/128))."""
    rng = np.random.Generator(np.random.PCG64(11))
    for _ in range(10):
        n_common = int(rng.integers(50, 400))
        n_a = int(rng.integers(0, 200))
        n_b = int(rng.integers(0, 200))
        pool = np.unique(rng.integers(-(2**62), 2**62, size=n_common + n_a + n_b))
        common, rest = pool[:n_common], pool[n_common:]
        sa = np.concatenate([common, rest[: len(rest) // 2]])
        sb = np.concatenate([common, rest[len(rest) // 2:]])
        true_j = len(common) / len(np.union1d(sa, sb))
        est = est_jaccard(minhash_signature(sa.tolist(), CFG),
                          minhash_signature(sb.tolist(), CFG))
        sigma = max(np.sqrt(true_j * (1 - true_j) / CFG.n_perm), 1e-3)
        assert abs(est - true_j) < 4 * sigma + 0.02, (true_j, est)


def test_simhash_close_for_similar_sets():
    rng = np.random.Generator(np.random.PCG64(13))
    base = np.unique(rng.integers(-(2**62), 2**62, size=500)).tolist()
    variant = base[:-5] + rng.integers(-(2**62), 2**62, size=5).tolist()
    fa = simhash_fingerprint(base, CFG)
    fb = simhash_fingerprint(variant, CFG)
    ham = bin((fa ^ fb) & (2**64 - 1)).count("1")
    assert ham <= 8  # 1% feature churn stays within a few bits


def test_xxh64_fixed_matches_oracle():
    """Native XXH64 (the entry the shingle kernels share) over
    fixed-length rows vs the golden-pinned scalar oracle across all
    lane paths: empty, byte tail, dword, word loop, >=32B stripes."""
    import ctypes

    from miekki import native
    from oracle.xxh64 import xxh64_bytes

    lib = native.load()
    rng = np.random.Generator(np.random.PCG64(7))
    for L in [0, 1, 2, 3, 4, 5, 7, 8, 9, 12, 15, 16, 20, 31, 32, 33,
              40, 63, 64, 71]:
        n = 17
        mat = rng.integers(0, 256, size=(n, max(L, 1)), dtype=np.uint8)
        got = [lib.xxh64_one(native.ptr(mat[i]), L, 42) for i in range(n)]
        want = [xxh64_bytes(bytes(mat[i, :L]), 42) for i in range(n)]
        assert got == want, f"L={L}"


def test_shingle_hash_rows_matches_sql_semantics():
    """Native shingle pass vs the Python oracle shingle set (char
    k-grams of UTF-8 text, whole-text window when shorter than k,
    empty text hashes b''), values ascending within each row."""
    from miekki.kernels import shingle_hashes
    from miekki.textproc import char_shingles
    from oracle.xxh64 import xxh64_bytes

    texts = ["hello world test", "中文测试文档", "emoji 🎉🎊 mix",
             "ab", "", "x", "ñandú ñandú ñandú", "aaaaaaaa"]
    k = CFG.shingle_k
    data = np.frombuffer("".join(texts).encode("utf-8"), dtype=np.uint8)
    rel = np.cumsum([0] + [len(t.encode("utf-8")) for t in texts]).astype(np.int64)
    values, counts = shingle_hashes(data, rel, k)
    starts = np.concatenate(([0], np.cumsum(counts)))
    for i, t in enumerate(texts):
        got = values[starts[i]: starts[i + 1]].tolist()
        want = {xxh64_bytes(s.encode("utf-8"), 42)
                for s in char_shingles(t, k)}
        assert got == sorted(want), t


def test_payload_hashes_trailing_empty_row():
    """A batch whose LAST row is an empty payload indexes the inverse
    power table at n — sized n+1 so the whole Arrow task doesn't die
    (it crashed before r4's fix whenever an empty doc landed last)."""
    import numpy as np

    from miekki.substr_kernels import payload_hashes

    data = np.frombuffer(b"abc", dtype=np.uint8)
    trail = payload_hashes(data, np.array([0, 3, 3], dtype=np.int64))
    lead = payload_hashes(data, np.array([0, 0, 3], dtype=np.int64))
    # same content hashes regardless of where the empty row sits
    assert trail[0] == lead[1] and trail[1] == lead[0]


def test_utf8_view_large_string_offsets():
    """large_string/large_binary carry int64 offsets; reading them as
    int32 silently hashes the wrong bytes into every signature or run
    length. One offset-width decision (_bin_view) serves the text view
    and the binary views of the substr and media kernels."""
    import pyarrow as pa

    from miekki.kernels import _bin_view, _utf8_view

    for t in (pa.string(), pa.large_string()):
        data, offs = _utf8_view(pa.array(["hello", "world"], type=t))
        assert list(offs) == [0, 5, 10], t
        assert bytes(data[:5]) == b"hello", t
    for t in (pa.binary(), pa.large_binary()):
        arr = pa.array([b"skip", b"hello", b"", b"world"], type=t)
        data, offs = _bin_view(arr.slice(1))
        assert list(offs) == [0, 5, 5, 10], t
        assert bytes(data) == b"helloworld", t
        # a zero-length array may carry no buffers at all
        data, offs = _bin_view(pa.array([], type=t))
        assert len(data) == 0 and list(offs) == [0], t
