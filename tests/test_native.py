"""The native kernels (miekki/_sigkernel.c via miekki/native.py)
against the pure-Python oracle: the fused text → signature kernel vs
the oracle composition char_shingles → xxh64 → minhash_signature /
simhash_fingerprint, the xxh64 entry vs oracle/xxh64.py, plus the
loader's build-cache key, its loud failure, and a warning-free
compile."""

from __future__ import annotations

import subprocess

import numpy as np
import pyarrow as pa
import pytest

from miekki import native
from miekki.config import DedupConfig
from miekki.kernels import make_text_signature_kernel
from miekki.textproc import char_shingles
from oracle.sketches import minhash_signature, simhash_fingerprint
from oracle.xxh64 import spark_xxhash64, xxh64_bytes

pytestmark = pytest.mark.fast


def _batch(texts):
    return pa.record_batch(
        {"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
         "norm_text": pa.array(texts, type=pa.string())})


def _assert_matches_oracle(batch, cfg=DedupConfig()):
    out = list(make_text_signature_kernel(cfg)(iter([batch])))
    assert len(out) == 1
    got = out[0]
    assert got.column("doc_id").equals(batch.column("doc_id"))
    texts = batch.column("norm_text").to_pylist()
    for i, t in enumerate(texts):
        # the empty text is one shingle, "" -> xxh64(b"")
        hashes = {spark_xxhash64(s) for s in char_shingles(t, cfg.shingle_k)}
        assert got.column("minhash")[i].as_py() == \
            minhash_signature(hashes, cfg).tolist(), i
        assert got.column("simhash")[i].as_py() == \
            simhash_fingerprint(hashes, cfg), i
        assert got.column("n_shingles")[i].as_py() == len(hashes), i


def _mixed_texts(n):
    rng = np.random.Generator(np.random.PCG64(11))
    words = rng.integers(0, 5000, size=n * 60)
    texts = [" ".join(f"w{w:04d}" for w in words[i * 60:(i + 1) * 60])
             for i in range(n)]
    # adversarial rows: empty, shorter than k, exactly k, multi-byte
    # UTF-8 crossing window boundaries, huge repetition (distinct ~ 6)
    return texts + ["", "a", "ab", "abcd", "abcde", "abcdef",
                    "日本語のテキスト abc def", "ü" * 3, "naïve café déjà vu",
                    "aaaaaa" * 500, "x", "δοκιμή κείμενο " * 40]


def test_native_parity_mixed_corpus():
    _assert_matches_oracle(_batch(_mixed_texts(400)))


def test_native_parity_sliced_batch():
    # Arrow slices share buffers with a non-zero offset; _utf8_view
    # must rebase before the C call
    texts = ["hello world " * 20, "short", "", "ünïcodé text here"] * 8
    _assert_matches_oracle(_batch(texts).slice(5, 17))


def test_native_parity_wide_signature():
    # n_perm above 256: sketch_row writes straight into the output, so
    # there is no per-row min buffer to cap it
    cfg = DedupConfig(n_perm=320, bands=80)
    _assert_matches_oracle(_batch(_mixed_texts(20)), cfg)


def test_native_xxh64_vectors():
    import ctypes

    lib = native.load()

    def one(payload, seed):
        buf = (ctypes.c_char * max(1, len(payload))).from_buffer_copy(
            payload or b"\0")
        return lib.xxh64_one(ctypes.addressof(buf), len(payload), seed)

    for payload in [b"", b"a", b"abc", b"0123456789abcdef0123456789abcdef!",
                    bytes(range(256)), "héllo wörld".encode()]:
        for seed in (0, 42, 2**63):
            assert one(payload, seed) == xxh64_bytes(payload, seed)


def test_native_anchor_parity():
    """anchor_kernel at the production k = w vs the oracle's
    winnow_naive(window_hashes_naive(doc)), per doc, bit-exact."""
    from miekki.substr_kernels import batch_doc_anchors
    from oracle.winnow import window_hashes_naive, winnow_naive

    cfg = DedupConfig()
    k, w = cfg.anchor_k, cfg.winnow_w
    rng = np.random.Generator(np.random.PCG64(5))
    words = rng.integers(0, 9999, size=300 * 60)
    texts = [" ".join(f"w{x:04d}" for x in words[i * 60:(i + 1) * 60])
             for i in range(300)]
    texts += ["", "a" * 10, "b" * (k - 1), "c" * k, "d" * (k + 5),
              "e" * (w + k - 1), "f" * (w + k), "ab" * 400, "ü" * 200,
              "boilerplate " * 100]
    bs = [t.encode() for t in texts]
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    offs = np.cumsum([0] + [len(b) for b in bs]).astype(np.int64)
    rows, fps, pos = batch_doc_anchors(data, offs, k, w)
    assert len(rows) > 0 and (np.diff(rows) >= 0).all()
    for i, b in enumerate(bs):
        m = rows == i
        h = window_hashes_naive(b, k)
        sel = winnow_naive(h, w)
        assert pos[m].tolist() == sel, f"doc {i} pos"
        assert fps[m].view(np.uint64).tolist() == [h[j] for j in sel], i


def test_native_runs_parity():
    """runs_kernel vs the oracle's common_run_length on 4,000 clip
    pairs at the production config, as substr pair verification ships
    them: shared anchors with partial extensions, byte-identical clips
    (maximal run) and random clips (anchor mismatch, run 0)."""
    from miekki.substr_kernels import batch_common_runs
    from oracle.winnow import common_run_length

    cfg = DedupConfig()
    k, ext = cfg.anchor_k, cfg.substr_len
    rng = np.random.Generator(np.random.PCG64(9))
    clips_a, clips_b, pa_, pb_ = [], [], [], []
    for i in range(4000):
        la = int(rng.integers(k, 2 * ext + k + 1))
        lb = int(rng.integers(k, 2 * ext + k + 1))
        A = rng.integers(32, 127, size=la, dtype=np.uint8)
        B = rng.integers(32, 127, size=lb, dtype=np.uint8)
        p1 = int(rng.integers(0, la - k + 1))
        p2 = int(rng.integers(0, lb - k + 1))
        case = i % 4
        if case == 0:          # shared anchor + partial extensions
            B[p2:p2 + k] = A[p1:p1 + k]
            left = min(p1, p2, int(rng.integers(0, 60)))
            if left:
                B[p2 - left:p2] = A[p1 - left:p1]
            right = min(la - p1 - k, lb - p2 - k, int(rng.integers(0, 90)))
            if right:
                B[p2 + k:p2 + k + right] = A[p1 + k:p1 + k + right]
        elif case == 1:        # byte-identical clips (max run)
            p2, B = p1, A.copy()
        # cases 2/3: random clips — anchor mismatch, run 0
        clips_a.append(A); clips_b.append(B); pa_.append(p1); pb_.append(p2)
    got = batch_common_runs(
        np.concatenate(clips_a),
        np.cumsum([0] + [len(c) for c in clips_a]).astype(np.int64),
        np.concatenate(clips_b),
        np.cumsum([0] + [len(c) for c in clips_b]).astype(np.int64),
        np.array(pa_, dtype=np.int32), np.array(pb_, dtype=np.int32), k)
    want = [common_run_length(a.tobytes(), b.tobytes(), p, q, k)
            for a, b, p, q in zip(clips_a, clips_b, pa_, pb_)]
    assert any(want) and not all(want)
    assert got.tolist() == want


def test_build_dir_keyed_on_resolved_target(monkeypatch):
    # a cache dir shared across CPUs must not serve one host's
    # -march=native build to another
    def build_dir(target):
        monkeypatch.setattr(native, "_target", lambda: target)
        return native._build_dir(b"int x;")

    a = build_dir("-march=  skylake-avx512\n")
    assert a == build_dir("-march=  skylake-avx512\n")
    assert a != build_dir("-march=  znver3\n")


def test_failed_build_raises_every_call(monkeypatch, tmp_path):
    bad = tmp_path / "broken.c"
    bad.write_text("int f(void) { return 1 }\n")
    monkeypatch.setattr(native, "_SRC", str(bad))
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setenv("MIEKKI_NATIVE_DIR", str(tmp_path / "cache"))
    for _ in range(2):
        with pytest.raises(RuntimeError, match="error: expected"):
            native.load()


def test_kernel_source_compiles_without_warnings(tmp_path):
    proc = subprocess.run(
        ["gcc", "-O3", "-march=native", "-Wall", "-Wextra", "-Werror",
         "-shared", "-fPIC", "-o", str(tmp_path / "k.so"), native._SRC],
        capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr
