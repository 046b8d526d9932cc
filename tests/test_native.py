"""Bit-parity of the compiled C signature kernel (miekki/_sigkernel.c)
against the numpy reference path — same batches, byte-identical Arrow
output. The C path is a fast-path only: when gcc is missing the loader
returns None and these tests skip (the numpy path stays pinned by the
golden-signature suite either way)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

from miekki.config import DedupConfig
from miekki import native
from miekki.kernels import make_text_signature_kernel


def _batch(texts):
    return pa.record_batch(
        {"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
         "norm_text": pa.array(texts, type=pa.string())})


def _run(batch, use_native):
    old = os.environ.get("MIEKKI_NATIVE")
    os.environ["MIEKKI_NATIVE"] = "1" if use_native else "0"
    native._TRIED, native._LIB = False, None
    try:
        kern = make_text_signature_kernel(DedupConfig())
        return list(kern(iter([batch])))
    finally:
        native._TRIED, native._LIB = False, None
        if old is None:
            os.environ.pop("MIEKKI_NATIVE", None)
        else:
            os.environ["MIEKKI_NATIVE"] = old


needs_native = pytest.mark.skipif(native.load() is None,
                                  reason="no C toolchain")

pytestmark = pytest.mark.fast


@needs_native
def test_native_parity_mixed_corpus():
    rng = np.random.Generator(np.random.PCG64(11))
    words = rng.integers(0, 5000, size=400 * 60)
    texts = [" ".join(f"w{w:04d}" for w in words[i * 60:(i + 1) * 60])
             for i in range(400)]
    # adversarial rows: empty, shorter than k, exactly k, multi-byte
    # UTF-8 crossing window boundaries, huge repetition (distinct ~ 6)
    texts += ["", "a", "ab", "abcd", "abcde", "abcdef",
              "日本語のテキスト abc def", "ü" * 3, "naïve café déjà vu",
              "aaaaaa" * 500, "x", "δοκιμή κείμενο " * 40]
    b = _batch(texts)
    ref = _run(b, use_native=False)
    got = _run(b, use_native=True)
    assert len(ref) == len(got)
    for r, g in zip(ref, got):
        assert r.equals(g)


@needs_native
def test_native_parity_sliced_batch():
    # Arrow slices share buffers with a non-zero offset; _utf8_view
    # must rebase identically on both paths
    texts = ["hello world " * 20, "short", "", "ünïcodé text here"] * 8
    full = _batch(texts)
    b = full.slice(5, 17)
    ref = _run(b, use_native=False)
    got = _run(b, use_native=True)
    for r, g in zip(ref, got):
        assert r.equals(g)


@needs_native
def test_native_anchor_parity():
    from miekki.config import DedupConfig
    from miekki.substr_kernels import batch_doc_anchors

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

    def run(use_native):
        old = os.environ.get("MIEKKI_NATIVE")
        os.environ["MIEKKI_NATIVE"] = "1" if use_native else "0"
        native._TRIED, native._LIB = False, None
        try:
            return batch_doc_anchors(data, offs, k, w)
        finally:
            native._TRIED, native._LIB = False, None
            if old is None:
                os.environ.pop("MIEKKI_NATIVE", None)
            else:
                os.environ["MIEKKI_NATIVE"] = old

    ref, got = run(False), run(True)
    assert len(ref[0]) > 0
    for a, b in zip(ref, got):
        assert np.array_equal(a, b)


@needs_native
def test_native_runs_parity():
    from miekki.config import DedupConfig
    from miekki.substr_kernels import batch_common_runs

    cfg = DedupConfig()
    k, ext = cfg.anchor_k, cfg.substr_len
    rng = np.random.Generator(np.random.PCG64(9))
    clips_a, clips_b, pa, pb = [], [], [], []
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
            lb, p2, B = la, p1, A.copy()
        # cases 2/3: random clips — anchor mismatch, run 0
        clips_a.append(A); clips_b.append(B); pa.append(p1); pb.append(p2)
    da = np.concatenate(clips_a)
    db = np.concatenate(clips_b)
    oa = np.cumsum([0] + [len(c) for c in clips_a]).astype(np.int64)
    ob = np.cumsum([0] + [len(c) for c in clips_b]).astype(np.int64)
    pa = np.array(pa, dtype=np.int64)
    pb = np.array(pb, dtype=np.int64)

    def run(use_native):
        old = os.environ.get("MIEKKI_NATIVE")
        os.environ["MIEKKI_NATIVE"] = "1" if use_native else "0"
        native._TRIED, native._LIB = False, None
        try:
            return batch_common_runs(da, oa, db, ob, pa, pb, k)
        finally:
            native._TRIED, native._LIB = False, None
            if old is None:
                os.environ.pop("MIEKKI_NATIVE", None)
            else:
                os.environ["MIEKKI_NATIVE"] = old

    ref, got = run(False), run(True)
    assert (ref > 0).any() and (ref == 0).any()
    assert np.array_equal(ref, got)


@needs_native
def test_native_xxh64_vectors():
    import ctypes

    from oracle.xxh64 import xxh64_bytes

    lib = native.load()
    for payload in [b"", b"a", b"abc", b"0123456789abcdef0123456789abcdef!",
                    bytes(range(256)), "héllo wörld".encode()]:
        for seed in (0, 42, 2**63):
            buf = (ctypes.c_char * max(1, len(payload))).from_buffer_copy(
                payload or b"\0")
            got = lib.xxh64_one(ctypes.addressof(buf), len(payload), seed)
            assert got == xxh64_bytes(payload, seed)
