"""Build-and-load for the native kernels (miekki/_sigkernel.c).

The C kernels are the only engine for signatures, shingle hashes,
winnowing anchors and common runs; oracle/ holds the reference they
are tested against. The .so is compiled with ``-O3 -march=native``
once per (source, resolved gcc target) into a shared cache dir and
dlopen'd by every process that wants it — driver and Python workers
alike. Keying on the resolved target (``gcc -march=native -Q
--help=target``) keeps a cache dir shared across different CPUs from
serving a .so with instructions the loading host lacks. A flock
serializes the one-time build across concurrently-spawning workers.

gcc is required: a failed build or a failed self-check raises
RuntimeError with the compiler's message at the first kernel call.
Only success is cached, so a fixed toolchain is picked up on retry.
"""

from __future__ import annotations

import ctypes
import fcntl
import functools
import hashlib
import os
import subprocess
import tempfile

_LIB: ctypes.CDLL | None = None

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_sigkernel.c")

_P = ctypes.c_void_p
_SIGNATURES = {
    "sig_kernel": (ctypes.c_int, [_P, _P, ctypes.c_int64, ctypes.c_int, _P,
                                  _P, ctypes.c_int, _P, _P, _P]),
    "shingle_kernel": (ctypes.c_int64, [_P, _P, ctypes.c_int64,
                                        ctypes.c_int, _P, _P]),
    "xxh64_one": (ctypes.c_uint64, [_P, ctypes.c_int64, ctypes.c_uint64]),
    "anchor_kernel": (ctypes.c_int64, [_P, _P, ctypes.c_int64, ctypes.c_int,
                                       ctypes.c_int, _P, _P, _P]),
    "runs_kernel": (ctypes.c_int, [_P, _P, _P, _P, _P, _P, ctypes.c_int64,
                                   ctypes.c_int, _P]),
}


def ptr(arr) -> ctypes.c_void_p:
    """C pointer to a numpy array's data (keeps the array alive)."""
    return arr.ctypes.data_as(ctypes.c_void_p)


def _run_gcc(args: list[str]) -> str:
    """stdout of gcc with ``args``; RuntimeError carrying gcc's stderr
    when it is missing or fails."""
    try:
        proc = subprocess.run(["gcc", *args], capture_output=True,
                              text=True, timeout=120)
    except (OSError, subprocess.SubprocessError) as e:
        raise RuntimeError(f"miekki native kernels need gcc: {e}") from e
    if proc.returncode != 0:
        raise RuntimeError(f"gcc {' '.join(args)} failed:\n{proc.stderr}")
    return proc.stdout


@functools.lru_cache(maxsize=1)
def _target() -> str:
    """What ``-march=native`` resolves to on this host (one gcc call
    per process)."""
    return _run_gcc(["-march=native", "-Q", "--help=target"])


def _build_dir(src: bytes) -> str:
    key = hashlib.sha256(src + _target().encode()).hexdigest()[:16]
    base = os.environ.get("MIEKKI_NATIVE_DIR")
    if not base:
        # /dev/shm is host-local + fast; fall back to tmp
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, f"miekki_native_{key}")


def _build() -> ctypes.CDLL:
    # read through the module loader: under spark-submit --py-files the
    # package (and the C source) may live inside a zip
    src = __loader__.get_data(_SRC)
    d = _build_dir(src)
    so = os.path.join(d, "libsigkernel.so")
    if not os.path.exists(so):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(so):
                c_file = os.path.join(d, "_sigkernel.c")
                with open(c_file, "wb") as f:
                    f.write(src)
                tmp = so + f".tmp{os.getpid()}"
                _run_gcc(["-O3", "-march=native", "-shared", "-fPIC",
                          "-o", tmp, c_file])
                os.rename(tmp, so)  # atomic publish
    lib = ctypes.CDLL(so)
    for name, (restype, argtypes) in _SIGNATURES.items():
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    # smoke: pinned vector (b"abc", seed 42) must match the oracle
    from oracle.xxh64 import xxh64_bytes

    buf = (ctypes.c_char * 3).from_buffer_copy(b"abc")
    if lib.xxh64_one(ctypes.addressof(buf), 3, 42) != xxh64_bytes(b"abc", 42):
        raise RuntimeError(f"{so}: xxh64 self-check failed (miscompiled)")
    return lib


def load() -> ctypes.CDLL:
    """The compiled kernel library, built on first use."""
    global _LIB
    if _LIB is None:
        _LIB = _build()
    return _LIB
