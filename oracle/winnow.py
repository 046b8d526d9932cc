"""Oracle for the exact-substring pass — deliberately naive
implementations, independent of the C kernels behind
miekki.substr_kernels (SURVEY.md §5.1).
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np

from miekki.substr_kernels import ROLL_BASE, fmix64

MASK = (1 << 64) - 1


def window_hashes_naive(data: bytes, k: int) -> list[int]:
    """Direct O(n*k) polynomial hash of every k-byte window, finalized
    with the same avalanche mix (uint64 values)."""
    base = int(ROLL_BASE)
    out = []
    for i in range(len(data) - k + 1):
        h = 0
        for t in range(k):
            h = (h + data[i + t] * pow(base, t, 1 << 64)) & MASK
        out.append(int(fmix64(np.array([h], dtype=np.uint64))[0]))
    return out


def winnow_naive(hashes: list[int], w: int) -> list[int]:
    """Leftmost-min winnowing by explicit window scan."""
    n = len(hashes)
    if n == 0:
        return []
    if n <= w:
        return [min(range(n), key=lambda i: (hashes[i], i))]
    sel = set()
    for t in range(n - w + 1):
        window = hashes[t : t + w]
        m = min(window)
        sel.add(t + window.index(m))
    return sorted(sel)


def common_run_length(a: bytes, b: bytes, pa: int, pb: int, k: int) -> int:
    """Length of the maximal common byte run around anchor pair
    (pa, pb) by byte-wise extension; 0 if the k-byte anchor windows
    differ (a hash collision) or either runs past its end."""
    if pa + k > len(a) or pb + k > len(b) or a[pa: pa + k] != b[pb: pb + k]:
        return 0
    ext_l = 0
    while ext_l < min(pa, pb) and a[pa - 1 - ext_l] == b[pb - 1 - ext_l]:
        ext_l += 1
    ext_r = 0
    rmax = min(len(a) - pa, len(b) - pb) - k
    while ext_r < rmax and a[pa + k + ext_r] == b[pb + k + ext_r]:
        ext_r += 1
    return ext_l + k + ext_r


def longest_common_run(a: bytes, b: bytes) -> int:
    """Length of the longest common contiguous byte run (difflib)."""
    sm = SequenceMatcher(None, a, b, autojunk=False)
    m = sm.find_longest_match(0, len(a), 0, len(b))
    return m.size
