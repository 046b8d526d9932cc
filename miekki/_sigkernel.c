/* The native kernels of the dedup engine: fused shingle + xxh64 +
 * distinct + MinHash + SimHash (sig_kernel, the one signature path),
 * distinct shingle hashes per row (shingle_kernel), winnowing anchors
 * (anchor_kernel) and common-run verification (runs_kernel). These
 * are the only production engine; the pure-Python oracle/ package is
 * the reference every test pins them against (tests/test_native.py,
 * tests/test_substr.py, the golden signature fixtures).
 *
 * Row-at-a-time passes with no temporaries: windows hash straight out
 * of the text bytes, distinct is an open-addressing probe, and the
 * permutation loop runs over an L1-resident distinct buffer. gcc -O3
 * -march=native auto-vectorizes the multiply-add-min loop.
 *
 * Compiled per host at first use by miekki/native.py; a host without
 * gcc fails at the first kernel call with the compiler's error.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define P1 0x9E3779B185EBCA87ULL
#define P2 0xC2B2AE3D27D4EB4FULL
#define P3 0x165667B19E3779F9ULL
#define P4 0x85EBCA77C2B2AE63ULL
#define P5 0x27D4EB2F165667C5ULL

static inline uint64_t rotl64(uint64_t x, int r) {
    return (x << r) | (x >> (64 - r));
}

static inline uint64_t le64(const uint8_t *p) {
    uint64_t w;
    memcpy(&w, p, 8);            /* little-endian host (x86) */
    return w;
}

static inline uint32_t le32(const uint8_t *p) {
    uint32_t w;
    memcpy(&w, p, 4);
    return w;
}

static inline uint64_t xxh_round(uint64_t acc, uint64_t w) {
    acc += w * P2;
    acc = rotl64(acc, 31);
    return acc * P1;
}

/* XXH64 over [p, p+len) with the given seed — lane-for-lane the
 * algorithm of oracle.xxh64.xxh64_bytes (pinned against
 * Spark-generated vectors). */
static uint64_t xxh64(const uint8_t *p, int64_t len, uint64_t seed) {
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        uint64_t v1 = seed + P1 + P2, v2 = seed + P2, v3 = seed,
                 v4 = seed - P1;
        const uint8_t *limit = end - 32;
        do {
            v1 = xxh_round(v1, le64(p));
            v2 = xxh_round(v2, le64(p + 8));
            v3 = xxh_round(v3, le64(p + 16));
            v4 = xxh_round(v4, le64(p + 24));
            p += 32;
        } while (p <= limit);
        h = rotl64(v1, 1) + rotl64(v2, 7) + rotl64(v3, 12) + rotl64(v4, 18);
        h = (h ^ xxh_round(0, v1)) * P1 + P4;
        h = (h ^ xxh_round(0, v2)) * P1 + P4;
        h = (h ^ xxh_round(0, v3)) * P1 + P4;
        h = (h ^ xxh_round(0, v4)) * P1 + P4;
    } else {
        h = seed + P5;
    }
    h += (uint64_t)len;
    while (p + 8 <= end) {
        h = rotl64(h ^ xxh_round(0, le64(p)), 27) * P1 + P4;
        p += 8;
    }
    if (p + 4 <= end) {
        h ^= (uint64_t)le32(p) * P1;
        h = rotl64(h, 23) * P2 + P3;
        p += 4;
    }
    while (p < end) {
        h ^= (uint64_t)(*p) * P5;
        h = rotl64(h, 11) * P1;
        p++;
    }
    h ^= h >> 33;
    h *= P2;
    h ^= h >> 29;
    h *= P3;
    h ^= h >> 32;
    return h;
}

/* Row scratch, grown on demand (one struct per kernel call, reused
 * across rows — no per-row malloc). */
typedef struct {
    int64_t *char_pos;   /* byte offset of each char start */
    uint64_t *distinct;  /* distinct window hashes, insertion order */
    uint64_t *table;     /* open-addressing probe table */
    int64_t cap;         /* chars/distinct capacity (== max row bytes) */
    int64_t tab_cap;     /* probe table slots (power of two) */
} scratch_t;

static int ensure_scratch(scratch_t *s, int64_t row_bytes) {
    if (row_bytes + 2 > s->cap) {
        int64_t cap = row_bytes + 2;
        if (cap < 4096) cap = 4096;
        free(s->char_pos); free(s->distinct);
        s->char_pos = malloc(sizeof(int64_t) * cap);
        s->distinct = malloc(sizeof(uint64_t) * cap);
        s->cap = (s->char_pos && s->distinct) ? cap : 0;
        if (!s->cap) return -1;
    }
    /* probe table: >= 2x windows, power of two */
    int64_t want = 64;
    while (want < 2 * (row_bytes + 2)) want <<= 1;
    if (want > s->tab_cap) {
        free(s->table);
        s->table = malloc(sizeof(uint64_t) * want);
        s->tab_cap = s->table ? want : 0;
        if (!s->tab_cap) return -1;
    }
    return 0;
}

/* distinct-insert h into the probe table (0 stored as the sentinel
 * EMPTY — a real hash value 0 is tracked via *zero_seen).
 * Returns 1 when h is new. */
static inline int set_insert(uint64_t *table, int64_t mask, uint64_t h,
                             int *zero_seen) {
    if (h == 0) {
        if (*zero_seen) return 0;
        *zero_seen = 1;
        return 1;
    }
    int64_t i = (int64_t)((h * 0x9E3779B97F4A7C15ULL) >> 32) & mask;
    while (table[i] != 0) {
        if (table[i] == h) return 0;
        i = (i + 1) & mask;
    }
    table[i] = h;
    return 1;
}

/* Distinct char-k-shingle hashes of one row into s->distinct
 * (insertion order). Windows start at UTF-8 char starts (byte & 0xC0
 * != 0x80), matching Spark's code-point substring(norm, i, k); there
 * are max(1, n_chars - (k-1)) of them, and a row shorter than k chars
 * (or empty) hashes its whole bytes as one window. Returns the
 * distinct count, or -1 on allocation failure. */
static int64_t shingle_row(const uint8_t *row, int64_t row_bytes, int k,
                           scratch_t *s) {
    if (ensure_scratch(s, row_bytes) != 0) return -1;
    int64_t n_chars = 0;
    for (int64_t i = 0; i < row_bytes; i++)
        if ((row[i] & 0xC0) != 0x80) s->char_pos[n_chars++] = i;
    s->char_pos[n_chars] = row_bytes;   /* sentinel */

    if (n_chars == 0) {
        s->distinct[0] = xxh64(row, row_bytes, 42);
        return 1;
    }
    int64_t m = n_chars - (k - 1);
    if (m < 1) m = 1;
    const int64_t mask = s->tab_cap - 1;
    memset(s->table, 0, sizeof(uint64_t) * s->tab_cap);
    int zero_seen = 0;
    int64_t nd = 0;
    for (int64_t i = 0; i < m; i++) {
        int64_t sb = s->char_pos[i];
        int64_t eb = (i + k < n_chars) ? s->char_pos[i + k] : row_bytes;
        uint64_t h = xxh64(row + sb, eb - sb, 42);
        if (set_insert(s->table, mask, h, &zero_seen))
            s->distinct[nd++] = h;
    }
    return nd;
}

/* MinHash and SimHash of one row's nd hash values, written straight
 * into the caller's output slots.
 * MinHash: min over values of a[i]*v + b[i] (mod 2^64), perm-major so
 * the inner loop over the values auto-vectorizes (multiply-add-min, no
 * branches). SimHash: bit t is set when ones_t > nd/2 (integer
 * division, ties -> 0). */
static void sketch_row(const uint64_t *restrict vals, int64_t nd,
                       const uint64_t *restrict a,
                       const uint64_t *restrict b, int n_perm,
                       int64_t *restrict minhash_out,
                       int64_t *restrict simhash_out) {
    for (int i = 0; i < n_perm; i++) {
        const uint64_t ai = a[i], bi = b[i];
        uint64_t mn = (uint64_t)-1;
        for (int64_t j = 0; j < nd; j++) {
            uint64_t t = ai * vals[j] + bi;
            if (t < mn) mn = t;
        }
        minhash_out[i] = (int64_t)mn;
    }
    int64_t cnt[64] = {0};
    for (int64_t j = 0; j < nd; j++) {
        const uint64_t v = vals[j];
        for (int t = 0; t < 64; t++)
            cnt[t] += (int64_t)((v >> t) & 1ULL);
    }
    const int64_t half = nd / 2;
    uint64_t fp = 0;
    for (int t = 0; t < 64; t++)
        if (cnt[t] > half) fp |= 1ULL << t;
    *simhash_out = (int64_t)fp;
}

static void free_scratch(scratch_t *s) {
    free(s->char_pos); free(s->distinct); free(s->table);
}

/* The fused kernel over one Arrow batch worth of rows.
 *   data     flat UTF-8 bytes
 *   offsets  n_rows+1 byte offsets into data (offsets[0] == 0)
 *   k        shingle width in CHARS
 *   a, b     n_perm affine permutation coefficients
 * Outputs (caller-allocated):
 *   minhash_out   n_rows * n_perm  (int64 bit pattern of uint64 mins)
 *   simhash_out   n_rows
 *   nsh_out       n_rows (distinct shingle count)
 * Returns 0 on success, -1 on allocation failure. */
int sig_kernel(const uint8_t *data, const int64_t *offsets, int64_t n_rows,
               int k, const uint64_t *a, const uint64_t *b, int n_perm,
               int64_t *minhash_out, int64_t *simhash_out, int32_t *nsh_out) {
    scratch_t s = {0};
    for (int64_t r = 0; r < n_rows; r++) {
        int64_t nd = shingle_row(data + offsets[r], offsets[r + 1] - offsets[r],
                                 k, &s);
        if (nd < 0) { free_scratch(&s); return -1; }
        nsh_out[r] = (int32_t)nd;
        sketch_row(s.distinct, nd, a, b, n_perm, minhash_out + r * n_perm,
                   simhash_out + r);
    }
    free_scratch(&s);
    return 0;
}

/* Distinct char-k-shingle hashes per row (shingle_row semantics),
 * rows back to back in values_out (insertion order within a row).
 * values_out must hold >= offsets[n_rows] + n_rows values (a row has
 * at most max(1, bytes) windows). Returns the number of values
 * written, or -1 on allocation failure. */
int64_t shingle_kernel(const uint8_t *data, const int64_t *offsets,
                       int64_t n_rows, int k, uint64_t *values_out,
                       int32_t *counts_out) {
    scratch_t s = {0};
    int64_t out = 0;
    for (int64_t r = 0; r < n_rows; r++) {
        int64_t nd = shingle_row(data + offsets[r], offsets[r + 1] - offsets[r],
                                 k, &s);
        if (nd < 0) { free_scratch(&s); return -1; }
        memcpy(values_out + out, s.distinct, sizeof(uint64_t) * nd);
        counts_out[r] = (int32_t)nd;
        out += nd;
    }
    free_scratch(&s);
    return out;
}

/* Calibration/self-test hook: xxh64 of one buffer. */
uint64_t xxh64_one(const uint8_t *p, int64_t len, uint64_t seed) {
    return xxh64(p, len, seed);
}

/* ------------------------------------------------------------------ */
/* Winnowing anchor kernel behind substr_kernels.batch_doc_anchors
 * (parity with oracle/winnow.py pinned in tests/test_substr.py).
 * Pinned semantics:
 * rolling polynomial hash H_i = fmix64(sum_{t<k} d[i+t]*B^t) with
 * uint64 wraparound; per doc select the LEFTMOST argmin of every
 * w-window of hashes (deduped), or the single leftmost argmin when a
 * doc has <= w hashes; docs shorter than k bytes yield nothing.
 *
 * One pass per doc: O(1) rolling update
 * (h' = (h - d[i])*B^-1 + d[i+k]*B^(k-1)) + monotonic-deque sliding
 * minimum (pop-while-strictly-greater keeps ties -> leftmost; the
 * leftmost-min index is non-decreasing over sliding windows, so
 * emit-on-change == the deduped selected set).                        */

#define ROLL_B    1099511628211ULL            /* FNV64 prime (odd)     */
#define ROLL_BINV 0xCE965057AFF6957BULL       /* B^-1 mod 2^64         */
#define MIX1 0xC2B2AE3D27D4EB4FULL
#define MIX2 0x165667B19E3779F9ULL

static inline uint64_t fmix64(uint64_t h) {
    h ^= h >> 33;
    h *= MIX1;
    h ^= h >> 29;
    h *= MIX2;
    h ^= h >> 32;
    return h;
}

/* Common-run verification behind substr_kernels.batch_common_runs
 * (parity with oracle/winnow.common_run_length pinned in
 * tests/test_substr.py). Per clipped pair: if the k-byte anchor
 * windows differ (or either runs past its clip) the run is 0;
 * otherwise extend byte-wise left within min(pos) and right within
 * min(len - pos) - k. */
int runs_kernel(const uint8_t *data_a, const int64_t *offs_a,
                const uint8_t *data_b, const int64_t *offs_b,
                const int64_t *pos_a, const int64_t *pos_b,
                int64_t n, int k, int32_t *runs_out) {
    for (int64_t i = 0; i < n; i++) {
        const int64_t sa = offs_a[i], sb = offs_b[i];
        const int64_t la = offs_a[i + 1] - sa, lb = offs_b[i + 1] - sb;
        const int64_t pa = pos_a[i], pb = pos_b[i];
        const uint8_t *a = data_a + sa, *b = data_b + sb;
        if (pa + k > la || pb + k > lb ||
            memcmp(a + pa, b + pb, (size_t)k) != 0) {
            runs_out[i] = 0;
            continue;
        }
        int64_t lmax = pa < pb ? pa : pb;
        int64_t ext_l = 0;
        while (ext_l < lmax && a[pa - 1 - ext_l] == b[pb - 1 - ext_l])
            ext_l++;
        int64_t rmax = (la - pa < lb - pb ? la - pa : lb - pb) - k;
        if (rmax < 0) rmax = 0;
        int64_t ext_r = 0;
        while (ext_r < rmax && a[pa + k + ext_r] == b[pb + k + ext_r])
            ext_r++;
        runs_out[i] = (int32_t)(ext_l + k + ext_r);
    }
    return 0;
}

/* rows/fps/pos sized by the caller to >= total window count.
 * Returns the number of anchors written, or -1 on alloc failure. */
int64_t anchor_kernel(const uint8_t *data, const int64_t *offsets,
                      int64_t n_rows, int k, int w,
                      int64_t *rows_out, int64_t *fps_out,
                      int32_t *pos_out) {
    /* B^(k-1) */
    uint64_t bk1 = 1;
    for (int t = 0; t < k - 1; t++) bk1 *= ROLL_B;

    int64_t max_h = 0;
    for (int64_t r = 0; r < n_rows; r++) {
        int64_t nh = (offsets[r + 1] - offsets[r]) - k + 1;
        if (nh > max_h) max_h = nh;
    }
    uint64_t *hbuf = malloc(sizeof(uint64_t) * (max_h > 0 ? max_h : 1));
    /* linear (non-circular) deque: tail index can reach nh */
    int64_t *deq = malloc(sizeof(int64_t) * (max_h > 0 ? max_h : 1));
    if (!hbuf || !deq) { free(hbuf); free(deq); return -1; }

    int64_t out = 0;
    for (int64_t r = 0; r < n_rows; r++) {
        const uint8_t *d = data + offsets[r];
        const int64_t nh = (offsets[r + 1] - offsets[r]) - k + 1;
        if (nh <= 0) continue;
        /* rolling pre-mix hash scalar; hbuf holds POST-mix values
         * (what winnowing argmins over and what fp reports) */
        uint64_t h = 0, p = 1;
        for (int t = 0; t < k; t++) { h += (uint64_t)d[t] * p; p *= ROLL_B; }
        hbuf[0] = fmix64(h);
        for (int64_t i = 1; i < nh; i++) {
            h = (h - (uint64_t)d[i - 1]) * ROLL_BINV
                + (uint64_t)d[i + k - 1] * bk1;
            hbuf[i] = fmix64(h);
        }
        if (nh <= w) {
            int64_t best = 0;
            for (int64_t i = 1; i < nh; i++)
                if (hbuf[i] < hbuf[best]) best = i;
            rows_out[out] = r;
            fps_out[out] = (int64_t)hbuf[best];
            pos_out[out] = (int32_t)best;
            out++;
            continue;
        }
        /* sliding-window leftmost minimum */
        int64_t head = 0, tail = 0;   /* deq[head..tail) holds indices */
        int64_t last_emitted = -1;
        for (int64_t i = 0; i < nh; i++) {
            uint64_t v = hbuf[i];
            while (tail > head && hbuf[deq[tail - 1]] > v) tail--;
            deq[tail++] = i;
            if (deq[head] <= i - w) head++;
            if (i >= w - 1 && deq[head] != last_emitted) {
                last_emitted = deq[head];
                rows_out[out] = r;
                fps_out[out] = (int64_t)hbuf[last_emitted];
                pos_out[out] = (int32_t)last_emitted;
                out++;
            }
        }
    }
    free(hbuf); free(deq);
    return out;
}
