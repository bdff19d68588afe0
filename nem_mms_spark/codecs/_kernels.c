/* Native hot-loop kernels for the codec layer.
 *
 * Compiled on first import by nem_mms_spark.codecs.native (gcc -O3 -shared);
 * every function has a pure-numpy twin in the package and the outputs are
 * REQUIRED to be byte-identical (pinned by tests/test_native_kernels.py).
 * The kernels exist because the numpy twins are call-overhead-bound: the
 * FSST greedy matcher walks ~9k-row frontiers through a 13-deep slot loop
 * (~90 small numpy dispatches per step), the FSST trainer makes up to 32
 * re-pair passes of ~12 dispatches each over a 64 KB token array, and
 * bit-packing makes log2(w) strided passes over the chunk.  Here each
 * step is one linear C pass.
 *
 * Kernels: nem_fsst_encode (greedy matcher), nem_fsst_repair (trainer
 * merge loop), nem_pack_uints / nem_unpack_uints, nem_wd_tokenize.
 *
 * Everything is plain C99 on public knowledge (FSST per Boncz/Neumann/
 * Leis VLDB'20; LSB-first bit-packing).  No heap allocation: callers pass
 * output and scratch buffers sized to the documented worst case.
 */

#include <stdint.h>
#include <string.h>

/* Greedy longest-match FSST encode.
 *
 * dpad:     string bytes, padded with >= 8 zero bytes past offsets[n]
 * offsets:  n+1 int64, offsets[0] == 0
 * code1:    256 ints, byte -> 1-byte symbol code (0 = none)
 * bstart:   65537-entry CSR index by 2-byte little-endian prefix
 * bval/bmsk/blen/bcode: CSR payload, entries in symbol-index order
 *           (the numpy slot order) — a later entry only wins with a
 *           STRICTLY longer match, matching the numpy tie-break
 * out:      worst case 2 * offsets[n] bytes (all escapes)
 * enc_lengths: n int64, encoded bytes per string
 * returns total bytes written to out
 */
int64_t nem_fsst_encode(
    const uint8_t *dpad, const int64_t *offsets, int64_t n,
    const int32_t *code1, const int32_t *bstart,
    const uint64_t *bval, const uint64_t *bmsk,
    const int32_t *blen, const int32_t *bcode,
    uint8_t *out, int64_t *enc_lengths)
{
    int64_t o = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t pos = offsets[i], end = offsets[i + 1];
        int64_t o0 = o;
        while (pos < end) {
            uint64_t w;
            memcpy(&w, dpad + pos, 8); /* little-endian load */
            uint8_t b0 = dpad[pos];
            int32_t best_len = 1;
            int32_t best_code = code1[b0];
            int64_t room = end - pos;
            if (room >= 2) {
                uint32_t pfx = (uint32_t)b0 | ((uint32_t)dpad[pos + 1] << 8);
                int32_t s = bstart[pfx], e = bstart[pfx + 1];
                for (; s < e; s++) {
                    int32_t ln = blen[s];
                    if (ln > best_len && ln <= room
                        && (w & bmsk[s]) == bval[s]) {
                        best_len = ln;
                        best_code = bcode[s];
                    }
                }
            }
            if (best_code > 0) {
                out[o++] = (uint8_t)best_code;
            } else {
                out[o++] = 0;
                out[o++] = b0;
            }
            pos += best_len;
        }
        enc_lengths[i] = o - o0;
    }
    return o;
}

/* Batched re-pair merge loop of the FSST trainer (twin of
 * fsst._repair_numpy; the resulting rules must be identical).
 *
 * Each pass counts the adjacent token pairs that may merge (both >= 0,
 * summed symbol length <= 8), keeps those counted >= min_count, orders
 * them by (count desc, a asc, b asc), and from the first 4 * batch picks
 * up to `batch` pairs that share no token.  One left-to-right scan then
 * rewrites every match.  The picks are token-disjoint, so matches of
 * different pairs never overlap and the greedy scan equals the numpy
 * per-pair match, including every other match inside a run of a == b.
 *
 * tokens:   n int32 ids, -1 between strings; rewritten in place
 * sym_len:  256 + max_merges int64 symbol lengths; new ids are filled in
 * counts:   (256 + max_merges)^2 int32, all zero; left all zero
 * touched:  n int32 scratch (pair keys first counted this pass)
 * rules:    3 * max_merges int32 out, (a, b, new_id) per merge in order
 * n_rules:  1 int64 out, number of rules written
 * returns the final token count
 */
int64_t nem_fsst_repair(
    int32_t *tokens, int64_t n, int64_t *sym_len, int32_t max_merges,
    int64_t min_count, int32_t batch, int32_t *counts, int32_t *touched,
    int32_t *rules, int64_t *n_rules)
{
    const int32_t k = 256 + max_merges;
    const int32_t max_cand = 4 * batch;
    int32_t cand[max_cand > 0 ? max_cand : 1];
    int32_t right_of[k], new_of[k], picked[batch > 0 ? batch : 1];
    uint8_t used[k];
    int32_t next_id = 256;
    int64_t r = 0;
    for (int32_t t = 0; t < k; t++)
        right_of[t] = -1;
    while (next_id < k && n >= 2) {
        int64_t nt = 0;
        for (int64_t i = 0; i + 1 < n; i++) {
            int32_t a = tokens[i], b = tokens[i + 1];
            /* 8 = fsst.MAX_SYMBOL_LEN */
            if (a < 0 || b < 0 || sym_len[a] + sym_len[b] > 8)
                continue;
            int32_t key = a * k + b;
            if (counts[key]++ == 0)
                touched[nt++] = key;
        }
        /* the first max_cand keys by (count desc, key asc); key order is
         * (a, b) order */
        int32_t nc = 0;
        for (int64_t t = 0; t < nt; t++) {
            int32_t key = touched[t], c = counts[key];
            if (c < min_count)
                continue;
            if (nc == max_cand) {
                int32_t w = cand[nc - 1], cw = counts[w];
                if (c < cw || (c == cw && key > w))
                    continue;
                nc--;
            }
            int32_t j = nc++;
            while (j > 0) {
                int32_t p = cand[j - 1], cp = counts[p];
                if (c < cp || (c == cp && key > p))
                    break;
                cand[j] = p;
                j--;
            }
            cand[j] = key;
        }
        for (int64_t t = 0; t < nt; t++)
            counts[touched[t]] = 0;
        if (nc == 0)
            break;
        memset(used, 0, (size_t)k);
        int32_t np_ = 0;
        for (int32_t c = 0; c < nc; c++) {
            int32_t a = cand[c] / k, b = cand[c] % k;
            if (used[a] || used[b])
                continue;
            used[a] = used[b] = 1;
            picked[np_++] = cand[c];
            if (np_ >= batch || next_id + np_ >= k)
                break;
        }
        for (int32_t p = 0; p < np_; p++) {
            int32_t a = picked[p] / k, b = picked[p] % k;
            right_of[a] = b;
            new_of[a] = next_id;
            sym_len[next_id] = sym_len[a] + sym_len[b];
            rules[3 * r] = a;
            rules[3 * r + 1] = b;
            rules[3 * r + 2] = next_id;
            r++;
            next_id++;
        }
        int64_t w = 0, i = 0;
        while (i < n) {
            int32_t t = tokens[i];
            if (t >= 0 && i + 1 < n && right_of[t] >= 0
                && right_of[t] == tokens[i + 1]) {
                tokens[w++] = new_of[t];
                i += 2;
            } else {
                tokens[w++] = t;
                i++;
            }
        }
        n = w;
        for (int32_t p = 0; p < np_; p++)
            right_of[picked[p] / k] = -1;
    }
    *n_rules = r;
    return n;
}

/* LSB-first bit-packing of n `width`-bit values (1 <= width <= 56).
 * out must hold (n * width + 7) / 8 bytes.  Identical byte stream to
 * numpy packbits(bitorder="little") of the value bits. */
void nem_pack_uints(const uint64_t *v, int64_t n, int32_t width,
                    uint8_t *out)
{
    uint64_t acc = 0;
    int32_t nbits = 0;
    int64_t o = 0;
    for (int64_t i = 0; i < n; i++) {
        acc |= v[i] << nbits;
        nbits += width;
        while (nbits >= 8) {
            out[o++] = (uint8_t)acc;
            acc >>= 8;
            nbits -= 8;
        }
    }
    if (nbits > 0)
        out[o] = (uint8_t)acc;
}

/* Inverse of nem_pack_uints -> n uint64 values. `in` must hold at least
 * (n * width + 7) / 8 readable bytes. */
void nem_unpack_uints(const uint8_t *in, int64_t n, int32_t width,
                      uint64_t *out)
{
    uint64_t acc = 0;
    int32_t nbits = 0;
    int64_t p = 0;
    uint64_t mask = (width < 64) ? ((1ULL << width) - 1) : ~0ULL;
    for (int64_t i = 0; i < n; i++) {
        while (nbits < width) {
            acc |= (uint64_t)in[p++] << nbits;
            nbits += 8;
        }
        out[i] = acc & mask;
        acc >>= width;
        nbits -= width;
    }
}

/* Word-token boundaries: sorted unique union of {offsets[0..n]} and
 * {space_pos + 1}.  out must hold offsets[n] - offsets[0] + n + 2
 * entries (worst case: all spaces).  Returns count written. */
int64_t nem_wd_tokenize(const uint8_t *data, const int64_t *offsets,
                        int64_t n, int64_t *out)
{
    int64_t m = 0;
    out[m++] = offsets[0];
    for (int64_t i = 0; i < n; i++) {
        int64_t end = offsets[i + 1];
        int64_t pos = offsets[i];
        /* SWAR: 8 bytes per step, branch only on words containing a
         * space (~1 space per 6 bytes in text, so most steps that do
         * branch extract 1-2 hits via ctz) */
        while (pos + 8 <= end) {
            uint64_t w;
            memcpy(&w, data + pos, 8);
            uint64_t x = w ^ 0x2020202020202020ULL;
            /* exact zero-byte finder (no cross-byte borrow artifacts):
             * bit7 of each lane set iff that byte of x is zero */
            uint64_t hit = ~(((x & 0x7F7F7F7F7F7F7F7FULL)
                              + 0x7F7F7F7F7F7F7F7FULL)
                             | x | 0x7F7F7F7F7F7F7F7FULL);
            while (hit) {
                int k = __builtin_ctzll(hit) >> 3;
                int64_t p = pos + k + 1;
                if (p != end)
                    out[m++] = p;
                hit &= hit - 1;
            }
            pos += 8;
        }
        for (; pos < end; pos++) {
            if (data[pos] == 0x20 && pos + 1 != end)
                out[m++] = pos + 1;
        }
        if (out[m - 1] != end) /* dedup: empty strings repeat a boundary */
            out[m++] = end;
    }
    return m;
}
