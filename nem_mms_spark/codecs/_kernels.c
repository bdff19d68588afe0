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
 * step is one linear C pass.  WORD_DICT's numpy path makes three passes
 * (space scan, Arrow's hash dictionary over the token offsets, a
 * searchsorted for the per-string counts); here it is one.
 *
 * Kernels: nem_fsst_encode (greedy matcher), nem_fsst_repair (trainer
 * merge loop), nem_pack_uints / nem_unpack_uints, nem_wd_factorize
 * (WORD_DICT tokenize + dictionary + counts), nem_wd_split_tiers /
 * nem_wd_unpack_tiers (WORD_DICT's tiered rank streams), nem_free.
 *
 * Everything is plain C99 on public knowledge (FSST per Boncz/Neumann/
 * Leis VLDB'20; LSB-first bit-packing).  Callers pass output and scratch
 * buffers sized to the documented worst case, except where the size is
 * the dictionary a kernel is building, unknown until the pass ends:
 * nem_wd_factorize grows its hash table and its dictionary buffers on
 * the heap by doubling, frees the table before it returns, and hands
 * the dictionary to the caller, who copies it out and releases it with
 * nem_free.
 */

#include <stdint.h>
#include <stdlib.h>
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

/* Hash of one word token (length-seeded, 8 bytes per multiply).  `base`
 * is the start of the buffer holding the token: a tail shorter than 8
 * bytes is read as the 8-byte word ending at the token's end, shifted
 * down, whenever that word lies inside the buffer. */
static inline uint64_t wd_hash(const uint8_t *base, const uint8_t *p,
                               int64_t len)
{
    uint64_t h = 0x9E3779B97F4A7C15ULL ^ (uint64_t)len;
    const uint8_t *end = p + len;
    while (end - p >= 8) {
        uint64_t w;
        memcpy(&w, p, 8);
        h = (h ^ w) * 0xBF58476D1CE4E5B9ULL;
        h ^= h >> 31;
        p += 8;
    }
    int64_t r = end - p;
    if (r) {
        uint64_t w = 0;
        if (end - base >= 8) {
            memcpy(&w, end - 8, 8);
            w >>= 64 - 8 * r;
        } else {
            memcpy(&w, p, (size_t)r);
        }
        h = (h ^ w) * 0x94D049BB133111EBULL;
    }
    h ^= h >> 29;
    h *= 0xBF58476D1CE4E5B9ULL;
    return h ^ (h >> 32);
}

/* Word-dictionary factorize in one pass (twin of worddict's numpy path:
 * tokenize, Arrow dictionary_encode of the tokens, tokens per string).
 *
 * A token ends after every 0x20 byte and at the end of its string, so
 * the tokens of a string concatenate to the string and an empty string
 * has none.  Each token is looked up in an open-addressing table (linear
 * probing, load <= 1/2) whose slot holds (hash high 32 bits, id + 1); a
 * new token is copied into the dictionary buffer, so every comparison
 * reads the compact dictionary, and takes the next id: codes come out in
 * first-occurrence order, Arrow's order.
 *
 * data/offsets: n strings, offsets[0] == 0
 * codes:    offsets[n] int64 out (worst case: one byte per token)
 * counts:   n int64 out, tokens per string
 * udata/uoffsets/hist: out, heap buffers the kernel allocates and the
 *           caller releases with nem_free: the distinct tokens
 *           concatenated, n_uniq + 1 offsets into them, and each token's
 *           count (WORD_DICT ranks by it)
 * n_uniq:   1 int64 out, number of distinct tokens
 * returns the number of tokens, or -1 when an allocation failed (then
 * nothing is left allocated)
 */
int64_t nem_wd_factorize(const uint8_t *data, const int64_t *offsets,
                         int64_t n, int64_t *codes, int64_t *counts,
                         uint8_t **udata_out, int64_t **uoffsets_out,
                         int64_t **hist_out, int64_t *n_uniq)
{
    int64_t cap = 1024, nu = 0, t = 0;
    int64_t ucap = 1 << 16, ocap = 1024; /* dictionary bytes, offsets */
    uint64_t *slot = calloc((size_t)cap, sizeof *slot);
    uint8_t *udata = malloc((size_t)ucap);
    int64_t *uoffsets = malloc((size_t)ocap * sizeof *uoffsets);
    int64_t *hist = malloc((size_t)ocap * sizeof *hist);
    if (!slot || !udata || !uoffsets || !hist)
        goto fail;
    uoffsets[0] = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t pos = offsets[i], end = offsets[i + 1];
        int64_t t0 = t;
        while (pos < end) {
            /* token end: one past the next space, else the string end;
             * SWAR 8 bytes per step, exact zero-byte finder on w ^ 0x20s */
            int64_t q = pos, tend = end;
            while (q + 8 <= end) {
                uint64_t w;
                memcpy(&w, data + q, 8);
                uint64_t x = w ^ 0x2020202020202020ULL;
                uint64_t hit = ~(((x & 0x7F7F7F7F7F7F7F7FULL)
                                  + 0x7F7F7F7F7F7F7F7FULL)
                                 | x | 0x7F7F7F7F7F7F7F7FULL);
                if (hit) {
                    tend = q + (__builtin_ctzll(hit) >> 3) + 1;
                    break;
                }
                q += 8;
            }
            if (tend == end) {
                for (; q < end; q++) {
                    if (data[q] == 0x20) {
                        tend = q + 1;
                        break;
                    }
                }
            }
            const uint8_t *tok = data + pos;
            int64_t len = tend - pos;
            uint64_t h = wd_hash(data, tok, len);
            uint64_t tag = h & 0xFFFFFFFF00000000ULL;
            int64_t mask = cap - 1, s = (int64_t)(h & (uint64_t)mask);
            for (;;) {
                uint64_t e = slot[s];
                if (e == 0) {
                    int64_t u0 = uoffsets[nu];
                    if (u0 + len > ucap) {
                        while (u0 + len > ucap)
                            ucap *= 2;
                        uint8_t *g = realloc(udata, (size_t)ucap);
                        if (!g)
                            goto fail;
                        udata = g;
                    }
                    if (nu + 2 > ocap) {
                        ocap *= 2;
                        int64_t *g = realloc(uoffsets,
                                             (size_t)ocap * sizeof *g);
                        if (!g)
                            goto fail;
                        uoffsets = g;
                        g = realloc(hist, (size_t)ocap * sizeof *g);
                        if (!g)
                            goto fail;
                        hist = g;
                    }
                    memcpy(udata + u0, tok, (size_t)len);
                    uoffsets[nu + 1] = u0 + len;
                    slot[s] = tag | (uint64_t)(nu + 1);
                    hist[nu] = 1;
                    codes[t++] = nu++;
                    break;
                }
                if ((e & 0xFFFFFFFF00000000ULL) == tag) {
                    int64_t id = (int64_t)(e & 0xFFFFFFFFULL) - 1;
                    int64_t u0 = uoffsets[id];
                    if (uoffsets[id + 1] - u0 == len
                        && memcmp(udata + u0, tok, (size_t)len) == 0) {
                        hist[id]++;
                        codes[t++] = id;
                        break;
                    }
                }
                s = (s + 1) & mask;
            }
            if (2 * nu > cap) {
                /* grow: re-insert every distinct token by its hash */
                int64_t ncap = 2 * cap, nmask = ncap - 1;
                uint64_t *ns = calloc((size_t)ncap, sizeof *ns);
                if (!ns)
                    goto fail;
                for (int64_t id = 0; id < nu; id++) {
                    int64_t u0 = uoffsets[id];
                    uint64_t hh = wd_hash(udata, udata + u0,
                                          uoffsets[id + 1] - u0);
                    int64_t k = (int64_t)(hh & (uint64_t)nmask);
                    while (ns[k])
                        k = (k + 1) & nmask;
                    ns[k] = (hh & 0xFFFFFFFF00000000ULL) | (uint64_t)(id + 1);
                }
                free(slot);
                slot = ns;
                cap = ncap;
            }
            pos = tend;
        }
        counts[i] = t - t0;
    }
    free(slot);
    *udata_out = udata;
    *uoffsets_out = uoffsets;
    *hist_out = hist;
    *n_uniq = nu;
    return t;
fail:
    free(slot);
    free(udata);
    free(uoffsets);
    free(hist);
    return -1;
}

/* WORD_DICT's rank streams.  There are 1 or 2 tiers.  Tier j stores its
 * tokens' ranks verbatim at widths[j] bits, in token order; with two
 * tiers, tier 0 holds the ranks below 2^widths[0], and a selector of one
 * bit per token (set: tier 1) comes first.  Every stream is LSB-first and
 * starts on a byte.  Neither kernel branches on a token's tier: a
 * selector bit is a coin flip on web text (~70/30), and a branch on it
 * cost 2.5x the flat unpack.
 *
 * nem_wd_split_tiers (twin: worddict._split_tiers_numpy) maps each token
 * to its rank, rank_of[codes[i]], appends it to t0 when below 2^w0 and
 * to t1 otherwise, and sets selector bit i for a tier-1 token.  Each rank
 * is stored to both arrays and only one count advances.  sel must be
 * zeroed and hold (tn + 7) / 8 bytes; t0 and t1 hold tn values each.
 * nem_pack_uints then packs each tier.  Returns the tier-0 count. */
int64_t nem_wd_split_tiers(const int64_t *codes, int64_t tn,
                           const int64_t *rank_of, int32_t w0,
                           uint8_t *sel, uint64_t *t0, uint64_t *t1)
{
    uint64_t lim = 1ULL << w0;
    int64_t n0 = 0, n1 = 0;
    for (int64_t i = 0; i < tn; i++) {
        uint64_t r = (uint64_t)rank_of[codes[i]];
        int64_t j = r >= lim;
        t0[n0] = r;
        t1[n1] = r;
        n0 += 1 - j;
        n1 += j;
        sel[i >> 3] |= (uint8_t)(j << (i & 7));
    }
    return n0;
}

static inline int64_t wd_unpack(const uint8_t *in, int64_t len, int64_t tn,
                                const int32_t nt, const int32_t *widths,
                                const int64_t *starts, const int64_t *sizes,
                                int64_t card, int64_t *out)
{
    int64_t cur[2] = {starts[0], starts[nt - 1]}, seen[2] = {0, 0};
    uint64_t mask[2] = {(1ULL << widths[0]) - 1,
                        (1ULL << widths[nt - 1]) - 1};
    for (int64_t i = 0; i < tn; i++) {
        int64_t j = nt == 2 ? (in[i >> 3] >> (i & 7)) & 1 : 0;
        int64_t bp = cur[j], o = bp >> 3;
        uint64_t x = 0;
        if (o + 8 <= len)
            memcpy(&x, in + o, 8);
        else if (o < len)
            memcpy(&x, in + o, (size_t)(len - o));
        uint64_t r = (x >> (bp & 7)) & mask[j];
        if (r >= (uint64_t)card)
            return -1;
        out[i] = (int64_t)r;
        cur[j] = bp + widths[j];
        seen[j]++;
    }
    for (int32_t j = 0; j < nt; j++)
        if (seen[j] != sizes[j])
            return -2;
    return 0;
}

/* nem_wd_unpack_tiers (twin: worddict._unpack_tiers_numpy) reads the
 * nt-tier layout from `len` bytes of `in`, which hold all of it, into tn
 * int64 ranks.  `starts` gives the first bit of each tier's stream and
 * `sizes` its token count.  Widths are at most 56, so one unaligned
 * 8-byte load covers any value at any bit offset.  Returns 0, -1 when a
 * rank is not below card, or -2 when the selector gives a tier other than
 * its token count (checked at the end; every read is clamped to `len`
 * bytes on the way). */
int64_t nem_wd_unpack_tiers(const uint8_t *in, int64_t len, int64_t tn,
                            int32_t nt, const int32_t *widths,
                            const int64_t *starts, const int64_t *sizes,
                            int64_t card, int64_t *out)
{
    if (nt == 1)
        return wd_unpack(in, len, tn, 1, widths, starts, sizes, card, out);
    return wd_unpack(in, len, tn, 2, widths, starts, sizes, card, out);
}

/* Releases a buffer a kernel allocated (nem_wd_factorize's dictionary
 * and counts). */
void nem_free(void *p)
{
    free(p);
}
