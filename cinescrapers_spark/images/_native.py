"""Optional C fast path for the sequentially-dependent decode scans
(VERDICT r3 #5: per-element Python on FOREIGN-input decode paths — PNG
Average/Paeth unfiltering and IMA ADPCM — would crawl at harvest scale;
round 4 adds the two REAL entropy decoders, GIF LZW and the baseline
JPEG Huffman scan, whose per-symbol Python loops are the same class of
harvest hot path).

Both recurrences are strict per-element scans (each output depends on the
previous reconstructed element), so numpy cannot vectorize them along the
scan axis — SIMD PNG decoders parallelize only across channels for the
same reason. The honest fast path is a ~60-line C kernel: compiled lazily
with the system ``cc``, once per host and source text, into
``<tempdir>/cinescrapers-native-<sha256 of the source>`` and loaded via
ctypes, it decodes ~100× faster than the Python loop. EVERYTHING degrades
gracefully: no compiler, a failed compile, or ``CINESCRAPERS_NO_NATIVE=1``
falls back to the pure-Python implementations in ``codecs.py`` /
``multimodal.py``, which remain the reference semantics (equality gated in
``tests/test_images.py``). No third-party packages involved.
"""

from __future__ import annotations

import ctypes
import fcntl
import hashlib
import os
import shutil
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <string.h>

static int iabs(int v) { return v < 0 ? -v : v; }

/* RFC 2083 section 6 scanline reconstruction, whole image in one call.
   raw: h rows of (1 + stride) bytes (leading filter-type byte).
   Returns 0, or 1 + index of the first row with a bad filter type. */
long png_unfilter(const unsigned char *raw, long h, long stride, int bpp,
                  unsigned char *out) {
    const unsigned char *prev = 0;
    for (long y = 0; y < h; y++) {
        const unsigned char *row = raw + y * (stride + 1);
        const unsigned char *cur = row + 1;
        unsigned char *o = out + y * stride;
        long x;
        switch (row[0]) {
        case 0:
            memcpy(o, cur, (size_t)stride);
            break;
        case 1: /* Sub */
            for (x = 0; x < stride; x++)
                o[x] = (unsigned char)(cur[x] + (x >= bpp ? o[x - bpp] : 0));
            break;
        case 2: /* Up */
            for (x = 0; x < stride; x++)
                o[x] = (unsigned char)(cur[x] + (prev ? prev[x] : 0));
            break;
        case 3: /* Average */
            for (x = 0; x < stride; x++) {
                int a = x >= bpp ? o[x - bpp] : 0;
                int b = prev ? prev[x] : 0;
                o[x] = (unsigned char)(cur[x] + ((a + b) >> 1));
            }
            break;
        case 4: /* Paeth */
            for (x = 0; x < stride; x++) {
                int a = x >= bpp ? o[x - bpp] : 0;
                int b = prev ? prev[x] : 0;
                int c = (prev && x >= bpp) ? prev[x - bpp] : 0;
                int p = a + b - c;
                int pa = iabs(p - a), pb = iabs(p - b), pc = iabs(p - c);
                int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                o[x] = (unsigned char)(cur[x] + pred);
            }
            break;
        default:
            return y + 1;
        }
        prev = o;
    }
    return 0;
}

/* IMA/DVI ADPCM nibble-stream decode (1992 IMA spec / RFC 3551 DVI4
   tables), mirroring multimodal.decode_adpcm exactly. */
static const int IMA_INDEX[16] = {-1, -1, -1, -1, 2, 4, 6, 8,
                                  -1, -1, -1, -1, 2, 4, 6, 8};
static const int IMA_STEP[89] = {
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767};

void adpcm_decode(const unsigned char *body, long n, int pred, int idx,
                  short *out) {
    for (long i = 0; i < n; i++) {
        int byte = body[i >> 1];
        int code = (i & 1) ? (byte & 0xF) : (byte >> 4);
        int step = IMA_STEP[idx];
        int diff = step >> 3;
        if (code & 4) diff += step;
        if (code & 2) diff += step >> 1;
        if (code & 1) diff += step >> 2;
        pred += (code & 8) ? -diff : diff;
        if (pred > 32767) pred = 32767;
        if (pred < -32768) pred = -32768;
        idx += IMA_INDEX[code];
        if (idx < 0) idx = 0;
        if (idx > 88) idx = 88;
        out[i] = (short)pred;
    }
}

/* GIF LZW (89a spec Appendix F): destuffed code stream -> pixel indices.
   out must have room for n_expected + 4096 bytes (one entry of slack).
   Returns indices produced (may exceed n_expected), or -1 malformed. */
long gif_lzw_decode(const unsigned char *data, long nbytes, int mcs,
                    unsigned char *out, long n_expected) {
    int clear = 1 << mcs, eoi = clear + 1;
    int width = mcs + 1;
    int table_size = eoi + 1;
    int prefix[4096];
    unsigned char suffix[4096], first[4096];
    unsigned char stack[4100];
    int k;
    for (k = 0; k < clear; k++) {
        prefix[k] = -1;
        suffix[k] = (unsigned char)k;
        first[k] = (unsigned char)k;
    }
    long produced = 0, i = 0;
    unsigned int acc = 0;
    int accbits = 0, prev = -1;
    while (1) {
        int code, sp = 0, cur_first;
        while (accbits < width && i < nbytes) {
            acc |= (unsigned int)data[i++] << accbits;
            accbits += 8;
        }
        if (accbits < width) break;
        code = (int)(acc & ((1u << width) - 1));
        acc >>= width;
        accbits -= width;
        if (code == clear) {
            table_size = eoi + 1;
            width = mcs + 1;
            prev = -1;
            continue;
        }
        if (code == eoi) break;
        if (prev < 0) {
            if (code >= clear) return -1;
            out[produced++] = (unsigned char)code;
            prev = code;
            if (produced >= n_expected) break;
            continue;
        }
        if (code < table_size) {
            int c2 = code;
            while (c2 >= 0) {
                stack[sp++] = suffix[c2];
                c2 = prefix[c2];
            }
            cur_first = first[code];
        } else if (code == table_size && table_size < 4096) {
            int c2 = prev; /* KwKwK: string(prev) + first(prev) */
            stack[sp++] = first[prev];
            while (c2 >= 0) {
                stack[sp++] = suffix[c2];
                c2 = prefix[c2];
            }
            cur_first = first[prev];
        } else {
            return -1;
        }
        while (sp > 0) out[produced++] = stack[--sp];
        if (table_size < 4096) {
            prefix[table_size] = prev;
            suffix[table_size] = (unsigned char)cur_first;
            first[table_size] = first[prev];
            table_size++;
            if (table_size == (1 << width) && width < 12) width++;
        }
        prev = code;
        if (produced >= n_expected) break;
    }
    return produced;
}

/* Baseline JPEG entropy-coded scan (ITU-T T.81 F.2): Huffman + DC
   prediction + AC run-length into per-component int32 coefficient
   stores (64 NATURAL-order ints per block, blocks in row-major MCU
   expansion — the exact layout _decode_scan's Python loop fills).
   Tables: 8 slots (0-3 DC, 4-7 AC) of BITS[16] + HUFFVAL[256].
   comp_meta: 4 ints per component (h, v, dc_slot, ac_slot).
   Returns 0, -1 invalid Huffman code, -2 AC index overflow. */
static const int JZZ[64] = {
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63};

typedef struct {
    const unsigned char *d;
    long n, p;
    int cur, cnt, marker; /* marker: -1 none, else pending marker byte */
} jbits;

static int jb_bit(jbits *b) {
    if (b->cnt == 0) {
        int byte, nxt;
        if (b->marker >= 0 || b->p >= b->n) return 0; /* pad past marker */
        byte = b->d[b->p];
        if (byte == 0xFF) {
            nxt = (b->p + 1 < b->n) ? b->d[b->p + 1] : 0xD9;
            if (nxt == 0x00) b->p += 2;
            else { b->marker = nxt; return 0; }
        } else b->p++;
        b->cur = byte;
        b->cnt = 8;
    }
    b->cnt--;
    return (b->cur >> b->cnt) & 1;
}

static int jb_bits(jbits *b, int k) {
    int v = 0;
    while (k--) v = (v << 1) | jb_bit(b);
    return v;
}

static int jb_huff(jbits *b, const int *mincode, const int *maxcode,
                   const int *valptr, const unsigned char *vals) {
    int code = 0, l;
    for (l = 1; l <= 16; l++) {
        code = (code << 1) | jb_bit(b);
        if (maxcode[l] >= 0 && code <= maxcode[l] && code >= mincode[l])
            return vals[valptr[l] + code - mincode[l]];
    }
    return -1;
}

static int jext(int v, int s) {
    return (v >= (1 << (s - 1))) ? v : v - (1 << s) + 1;
}

/* Baseline JPEG entropy ENCODE (mirror of the scan decoder): quantized
   ZIGZAG-order blocks in emission order -> stuffed bitstream, final
   flush padded with 1-bits. No restart support (caller falls back).
   blocks: n x 64 int32. pred_slot/dc_slot/ac_slot: per-block u8 (DC
   predictor 0..3; table slots into codes/lens, 4 x 256 u16/u8).
   Returns bytes written, or -1 if cap would overflow. */
static int jcat(int v) {
    int a = v < 0 ? -v : v, s = 0;
    while (a) { s++; a >>= 1; }
    return s;
}

typedef struct {
    unsigned char *out;
    long pos, cap;
    unsigned int acc;
    int n;
} jwr;

static int jw_put(jwr *w, int code, int len) {
    w->acc = (w->acc << len) | ((unsigned int)code & ((1u << len) - 1));
    w->n += len;
    while (w->n >= 8) {
        unsigned char b = (unsigned char)(w->acc >> (w->n - 8));
        if (w->pos + 2 > w->cap) return -1;
        w->out[w->pos++] = b;
        if (b == 0xFF) w->out[w->pos++] = 0x00;
        w->n -= 8;
        w->acc &= (1u << w->n) - 1;
    }
    return 0;
}

long jpeg_encode_blocks(const int *blocks, long n_blocks,
                        const unsigned char *pred_slot,
                        const unsigned char *dc_slot,
                        const unsigned char *ac_slot,
                        const unsigned short *codes,
                        const unsigned char *lens, unsigned char *out,
                        long cap) {
    jwr w;
    int pred[4] = {0, 0, 0, 0};
    long b;
    w.out = out; w.pos = 0; w.cap = cap; w.acc = 0; w.n = 0;
    for (b = 0; b < n_blocks; b++) {
        const int *blk = blocks + b * 64;
        const unsigned short *dc = codes + dc_slot[b] * 256;
        const unsigned char *dl = lens + dc_slot[b] * 256;
        const unsigned short *ac = codes + ac_slot[b] * 256;
        const unsigned char *al = lens + ac_slot[b] * 256;
        int ps = pred_slot[b];
        int diff = blk[0] - pred[ps];
        int s = jcat(diff), k, run = 0, last = 0;
        pred[ps] = blk[0];
        if (jw_put(&w, dc[s], dl[s])) return -1;
        if (s && jw_put(&w, diff >= 0 ? diff : diff + (1 << s) - 1, s))
            return -1;
        for (k = 63; k >= 1; k--)
            if (blk[k]) { last = k; break; }
        for (k = 1; k <= last; k++) {
            int v = blk[k], s2;
            if (v == 0) { run++; continue; }
            while (run > 15) {
                if (jw_put(&w, ac[0xF0], al[0xF0])) return -1;
                run -= 16;
            }
            s2 = jcat(v);
            if (jw_put(&w, ac[run * 16 + s2], al[run * 16 + s2])) return -1;
            if (jw_put(&w, v >= 0 ? v : v + (1 << s2) - 1, s2)) return -1;
            run = 0;
        }
        if (last < 63 && jw_put(&w, ac[0x00], al[0x00])) return -1;
    }
    if (w.n) {
        int pad = 8 - w.n;
        if (jw_put(&w, (1 << pad) - 1, pad)) return -1;
    }
    return w.pos;
}

long jpeg_decode_scan(const unsigned char *data, long nbytes, int n_comp,
                      const int *comp_meta, int mcux, int mcuy, int restart,
                      const unsigned char *huff_bits,
                      const unsigned char *huff_vals, int *out,
                      const long *out_offsets) {
    int mincode[8][17], maxcode[8][17], valptr[8][17];
    int t, l, si;
    long mcu = 0;
    int pred[4] = {0, 0, 0, 0};
    jbits b;
    for (t = 0; t < 8; t++) {
        int code = 0, k = 0;
        const unsigned char *bits = huff_bits + t * 16;
        for (l = 1; l <= 16; l++) {
            if (bits[l - 1] == 0) {
                maxcode[t][l] = -1;
            } else {
                valptr[t][l] = k;
                mincode[t][l] = code;
                code += bits[l - 1];
                maxcode[t][l] = code - 1;
                k += bits[l - 1];
            }
            code <<= 1;
        }
    }
    b.d = data; b.n = nbytes; b.p = 0; b.cur = 0; b.cnt = 0; b.marker = -1;
    for (long my = 0; my < mcuy; my++)
        for (long mx = 0; mx < mcux; mx++) {
            if (restart && mcu && mcu % restart == 0) {
                int m;
                b.cnt = 0;
                while (b.marker < 0 && b.p < b.n) {
                    if (b.d[b.p] == 0xFF && b.p + 1 < b.n &&
                        b.d[b.p + 1] != 0x00) {
                        b.marker = b.d[b.p + 1];
                        break;
                    }
                    b.p++;
                }
                m = b.marker;
                if (m >= 0xD0 && m <= 0xD7) { b.p += 2; b.marker = -1; }
                for (si = 0; si < n_comp; si++) pred[si] = 0;
            }
            for (si = 0; si < n_comp; si++) {
                int ch = comp_meta[4 * si], cv = comp_meta[4 * si + 1];
                int dt = comp_meta[4 * si + 2], at = comp_meta[4 * si + 3];
                const unsigned char *dv = huff_vals + dt * 256;
                const unsigned char *av = huff_vals + at * 256;
                long bw = (long)mcux * ch;
                int by, bx;
                for (by = 0; by < cv; by++)
                    for (bx = 0; bx < ch; bx++) {
                        long row = (my * cv + by) * bw + (mx * ch + bx);
                        int *blk = out + out_offsets[si] + row * 64;
                        int s = jb_huff(&b, mincode[dt], maxcode[dt],
                                        valptr[dt], dv);
                        int k2;
                        if (s < 0) return -1;
                        pred[si] += s ? jext(jb_bits(&b, s), s) : 0;
                        blk[0] = pred[si];
                        k2 = 1;
                        while (k2 < 64) {
                            int rs = jb_huff(&b, mincode[at], maxcode[at],
                                             valptr[at], av);
                            int r, s2;
                            if (rs < 0) return -1;
                            r = rs >> 4; s2 = rs & 15;
                            if (s2 == 0) {
                                if (r == 15) { k2 += 16; continue; }
                                break;
                            }
                            k2 += r;
                            if (k2 > 63) return -2;
                            blk[JZZ[k2]] = jext(jb_bits(&b, s2), s2);
                            k2++;
                        }
                    }
            }
            mcu++;
        }
    return 0;
}

/* WebP VP8L pixel decode (spec section 6.2.3): the per-pixel prefix-code
   walk + LZ77 copies + color cache, mirroring webp.py's
   _read_entropy_coded_image exactly. Bits are LSB-first in bytes; code
   bits MSB-of-code-first. Per (group, channel) code: single symbol (>=0,
   zero bits) or canonical tables count/first/sym-offset per length 1..16.
   Returns the END bit position (>= 0), or -1 invalid code, -2 bad
   backward reference, -3 truncated. */
static int vp8l_bit(const unsigned char *d, long nbits, long *bp) {
    if (*bp >= nbits) return -1;
    int b = (d[*bp >> 3] >> (*bp & 7)) & 1;
    (*bp)++;
    return b;
}

static int vp8l_bits(const unsigned char *d, long nbits, long *bp, int k) {
    int v = 0, i;
    for (i = 0; i < k; i++) {
        int b = vp8l_bit(d, nbits, bp);
        if (b < 0) return -1;
        v |= b << i;
    }
    return v;
}

static int vp8l_sym(const unsigned char *d, long nbits, long *bp,
                    const int *single, const int *count, const int *first,
                    const int *off, const int *syms, int slot) {
    int code = 0, ln;
    if (single[slot] >= 0) return single[slot];
    for (ln = 0; ln < 16; ln++) {
        int b = vp8l_bit(d, nbits, bp);
        if (b < 0) return -1;
        code = (code << 1) | b;
        if (count[slot * 16 + ln] &&
            code - first[slot * 16 + ln] < count[slot * 16 + ln])
            return syms[off[slot * 16 + ln] + code - first[slot * 16 + ln]];
    }
    return -1;
}

static long vp8l_prefix_val(const unsigned char *d, long nbits, long *bp,
                            int code) {
    if (code < 4) return code + 1;
    {
        int extra = (code - 2) >> 1;
        long offset = (long)(2 + (code & 1)) << extra;
        int e = vp8l_bits(d, nbits, bp, extra);
        if (e < 0) return -1;
        return offset + e + 1;
    }
}

long vp8l_decode_pixels(const unsigned char *data, long nbytes, long bitpos,
                        int w, int h, int cache_bits, int meta_bits,
                        const int *meta, int mw, const int *single,
                        const int *count, const int *first, const int *off,
                        const int *syms, const int *distmap,
                        unsigned int *out) {
    long nbits = nbytes * 8, bp = bitpos;
    long total = (long)w * h, pos = 0;
    unsigned int cache[2048];
    int cache_size = cache_bits ? (1 << cache_bits) : 0;
    int k;
    for (k = 0; k < cache_size; k++) cache[k] = 0;
    while (pos < total) {
        int g = 0, slot, s;
        if (meta_bits) {
            long y = pos / w, x = pos % w;
            g = meta[(y >> meta_bits) * mw + (x >> meta_bits)];
        }
        slot = g * 5;
        s = vp8l_sym(data, nbits, &bp, single, count, first, off, syms, slot);
        if (s < 0) return -1;
        if (s < 256) {
            int red = vp8l_sym(data, nbits, &bp, single, count, first, off,
                               syms, slot + 1);
            int blue = vp8l_sym(data, nbits, &bp, single, count, first, off,
                                syms, slot + 2);
            int alpha = vp8l_sym(data, nbits, &bp, single, count, first, off,
                                 syms, slot + 3);
            unsigned int argb;
            if (red < 0 || blue < 0 || alpha < 0) return -1;
            argb = ((unsigned int)alpha << 24) | ((unsigned int)red << 16) |
                   ((unsigned int)s << 8) | (unsigned int)blue;
            out[pos++] = argb;
            if (cache_size)
                cache[(0x1E35A7BDu * argb) >> (32 - cache_bits)] = argb;
        } else if (s < 256 + 24) {
            long length = vp8l_prefix_val(data, nbits, &bp, s - 256);
            int dcode;
            long dval, dist, i;
            if (length < 0) return -1;
            dcode = vp8l_sym(data, nbits, &bp, single, count, first, off,
                             syms, slot + 4);
            if (dcode < 0) return -1;
            dval = vp8l_prefix_val(data, nbits, &bp, dcode);
            if (dval < 0) return -1;
            if (dval > 120) {
                dist = dval - 120;
            } else {
                dist = (long)distmap[2 * (dval - 1) + 1] * w +
                       distmap[2 * (dval - 1)];
                if (dist < 1) dist = 1;
            }
            if (dist > pos || pos + length > total) return -2;
            for (i = 0; i < length; i++) {
                unsigned int v = out[pos - dist];
                out[pos++] = v;
                if (cache_size)
                    cache[(0x1E35A7BDu * v) >> (32 - cache_bits)] = v;
            }
        } else {
            if (!cache_size) return -1;
            out[pos++] = cache[s - 256 - 24];
        }
    }
    return bp;
}

/* WebP VP8L inverse predictor transform (spec section 4.2): per-tile
   modes over the linear ARGB array (the standard top-right wrap at the
   right edge). Mirrors webp.py's _inv_predictor. Returns 0 or -1 on a
   bad mode. */
static unsigned int vp8l_avg2(unsigned int x, unsigned int y) {
    unsigned int out = 0;
    int sh;
    for (sh = 0; sh <= 24; sh += 8)
        out |= ((((x >> sh) & 0xFF) + ((y >> sh) & 0xFF)) / 2) << sh;
    return out;
}

static int vp8l_clamp(int v) { return v < 0 ? 0 : (v > 255 ? 255 : v); }

long vp8l_inv_predictor(unsigned int *px, int w, int h,
                        const unsigned int *pred_img, int bits, int pw) {
    long total = (long)w * h, i;
    for (i = 0; i < total; i++) {
        long y = i / w, x = i % w;
        unsigned int pred, cur = px[i];
        if (i == 0) {
            pred = 0xFF000000u;
        } else if (y == 0) {
            pred = px[i - 1];
        } else if (x == 0) {
            pred = px[i - w];
        } else {
            int mode = (pred_img[(y >> bits) * pw + (x >> bits)] >> 8) & 0xFF;
            unsigned int L = px[i - 1], T = px[i - w], TL = px[i - w - 1],
                         TR = px[i - w + 1];
            switch (mode) {
            case 0: pred = 0xFF000000u; break;
            case 1: pred = L; break;
            case 2: pred = T; break;
            case 3: pred = TR; break;
            case 4: pred = TL; break;
            case 5: pred = vp8l_avg2(vp8l_avg2(L, TR), T); break;
            case 6: pred = vp8l_avg2(L, TL); break;
            case 7: pred = vp8l_avg2(L, T); break;
            case 8: pred = vp8l_avg2(TL, T); break;
            case 9: pred = vp8l_avg2(T, TR); break;
            case 10: pred = vp8l_avg2(vp8l_avg2(L, TL), vp8l_avg2(T, TR)); break;
            case 11: {
                int pa = 0, pt = 0, sh;
                for (sh = 0; sh <= 24; sh += 8) {
                    int lc = (L >> sh) & 0xFF, tc = (T >> sh) & 0xFF,
                        cc = (TL >> sh) & 0xFF;
                    int p = tc + lc - cc;
                    pa += iabs(p - lc);
                    pt += iabs(p - tc);
                }
                pred = pa < pt ? L : T;
                break;
            }
            case 12: {
                unsigned int o = 0;
                int sh;
                for (sh = 0; sh <= 24; sh += 8)
                    o |= (unsigned int)vp8l_clamp(
                             (int)((L >> sh) & 0xFF) + (int)((T >> sh) & 0xFF) -
                             (int)((TL >> sh) & 0xFF))
                         << sh;
                pred = o;
                break;
            }
            case 13: {
                unsigned int o = 0;
                int sh;
                for (sh = 0; sh <= 24; sh += 8) {
                    int ave = ((int)((L >> sh) & 0xFF) + (int)((T >> sh) & 0xFF)) / 2;
                    o |= (unsigned int)vp8l_clamp(
                             ave + (ave - (int)((TL >> sh) & 0xFF)) / 2)
                         << sh;
                }
                pred = o;
                break;
            }
            default: return -1;
            }
        }
        {
            unsigned int o = 0;
            int sh;
            for (sh = 0; sh <= 24; sh += 8)
                o |= ((((cur >> sh) & 0xFF) + ((pred >> sh) & 0xFF)) & 0xFF)
                     << sh;
            px[i] = o;
        }
    }
    return 0;
}

/* GIF LZW ENCODE (mirror of gif.py's _lzw_encode byte-exactly, incl.
   the width-bump-BEFORE-insert ordering and Clear on table overflow).
   Dictionary: (prefix_code << 8 | byte) -> code via a 4096*256 table,
   memset on every Clear. out cap must be >= 2*n + 64. */
long gif_lzw_encode(const unsigned char *idx, long n, int mcs,
                    unsigned char *out, long cap, short *dict) {
    int clear = 1 << mcs, eoi = clear + 1;
    int width = mcs + 1, next_code = eoi + 1;
    long pos = 0, i;
    unsigned long acc = 0;
    int accbits = 0, prev = -1;
    memset(dict, -1, 4096 * 256 * sizeof(short));
#define GEMIT(code, w_)                                                   \
    do {                                                                  \
        acc |= (unsigned long)(code) << accbits;                          \
        accbits += (w_);                                                  \
        while (accbits >= 8) {                                            \
            if (pos >= cap) return -1;                                    \
            out[pos++] = (unsigned char)(acc & 0xFF);                     \
            acc >>= 8;                                                    \
            accbits -= 8;                                                 \
        }                                                                 \
    } while (0)
    GEMIT(clear, width);
    for (i = 0; i < n; i++) {
        int b = idx[i], code;
        long key;
        if (prev < 0) { prev = b; continue; }
        key = (long)prev * 256 + b;
        code = dict[key];
        if (code >= 0) { prev = code; continue; }
        GEMIT(prev, width);
        if (next_code == (1 << width) && width < 12) width++;
        dict[key] = (short)next_code;
        next_code++;
        if (next_code > 0xFFF) {
            GEMIT(clear, width);
            memset(dict, -1, 4096 * 256 * sizeof(short));
            next_code = eoi + 1;
            width = mcs + 1;
        }
        prev = b;
    }
    if (prev >= 0) GEMIT(prev, width);
    GEMIT(eoi, width);
    if (accbits) {
        if (pos >= cap) return -1;
        out[pos++] = (unsigned char)(acc & 0xFF);
    }
#undef GEMIT
    return pos;
}

/* Progressive JPEG entropy ENCODE: one call per SOS (restart streams
   keep the Python path). Mirrors jpeg.py's _enc_dc_first/_enc_ac_first/
   _enc_ac_refine byte-exactly, including the EOB-run aggregation and the
   buffered correction bits of G.1.2.3. */
long jpeg_prog_encode_dc(const int *dc0, long n, const unsigned char *pred_slot,
                         int ah, int al, const unsigned short *codes,
                         const unsigned char *lens, unsigned char *out,
                         long cap) {
    jwr w;
    int pred[4] = {0, 0, 0, 0};
    long i;
    w.out = out; w.pos = 0; w.cap = cap; w.acc = 0; w.n = 0;
    for (i = 0; i < n; i++) {
        int v = dc0[i];
        int t = v >> al; /* arithmetic shift, matches Python // semantics */
        if (ah == 0) {
            int ps = pred_slot[i] & 1;      /* table slot: 0 lum, 1 chrom */
            int pslot = pred_slot[i] >> 1;  /* predictor slot: component */
            const unsigned short *dc = codes + ps * 256;
            const unsigned char *dl = lens + ps * 256;
            int diff = t - pred[pslot];
            int s = jcat(diff);
            pred[pslot] = t;
            if (jw_put(&w, dc[s], dl[s])) return -1;
            if (s && jw_put(&w, diff >= 0 ? diff : diff + (1 << s) - 1, s))
                return -1;
        } else {
            if (jw_put(&w, t & 1, 1)) return -1;
        }
    }
    if (w.n) {
        int pad = 8 - w.n;
        if (jw_put(&w, (1 << pad) - 1, pad)) return -1;
    }
    return w.pos;
}

typedef struct {
    jwr *w;
    const unsigned short *ac;
    const unsigned char *al_;
    long eobrun;
    unsigned char pending[1024];
    int npend;
} jprog;

static int jp_flush_eobrun(jprog *st) {
    int i;
    if (st->eobrun > 0) {
        int nbits = 0;
        long e = st->eobrun;
        while (e > 1) { nbits++; e >>= 1; }
        if (jw_put(st->w, st->ac[nbits << 4], st->al_[nbits << 4])) return -1;
        if (nbits &&
            jw_put(st->w, (int)(st->eobrun & ((1L << nbits) - 1)), nbits))
            return -1;
        st->eobrun = 0;
    }
    for (i = 0; i < st->npend; i++)
        if (jw_put(st->w, st->pending[i], 1)) return -1;
    st->npend = 0;
    return 0;
}

long jpeg_prog_encode_ac(const int *blocks, long n, int ss, int se, int ah,
                         int al, const unsigned short *codes,
                         const unsigned char *lens, unsigned char *out,
                         long cap) {
    jwr w;
    jprog st;
    long b;
    int k;
    w.out = out; w.pos = 0; w.cap = cap; w.acc = 0; w.n = 0;
    st.w = &w; st.ac = codes; st.al_ = lens; st.eobrun = 0; st.npend = 0;
    for (b = 0; b < n; b++) {
        const int *blk = blocks + b * 64; /* zigzag order */
        if (ah == 0) { /* first scan for this band */
            int run = 0;
            for (k = ss; k <= se; k++) {
                int v = blk[k];
                int t = (v < 0 ? -v : v) >> al;
                int s;
                if (t == 0) { run++; continue; }
                if (jp_flush_eobrun(&st)) return -1;
                while (run > 15) {
                    if (jw_put(&w, codes[0xF0], lens[0xF0])) return -1;
                    run -= 16;
                }
                s = jcat(t);
                if (jw_put(&w, codes[(run << 4) | s], lens[(run << 4) | s]))
                    return -1;
                if (jw_put(&w, v > 0 ? t : (~t) & ((1 << s) - 1), s)) return -1;
                run = 0;
            }
            if (run > 0) {
                st.eobrun++;
                if (st.eobrun == 0x7FFF && jp_flush_eobrun(&st)) return -1;
            }
        } else { /* refinement */
            int absv[64], eobk = ss - 1, run = 0;
            unsigned char br[64];
            int nbr = 0, i;
            for (k = ss; k <= se; k++) {
                int v = blk[k];
                int t = (v < 0 ? -v : v) >> al;
                absv[k] = t;
                if (t == 1) eobk = k;
            }
            for (k = ss; k <= se; k++) {
                int t = absv[k];
                if (t == 0) { run++; continue; }
                while (run > 15 && k <= eobk) {
                    if (jp_flush_eobrun(&st)) return -1;
                    if (jw_put(&w, codes[0xF0], lens[0xF0])) return -1;
                    run -= 16;
                    for (i = 0; i < nbr; i++)
                        if (jw_put(&w, br[i], 1)) return -1;
                    nbr = 0;
                }
                if (t > 1) { br[nbr++] = (unsigned char)(t & 1); continue; }
                if (jp_flush_eobrun(&st)) return -1;
                if (jw_put(&w, codes[(run << 4) | 1], lens[(run << 4) | 1]))
                    return -1;
                if (jw_put(&w, blk[k] > 0 ? 1 : 0, 1)) return -1;
                for (i = 0; i < nbr; i++)
                    if (jw_put(&w, br[i], 1)) return -1;
                nbr = 0;
                run = 0;
            }
            if (run > 0 || nbr > 0) {
                st.eobrun++;
                for (i = 0; i < nbr; i++) st.pending[st.npend++] = br[i];
                if ((st.eobrun == 0x7FFF || st.npend > 872) &&
                    jp_flush_eobrun(&st))
                    return -1;
            }
        }
    }
    if (jp_flush_eobrun(&st)) return -1;
    if (w.n) {
        int pad = 8 - w.n;
        if (jw_put(&w, (1 << pad) - 1, pad)) return -1;
    }
    return w.pos;
}

/* Progressive JPEG (T.81 Annex G): decode ONE SOS, updating the shared
   coefficient stores. Mirrors jpeg.py's _progressive_scan exactly —
   interleaved-DC over the MCU grid for n_comp > 1, non-interleaved over
   cbh x cbw actual blocks for n_comp == 1 (DC or AC, first or refine).
   Returns the byte position of the next marker (>= 0), or a negative
   error: -1 bad Huffman code, -2 band overflow, -3 bad scan shape,
   -4 bad refinement symbol. */
static void jp_sync(jbits *b) {
    b->cnt = 0;
    while (b->marker < 0 && b->p < b->n) {
        if (b->d[b->p] == 0xFF && b->p + 1 < b->n && b->d[b->p + 1] != 0x00) {
            b->marker = b->d[b->p + 1];
            break;
        }
        b->p++;
    }
}

long jpeg_prog_scan(const unsigned char *data, long nbytes, int n_comp,
                    const int *comp_meta, const long *out_offsets,
                    int mcux, int mcuy, int cbw, int cbh, int ss, int se,
                    int ah, int al, int restart,
                    const unsigned char *huff_bits,
                    const unsigned char *huff_vals, int *out) {
    int mincode[8][17], maxcode[8][17], valptr[8][17];
    int t, l, si;
    int pred[4] = {0, 0, 0, 0};
    long eobrun = 0, unit = 0;
    jbits b;
    for (t = 0; t < 8; t++) {
        int code = 0, k = 0;
        const unsigned char *bits = huff_bits + t * 16;
        for (l = 1; l <= 16; l++) {
            if (bits[l - 1] == 0) {
                maxcode[t][l] = -1;
            } else {
                valptr[t][l] = k;
                mincode[t][l] = code;
                code += bits[l - 1];
                maxcode[t][l] = code - 1;
                k += bits[l - 1];
            }
            code <<= 1;
        }
    }
    b.d = data; b.n = nbytes; b.p = 0; b.cur = 0; b.cnt = 0; b.marker = -1;
    if (n_comp > 1) { /* interleaved DC scan over the padded MCU grid */
        long my, mx;
        if (ss != 0 || se != 0) return -3;
        for (my = 0; my < mcuy; my++)
            for (mx = 0; mx < mcux; mx++) {
                if (restart && unit && unit % restart == 0) {
                    jp_sync(&b);
                    if (b.marker >= 0xD0 && b.marker <= 0xD7) {
                        b.p += 2;
                        b.marker = -1;
                    }
                    for (si = 0; si < n_comp; si++) pred[si] = 0;
                }
                for (si = 0; si < n_comp; si++) {
                    int ch = comp_meta[4 * si], cv = comp_meta[4 * si + 1];
                    int dt = comp_meta[4 * si + 2];
                    const unsigned char *dv = huff_vals + dt * 256;
                    long bw = (long)mcux * ch;
                    int by, bx;
                    for (by = 0; by < cv; by++)
                        for (bx = 0; bx < ch; bx++) {
                            long row = (my * cv + by) * bw + (mx * ch + bx);
                            int *blk = out + out_offsets[si] + row * 64;
                            if (ah == 0) {
                                int s = jb_huff(&b, mincode[dt], maxcode[dt],
                                                valptr[dt], dv);
                                if (s < 0) return -1;
                                pred[si] += s ? jext(jb_bits(&b, s), s) : 0;
                                blk[0] = pred[si] * (1 << al);
                            } else if (jb_bit(&b)) {
                                blk[0] |= (1 << al);
                            }
                        }
                }
                unit++;
            }
    } else { /* non-interleaved: the component's ACTUAL block dims */
        int ch = comp_meta[0];
        int dt = comp_meta[2], at = comp_meta[3];
        const unsigned char *dv = huff_vals + dt * 256;
        const unsigned char *av = huff_vals + at * 256;
        long bwstride = (long)mcux * ch;
        long by, bx;
        for (by = 0; by < cbh; by++)
            for (bx = 0; bx < cbw; bx++) {
                int *blk = out + out_offsets[0] + (by * bwstride + bx) * 64;
                if (restart && unit && unit % restart == 0) {
                    jp_sync(&b);
                    if (b.marker >= 0xD0 && b.marker <= 0xD7) {
                        b.p += 2;
                        b.marker = -1;
                    }
                    pred[0] = 0;
                    eobrun = 0;
                }
                if (ss == 0) { /* DC */
                    if (ah == 0) {
                        int s = jb_huff(&b, mincode[dt], maxcode[dt],
                                        valptr[dt], dv);
                        if (s < 0) return -1;
                        pred[0] += s ? jext(jb_bits(&b, s), s) : 0;
                        blk[0] = pred[0] * (1 << al);
                    } else if (jb_bit(&b)) {
                        blk[0] |= (1 << al);
                    }
                } else if (ah == 0) { /* AC first */
                    if (eobrun > 0) {
                        eobrun--;
                    } else {
                        int k = ss;
                        while (k <= se) {
                            int rs = jb_huff(&b, mincode[at], maxcode[at],
                                             valptr[at], av);
                            int r, s;
                            if (rs < 0) return -1;
                            r = rs >> 4;
                            s = rs & 15;
                            if (s == 0) {
                                if (r == 15) { k += 16; continue; }
                                eobrun = (1L << r) - 1;
                                if (r) eobrun += jb_bits(&b, r);
                                break;
                            }
                            k += r;
                            if (k > se) return -2;
                            blk[JZZ[k]] = jext(jb_bits(&b, s), s) * (1 << al);
                            k++;
                        }
                    }
                } else { /* AC refinement */
                    int p1 = 1 << al, m1 = -(1 << al);
                    int k = ss;
                    if (eobrun == 0) {
                        while (k <= se) {
                            int rs = jb_huff(&b, mincode[at], maxcode[at],
                                             valptr[at], av);
                            int r, s, newval = 0;
                            if (rs < 0) return -1;
                            r = rs >> 4;
                            s = rs & 15;
                            if (s) {
                                if (s != 1) return -4;
                                newval = jb_bit(&b) ? p1 : m1;
                            } else if (r != 15) {
                                eobrun = 1L << r;
                                if (r) eobrun += jb_bits(&b, r);
                                break;
                            }
                            while (k <= se) {
                                int *c = blk + JZZ[k];
                                if (*c != 0) {
                                    if (jb_bit(&b) && (*c & p1) == 0)
                                        *c += (*c > 0) ? p1 : m1;
                                } else {
                                    if (r == 0) break;
                                    r--;
                                }
                                k++;
                            }
                            if (newval && k <= se) blk[JZZ[k]] = newval;
                            k++;
                        }
                    }
                    if (eobrun > 0) {
                        while (k <= se) {
                            int *c = blk + JZZ[k];
                            if (*c != 0 && jb_bit(&b) && (*c & p1) == 0)
                                *c += (*c > 0) ? p1 : m1;
                            k++;
                        }
                        eobrun--;
                    }
                }
                unit++;
            }
    }
    jp_sync(&b);
    return b.p;
}
"""

_lib = None
_tried = False


def _compiled_so() -> str | None:
    """Path of this source's compiled library, building it if this host
    has none yet; None without a compiler, on a failed build, or when the
    build dir is not private to this user (it sits in the shared temp dir
    under a fixed name, so another user could otherwise plant the .so).
    Builds take an exclusive lock in the dir and compile to a temporary
    name that ``os.replace`` moves into place, so a failed or concurrent
    build never leaves a partial ``kernels.so`` and each host compiles
    once, not every Python worker."""
    tag = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    workdir = os.path.join(tempfile.gettempdir(), f"cinescrapers-native-{tag}")
    so = os.path.join(workdir, "kernels.so")
    os.makedirs(workdir, mode=0o700, exist_ok=True)
    st = os.stat(workdir)
    if st.st_uid != os.getuid() or st.st_mode & 0o022:
        return None
    if os.path.exists(so):
        return so
    cc = shutil.which("cc") or shutil.which("gcc")
    if cc is None:
        return None
    with open(os.path.join(workdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(so):  # built by another process while we waited
            return so
        src = os.path.join(workdir, "kernels.c")
        tmp = so + ".tmp"
        with open(src, "w") as fh:
            fh.write(_C_SRC)
        try:
            subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", "-o", tmp, src],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp, so)
        except subprocess.SubprocessError:
            return None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return so


def _build() -> ctypes.CDLL | None:
    try:
        so = _compiled_so()
        if so is None:
            return None
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    u8p = np.ctypeslib.ndpointer(np.uint8, flags="C_CONTIGUOUS")
    lib.png_unfilter.restype = ctypes.c_long
    lib.png_unfilter.argtypes = [
        u8p, ctypes.c_long, ctypes.c_long, ctypes.c_int, u8p,
    ]
    lib.adpcm_decode.restype = None
    lib.adpcm_decode.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, ctypes.c_int,
        np.ctypeslib.ndpointer(np.int16, flags="C_CONTIGUOUS"),
    ]
    i32p = np.ctypeslib.ndpointer(np.int32, flags="C_CONTIGUOUS")
    i64p = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")
    lib.gif_lzw_decode.restype = ctypes.c_long
    lib.gif_lzw_decode.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, u8p, ctypes.c_long,
    ]
    lib.jpeg_decode_scan.restype = ctypes.c_long
    lib.jpeg_decode_scan.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, i32p, ctypes.c_int, ctypes.c_int,
        ctypes.c_int, u8p, u8p, i32p, i64p,
    ]
    u16p = np.ctypeslib.ndpointer(np.uint16, flags="C_CONTIGUOUS")
    lib.jpeg_encode_blocks.restype = ctypes.c_long
    lib.jpeg_encode_blocks.argtypes = [
        i32p, ctypes.c_long, u8p, u8p, u8p, u16p, u8p, u8p, ctypes.c_long,
    ]
    lib.jpeg_prog_scan.restype = ctypes.c_long
    lib.jpeg_prog_scan.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, i32p, i64p, ctypes.c_int,
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_int, ctypes.c_int, ctypes.c_int, u8p, u8p, i32p,
    ]
    lib.jpeg_prog_encode_dc.restype = ctypes.c_long
    lib.jpeg_prog_encode_dc.argtypes = [
        i32p, ctypes.c_long, u8p, ctypes.c_int, ctypes.c_int, u16p, u8p,
        u8p, ctypes.c_long,
    ]
    lib.jpeg_prog_encode_ac.restype = ctypes.c_long
    lib.jpeg_prog_encode_ac.argtypes = [
        i32p, ctypes.c_long, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_int, u16p, u8p, u8p, ctypes.c_long,
    ]
    i16p = np.ctypeslib.ndpointer(np.int16, flags="C_CONTIGUOUS")
    lib.gif_lzw_encode.restype = ctypes.c_long
    lib.gif_lzw_encode.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, u8p, ctypes.c_long, i16p,
    ]
    u32p = np.ctypeslib.ndpointer(np.uint32, flags="C_CONTIGUOUS")
    lib.vp8l_decode_pixels.restype = ctypes.c_long
    lib.vp8l_decode_pixels.argtypes = [
        u8p, ctypes.c_long, ctypes.c_long, ctypes.c_int, ctypes.c_int,
        ctypes.c_int, ctypes.c_int, i32p, ctypes.c_int, i32p, i32p, i32p,
        i32p, i32p, i32p, u32p,
    ]
    lib.vp8l_inv_predictor.restype = ctypes.c_long
    lib.vp8l_inv_predictor.argtypes = [
        u32p, ctypes.c_int, ctypes.c_int, u32p, ctypes.c_int, ctypes.c_int,
    ]
    return lib


def native_lib() -> ctypes.CDLL | None:
    """The compiled kernel library, or None (no compiler / disabled) —
    compiled once per host (see ``_compiled_so``) and loaded at most once
    per process, so a fresh Python worker pays a ``dlopen``, not a
    ~100 ms compile."""
    global _lib, _tried
    if not _tried:
        _tried = True
        if os.environ.get("CINESCRAPERS_NO_NATIVE") != "1":
            _lib = _build()
    return _lib


def png_unfilter_image(raw: np.ndarray, h: int, stride: int, bpp: int):
    """raw (h, 1+stride) uint8 → reconstructed (h, stride) uint8, or None
    when the native path is unavailable (caller falls back to Python)."""
    lib = native_lib()
    if lib is None:
        return None
    raw = np.ascontiguousarray(raw, dtype=np.uint8)
    out = np.empty((h, stride), dtype=np.uint8)
    rc = lib.png_unfilter(raw.reshape(-1), h, stride, bpp, out.reshape(-1))
    if rc:
        raise ValueError(f"bad PNG filter type in row {rc - 1}")
    return out


def adpcm_decode(body: bytes, n: int, pred0: int, idx0: int):
    """ADPCM nibble body → int16[n], or None when unavailable."""
    # the C loop reads body[i>>1] for i<n and IMA_STEP[idx] unclamped on
    # entry; a truncated/crafted stream (large header n, short body, or
    # idx0 > 88) would drive heap OOB reads — validate before the call
    if len(body) < (n + 1) // 2:
        raise ValueError(
            f"ADPCM body {len(body)} B too short for {n} samples"
        )
    if not 0 <= idx0 <= 88:
        raise ValueError(f"ADPCM step index {idx0} out of range 0..88")
    lib = native_lib()
    if lib is None:
        return None
    buf = np.frombuffer(body, dtype=np.uint8)
    out = np.empty(n, dtype=np.int16)
    lib.adpcm_decode(np.ascontiguousarray(buf), n, pred0, idx0, out)
    return out


def gif_lzw_decode(data: bytes, min_code_size: int, n_expected: int):
    """GIF LZW code stream → index bytes, or None when unavailable.
    Raises the same ValueError class as the Python scan on malformed or
    truncated streams."""
    # the C kernel's prefix/suffix/first tables are fixed 4096 entries;
    # mcs >= 12 would write 2^mcs init entries past them (stack smash on
    # crafted foreign bytes) — reject before crossing into C
    if not 2 <= min_code_size <= 11:
        raise ValueError(
            f"GIF LZW min code size {min_code_size} out of range 2..11"
        )
    lib = native_lib()
    if lib is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8) if data else np.zeros(1, np.uint8)
    out = np.empty(n_expected + 4096, dtype=np.uint8)  # one entry of slack
    rc = lib.gif_lzw_decode(
        np.ascontiguousarray(buf), len(data), min_code_size, out, n_expected
    )
    if rc < 0:
        raise ValueError("GIF LZW: malformed code stream")
    if rc < n_expected:
        raise ValueError(f"GIF LZW: stream ended at {rc}/{n_expected} px")
    return out[:n_expected].tobytes()


def jpeg_decode_scan(
    data: bytes,
    pos: int,
    comp_meta: list[tuple[int, int, int, int]],
    mcux: int,
    mcuy: int,
    restart: int,
    huff_bits: "np.ndarray",
    huff_vals: "np.ndarray",
):
    """Baseline JPEG scan → list of (n_blocks, 64) int32 coefficient
    arrays (natural order), or None when unavailable. ``comp_meta`` is
    (h, v, dc_slot, ac_slot) per component with slots 0-3 DC / 4-7 AC;
    ``huff_bits`` (8, 16) and ``huff_vals`` (8, 256) uint8."""
    lib = native_lib()
    if lib is None or len(comp_meta) > 4:
        return None
    sizes = [mcux * h * mcuy * v * 64 for h, v, _, _ in comp_meta]
    offsets = np.cumsum([0] + sizes[:-1]).astype(np.int64)
    out = np.zeros(int(sum(sizes)), dtype=np.int32)
    seg = np.frombuffer(data, dtype=np.uint8, count=len(data) - pos, offset=pos)
    meta = np.ascontiguousarray(np.array(comp_meta, dtype=np.int32).reshape(-1))
    rc = lib.jpeg_decode_scan(
        np.ascontiguousarray(seg),
        len(data) - pos,
        len(comp_meta),
        meta,
        mcux,
        mcuy,
        restart,
        np.ascontiguousarray(huff_bits.reshape(-1)),
        np.ascontiguousarray(huff_vals.reshape(-1)),
        out,
        np.ascontiguousarray(offsets),
    )
    if rc == -1:
        raise ValueError("invalid JPEG Huffman code")
    if rc == -2:
        raise ValueError("JPEG AC index overflow")
    return [
        out[o : o + s].reshape(-1, 64)
        for o, s in zip(offsets.tolist(), sizes)
    ]


def jpeg_encode_blocks(
    blocks: "np.ndarray",
    pred_slot: "np.ndarray",
    dc_slot: "np.ndarray",
    ac_slot: "np.ndarray",
    codes: "np.ndarray",
    lens: "np.ndarray",
):
    """Quantized zigzag blocks (n, 64) int32 in emission order → stuffed
    entropy bytes (final flush included), or None when unavailable.
    codes/lens: (4, 256) uint16/uint8 canonical-code tables."""
    lib = native_lib()
    if lib is None:
        return None
    n = blocks.shape[0]
    cap = n * 512 + 64  # worst case ≈216 B/block + stuffing headroom
    out = np.empty(cap, dtype=np.uint8)
    rc = lib.jpeg_encode_blocks(
        np.ascontiguousarray(blocks.reshape(-1).astype(np.int32, copy=False)),
        n,
        np.ascontiguousarray(pred_slot.astype(np.uint8, copy=False)),
        np.ascontiguousarray(dc_slot.astype(np.uint8, copy=False)),
        np.ascontiguousarray(ac_slot.astype(np.uint8, copy=False)),
        np.ascontiguousarray(codes.reshape(-1).astype(np.uint16, copy=False)),
        np.ascontiguousarray(lens.reshape(-1).astype(np.uint8, copy=False)),
        out,
        cap,
    )
    if rc < 0:
        raise ValueError("JPEG encode buffer overflow")
    return out[:rc].tobytes()


def jpeg_prog_scan(
    data: bytes,
    pos: int,
    scan_meta: list[tuple[int, int, int, int]],
    offsets: "np.ndarray",
    mcux: int,
    mcuy: int,
    cbw: int,
    cbh: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart: int,
    huff_bits: "np.ndarray",
    huff_vals: "np.ndarray",
    base: "np.ndarray",
):
    """Decode ONE progressive SOS in C, mutating the shared coefficient
    buffer ``base`` (all components concatenated; ``offsets`` indexes the
    scan's components into it, in int32 units). Returns the ABSOLUTE
    position of the next marker, or None when the native path is
    unavailable. ``scan_meta`` is (h, v, dc_slot, ac_slot) per scan
    component with slots 0-3 DC / 4-7 AC."""
    lib = native_lib()
    if lib is None or len(scan_meta) > 4:
        return None
    seg = np.frombuffer(data, dtype=np.uint8, count=len(data) - pos, offset=pos)
    meta = np.ascontiguousarray(np.array(scan_meta, dtype=np.int32).reshape(-1))
    rc = lib.jpeg_prog_scan(
        np.ascontiguousarray(seg),
        len(data) - pos,
        len(scan_meta),
        meta,
        np.ascontiguousarray(offsets.astype(np.int64, copy=False)),
        mcux,
        mcuy,
        cbw,
        cbh,
        ss,
        se,
        ah,
        al,
        restart,
        np.ascontiguousarray(huff_bits.reshape(-1)),
        np.ascontiguousarray(huff_vals.reshape(-1)),
        base,
    )
    if rc == -1:
        raise ValueError("invalid JPEG Huffman code")
    if rc == -2:
        raise ValueError("JPEG AC index overflow")
    if rc == -3:
        raise ValueError("progressive AC scans must be single-component")
    if rc == -4:
        raise ValueError("JPEG AC refinement symbol s != 1")
    return pos + int(rc)


def jpeg_prog_encode_dc(
    dc0: "np.ndarray",
    pred_slot: "np.ndarray",
    ah: int,
    al: int,
    codes: "np.ndarray",
    lens: "np.ndarray",
):
    """Progressive DC scan → stuffed entropy bytes (flush included), or
    None when unavailable. ``pred_slot`` packs (component_pred << 1) |
    table_slot per emission-order block; codes/lens (2, 256)."""
    lib = native_lib()
    if lib is None:
        return None
    n = dc0.shape[0]
    cap = n * 8 + 64
    out = np.empty(cap, dtype=np.uint8)
    rc = lib.jpeg_prog_encode_dc(
        np.ascontiguousarray(dc0.astype(np.int32, copy=False)),
        n,
        np.ascontiguousarray(pred_slot.astype(np.uint8, copy=False)),
        ah,
        al,
        np.ascontiguousarray(codes.reshape(-1).astype(np.uint16, copy=False)),
        np.ascontiguousarray(lens.reshape(-1).astype(np.uint8, copy=False)),
        out,
        cap,
    )
    if rc < 0:
        raise ValueError("JPEG progressive DC encode buffer overflow")
    return out[:rc].tobytes()


def jpeg_prog_encode_ac(
    blocks: "np.ndarray",
    ss: int,
    se: int,
    ah: int,
    al: int,
    codes: "np.ndarray",
    lens: "np.ndarray",
):
    """Progressive AC scan (first or refine) over zigzag-order blocks
    (n, 64) int32 → stuffed entropy bytes, or None when unavailable."""
    lib = native_lib()
    if lib is None:
        return None
    n = blocks.shape[0]
    cap = n * 512 + 64
    out = np.empty(cap, dtype=np.uint8)
    rc = lib.jpeg_prog_encode_ac(
        np.ascontiguousarray(blocks.reshape(-1).astype(np.int32, copy=False)),
        n,
        ss,
        se,
        ah,
        al,
        np.ascontiguousarray(codes.astype(np.uint16, copy=False)),
        np.ascontiguousarray(lens.astype(np.uint8, copy=False)),
        out,
        cap,
    )
    if rc < 0:
        raise ValueError("JPEG progressive AC encode buffer overflow")
    return out[:rc].tobytes()


def gif_lzw_encode(indices: bytes, min_code_size: int):
    """GIF index bytes → LZW code stream, or None when unavailable.
    Byte-identical to gif.py's _lzw_encode (equality-gated in tests)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(
            f"GIF LZW min code size {min_code_size} out of range 2..11"
        )
    lib = native_lib()
    if lib is None:
        return None
    buf = (
        np.frombuffer(indices, dtype=np.uint8)
        if indices
        else np.zeros(1, np.uint8)
    )
    n = len(indices)
    cap = 2 * n + 64
    out = np.empty(cap, dtype=np.uint8)
    dict_buf = np.empty(4096 * 256, dtype=np.int16)
    rc = lib.gif_lzw_encode(
        np.ascontiguousarray(buf), n, min_code_size, out, cap, dict_buf
    )
    if rc < 0:
        raise ValueError("GIF LZW encode buffer overflow")
    return out[:rc].tobytes()


def vp8l_decode_pixels(
    data: bytes,
    bitpos: int,
    w: int,
    h: int,
    cache_bits: int,
    meta_bits: int,
    meta: "np.ndarray | None",
    mw: int,
    single: "np.ndarray",
    count: "np.ndarray",
    first: "np.ndarray",
    off: "np.ndarray",
    syms: "np.ndarray",
    distmap: "np.ndarray",
):
    """VP8L spatially-coded pixel loop in C → (uint32 ARGB array,
    end bit position), or None when unavailable. Raises ValueError on
    malformed streams (same class as the Python scan)."""
    lib = native_lib()
    if lib is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.zeros(w * h, dtype=np.uint32)
    if meta is None:
        meta = np.zeros(1, np.int32)
        mw = 1
    rc = lib.vp8l_decode_pixels(
        np.ascontiguousarray(buf),
        len(data),
        bitpos,
        w,
        h,
        cache_bits,
        meta_bits,
        np.ascontiguousarray(meta.astype(np.int32, copy=False)),
        mw,
        np.ascontiguousarray(single.astype(np.int32, copy=False)),
        np.ascontiguousarray(count.reshape(-1).astype(np.int32, copy=False)),
        np.ascontiguousarray(first.reshape(-1).astype(np.int32, copy=False)),
        np.ascontiguousarray(off.reshape(-1).astype(np.int32, copy=False)),
        np.ascontiguousarray(syms.astype(np.int32, copy=False)),
        np.ascontiguousarray(distmap.reshape(-1).astype(np.int32, copy=False)),
        out,
    )
    if rc == -1:
        raise ValueError("VP8L: invalid prefix code")
    if rc == -2:
        raise ValueError("VP8L: backward reference out of range")
    if rc == -3:
        raise ValueError("VP8L: truncated bitstream")
    return out, int(rc)


def vp8l_inv_predictor(px: "np.ndarray", w: int, h: int,
                       pred_img: "np.ndarray", bits: int, pw: int):
    """In-place inverse predictor transform in C over the uint32 ARGB
    array, or None when unavailable."""
    lib = native_lib()
    if lib is None:
        return None
    px = np.ascontiguousarray(px.astype(np.uint32, copy=True))
    rc = lib.vp8l_inv_predictor(
        px, w, h,
        np.ascontiguousarray(pred_img.astype(np.uint32, copy=False)),
        bits, pw,
    )
    if rc < 0:
        raise ValueError("VP8L: predictor mode out of range")
    return px
