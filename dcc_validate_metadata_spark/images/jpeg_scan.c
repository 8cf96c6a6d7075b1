/* Baseline JPEG entropy decode of ONE scan: the C port of
 * images/jpeg.py ``_scan_words`` + ``_decode_scan``.
 *
 * Contract (checked by tests/test_native_decode.py): when this returns a
 * byte count >= 0, the Python decoder accepts the same scan, consumes the
 * same number of bytes and writes the same coefficients at the same
 * offsets. Anything the Python loop would reject, and anything merely
 * unusual (DC categories above 16, coefficients outside int32), returns
 * -1 so the caller re-decodes the whole stream in Python and the error
 * message stays Python's own.
 *
 * The scan is data[start:n]; the return value counts from ``start``.
 * params (int64): n_units, restart_interval, ncomp, then per scan
 * component: coef_offset, coef_len, bpm, bwf, upr, sbw, dc_lut, ac_lut
 * (the LUTs are addresses of the 65536-entry uint16 tables of
 * ``_decode_lut``: entry = (code length << 8) | symbol, 0 = invalid).
 */
#include <stdint.h>
#include <stdlib.h>

#define MAX_COMP 4

typedef struct {
    int32_t *coefs;
    int64_t len, bpm, bwf, upr, sbw;
    const uint16_t *dc, *ac;
} comp_t;

/* 32-bit big-endian window at destuffed byte i (buf carries 4 pad bytes
 * of 0xFF, so i < nwords = destuffed length + 1 stays in range). */
#define WORD(i) (((uint32_t)buf[i] << 24) | ((uint32_t)buf[(i) + 1] << 16) | \
                 ((uint32_t)buf[(i) + 2] << 8) | (uint32_t)buf[(i) + 3])

int64_t jpeg_decode_scan(const uint8_t *data, int64_t n, int64_t start,
                         const int64_t *params)
{
    int64_t n_units = params[0], restart_interval = params[1];
    int ncomp = (int)params[2];
    comp_t comp[MAX_COMP];
    int64_t pred[MAX_COMP] = {0};
    uint8_t *buf;
    int64_t *restarts;
    int64_t dlen = 0, nrestarts = 0, consumed = n, i;
    int64_t result = -1;

    if (ncomp < 1 || ncomp > MAX_COMP || n_units < 0 || start < 0 || start > n)
        return -1;
    data += start;
    n -= start;
    for (int c = 0; c < ncomp; c++) {
        const int64_t *q = params + 3 + 8 * c;
        comp[c].coefs = (int32_t *)(intptr_t)q[0];
        comp[c].len = q[1];
        comp[c].bpm = q[2];
        comp[c].bwf = q[3];
        comp[c].upr = q[4];
        comp[c].sbw = q[5];
        comp[c].dc = (const uint16_t *)(intptr_t)q[6];
        comp[c].ac = (const uint16_t *)(intptr_t)q[7];
        if (comp[c].bpm < 1 || comp[c].upr < 1 || comp[c].sbw < 1)
            return -1;
    }

    /* de-stuff: drop the 0x00 after 0xFF, cut RSTn markers out and record
     * their destuffed offsets, stop at any other marker */
    buf = malloc((size_t)n + 4);
    restarts = malloc(sizeof(int64_t) * (size_t)(n / 2 + 1));
    if (!buf || !restarts)
        goto out;
    for (i = 0; i < n; i++) {
        uint8_t b = data[i];
        if (b != 0xFF) {
            buf[dlen++] = b;
            continue;
        }
        if (i + 1 >= n) {
            consumed = i;
            break;
        }
        uint8_t m = data[i + 1];
        if (m == 0x00) {
            buf[dlen++] = 0xFF;
            i++;
        } else if (m >= 0xD0 && m <= 0xD7) {
            restarts[nrestarts++] = dlen;
            i++;
        } else {
            consumed = i;
            break;
        }
    }
    for (int k = 0; k < 4; k++)
        buf[dlen + k] = 0xFF;

    int64_t nwords = dlen + 1, p = 0, next_restart = 0;
    for (int64_t m = 0; m < n_units; m++) {
        if (restart_interval && m && m % restart_interval == 0) {
            if (next_restart >= nrestarts)
                goto out;
            p = restarts[next_restart++] * 8;
            for (int c = 0; c < ncomp; c++)
                pred[c] = 0;
        }
        for (int c = 0; c < ncomp; c++) {
            comp_t *cp = &comp[c];
            for (int64_t bi = 0; bi < cp->bpm; bi++) {
                int64_t by = (m / cp->upr) * (cp->bpm / cp->sbw) + bi / cp->sbw;
                int64_t bx = (m % cp->upr) * cp->sbw + bi % cp->sbw;
                int64_t off = (by * cp->bwf + bx) * 64;
                if (off < 0 || off + 64 > cp->len)
                    goto out;
                int64_t o, t, s, k, v;
                uint32_t w, e;
                /* ---- DC ---- */
                o = p & 7;
                if ((p >> 3) >= nwords)
                    goto out;
                w = WORD(p >> 3);
                e = cp->dc[(w >> (16 - o)) & 0xFFFF];
                if (e == 0)
                    goto out;
                s = e & 0xFF;
                if (s) {
                    if (s > 16)
                        goto out;
                    t = o + (e >> 8) + s;
                    if (t <= 32) {
                        v = (w >> (32 - t)) & ((1u << s) - 1);
                        p += t - o;
                    } else {
                        p += e >> 8;
                        if ((p >> 3) >= nwords)
                            goto out;
                        v = (WORD(p >> 3) >> (32 - (p & 7) - s)) & ((1u << s) - 1);
                        p += s;
                    }
                    if (v < ((int64_t)1 << (s - 1)))
                        v -= ((int64_t)1 << s) - 1;
                    pred[c] += v;
                    if (pred[c] > INT32_MAX || pred[c] < INT32_MIN)
                        goto out;
                } else {
                    p += e >> 8;
                }
                cp->coefs[off] = (int32_t)pred[c];
                /* ---- AC ---- */
                k = 1;
                while (k < 64) {
                    o = p & 7;
                    if ((p >> 3) >= nwords)
                        goto out;
                    w = WORD(p >> 3);
                    e = cp->ac[(w >> (16 - o)) & 0xFFFF];
                    if (e == 0)
                        goto out;
                    uint32_t sym = e & 0xFF;
                    if (sym == 0) {
                        p += e >> 8;
                        break; /* EOB */
                    }
                    s = sym & 15;
                    if (s == 0) {
                        if (sym != 0xF0)
                            goto out;
                        p += e >> 8;
                        k += 16;
                        continue;
                    }
                    k += sym >> 4;
                    if (k > 63)
                        goto out;
                    t = o + (e >> 8) + s;
                    if (t <= 32) {
                        v = (w >> (32 - t)) & ((1u << s) - 1);
                        p += t - o;
                    } else {
                        p += e >> 8;
                        if ((p >> 3) >= nwords)
                            goto out;
                        v = (WORD(p >> 3) >> (32 - (p & 7) - s)) & ((1u << s) - 1);
                        p += s;
                    }
                    if (v < ((int64_t)1 << (s - 1)))
                        v -= ((int64_t)1 << s) - 1;
                    cp->coefs[off + k] = (int32_t)v;
                    k++;
                }
            }
        }
    }
    /* a complete scan ends at or before the last real byte boundary */
    if (((p + 7) >> 3) <= nwords - 1)
        result = consumed;
out:
    free(buf);
    free(restarts);
    return result;
}
