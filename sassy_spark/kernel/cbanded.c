/* Banded bit-parallel global edit distance, one pair at a time.

   The compiled form of myers.banded_edit_distances: the same Peq/Pv/Mv
   word recurrence (G. Myers, JACM 46(3), 1999; H. Hyyro's block
   extension, 2003) under the same moving word window and the same
   64-column prune. The only difference is that each pair's window follows
   its own k instead of the batch maximum, which changes no output: every
   pair reports min(distance, k + 1) either way.

   Symbols are bytes. Callers map wider alphabets onto at most 256
   symbols first. */

#include <stdint.h>
#include <stdlib.h>

static int64_t min64(int64_t a, int64_t b) { return a < b ? a : b; }

/* True when every DP value of the computed window in the current column
   is > k. Walks down from the tracked row, whose value is score, through
   the vertical deltas (pv bit r: D[r+2] - D[r+1] = +1, mv bit r: -1) to
   the row just below word lo. Any full path crosses the column and rows
   outside the window are more than k off the diagonal, so the final
   distance is then > k too. */
static int window_hopeless(const uint64_t *pv, const uint64_t *mv,
                           int64_t lo, int64_t track, int64_t score,
                           int64_t k)
{
    int64_t v = score;
    if (v <= k)
        return 0;
    for (int64_t w = track >> 6; w >= lo; w--) {
        int nb = w == track >> 6 ? (int)(track & 63) + 1 : 64;
        uint64_t mask = nb == 64 ? ~0ULL : (1ULL << nb) - 1;
        uint64_t pw = pv[w] & mask, mw = mv[w] & mask;
        for (int b = nb - 1; b >= 0; b--) {
            v -= (int64_t)((pw >> b) & 1) - (int64_t)((mw >> b) & 1);
            if (v <= k)
                return 0;
        }
    }
    return 1;
}

/* peq: 256 * W zeroed words (W = pattern words), left zeroed on return;
   pv, mv: W words of scratch. */
static int64_t banded_pair(const uint8_t *a, int64_t la,
                           const uint8_t *b, int64_t lb, int64_t k_out,
                           uint64_t *peq, uint64_t *pv, uint64_t *mv)
{
    /* the pattern is the shorter string: fewer words, same distance */
    const uint8_t *p = la <= lb ? a : b, *t = la <= lb ? b : a;
    int64_t m = la <= lb ? la : lb, n = la <= lb ? lb : la;
    if (n - m > k_out)
        return k_out + 1;
    if (m == 0)
        return n;
    /* a window at k >= n already spans every row and column */
    int64_t k = min64(k_out, n);
    int64_t nw = (m + 63) >> 6;
    for (int64_t i = 0; i < m; i++)
        peq[(int64_t)p[i] * nw + (i >> 6)] |= 1ULL << (i & 63);
    for (int64_t w = 0; w < nw; w++) {
        pv[w] = ~0ULL;
        mv[w] = 0;
    }

    int64_t top = m - 1; /* bit row of D[m] */
    int64_t hi = min64(nw - 1, (63 + k) >> 6), lo = 0;
    int64_t track = min64(top, (hi + 1) * 64 - 1);
    int64_t score = track + 1;
    int64_t result = -1;
    for (int64_t jb = 0; jb < n; jb += 64) {
        if (jb > 0) {
            int64_t new_hi = min64(nw - 1, (jb + 63 + k) >> 6);
            if (new_hi > hi) {
                /* virgin words above carry pv = all ones (D grows +1 per
                   row), so the tracked score moves by the row delta */
                hi = new_hi;
                int64_t new_track = min64(top, (hi + 1) * 64 - 1);
                score += new_track - track;
                track = new_track;
            }
            if (jb - k > 0 && ((jb - k) >> 6) > lo)
                lo = (jb - k) >> 6;
        }
        int64_t tw = track >> 6;
        uint64_t tb = 1ULL << (track & 63);
        int64_t je = min64(jb + 64, n);
        for (int64_t j = jb; j < je; j++) {
            const uint64_t *eqc = peq + (int64_t)t[j] * nw;
            uint64_t hin_p = 1, hin_m = 0; /* global: row 0 grows +1 */
            for (int64_t w = lo; w <= hi; w++) {
                uint64_t pvw = pv[w], mvw = mv[w], eq = eqc[w];
                uint64_t xv = eq | mvw;
                eq |= hin_m;
                uint64_t xh = (((eq & pvw) + pvw) ^ pvw) | eq;
                uint64_t ph = mvw | ~(xh | pvw);
                uint64_t mh = pvw & xh;
                if (w == tw)
                    score += ((ph & tb) != 0) - ((mh & tb) != 0);
                uint64_t hout_p = ph >> 63, hout_m = mh >> 63;
                ph = (ph << 1) | hin_p;
                mh = (mh << 1) | hin_m;
                pv[w] = mh | ~(xv | ph);
                mv[w] = ph & xv;
                hin_p = hout_p;
                hin_m = hout_m;
            }
        }
        if (je < n && window_hopeless(pv, mv, lo, track, score, k)) {
            result = k_out + 1;
            break;
        }
    }
    for (int64_t i = 0; i < m; i++)
        peq[(int64_t)p[i] * nw + (i >> 6)] = 0;
    return result >= 0 ? result : min64(score, k_out + 1);
}

/* out[i] = min(levenshtein(a_i, b_i), k[i] + 1) where a_i is
   a[a_off[i] .. a_off[i+1]) and b_i likewise. Returns 0, or -1 when the
   scratch allocation fails. */
int sassy_banded_lev(const uint8_t *a, const int64_t *a_off,
                     const uint8_t *b, const int64_t *b_off,
                     const int64_t *k, int64_t npairs, int64_t *out)
{
    int64_t max_m = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t m = min64(a_off[i + 1] - a_off[i], b_off[i + 1] - b_off[i]);
        if (m > max_m)
            max_m = m;
    }
    int64_t max_w = (max_m + 63) >> 6;
    if (max_w == 0)
        max_w = 1;
    uint64_t *peq = calloc((size_t)(256 * max_w), sizeof(uint64_t));
    uint64_t *pv = malloc((size_t)max_w * sizeof(uint64_t));
    uint64_t *mv = malloc((size_t)max_w * sizeof(uint64_t));
    if (!peq || !pv || !mv) {
        free(peq);
        free(pv);
        free(mv);
        return -1;
    }
    for (int64_t i = 0; i < npairs; i++)
        out[i] = banded_pair(a + a_off[i], a_off[i + 1] - a_off[i],
                             b + b_off[i], b_off[i + 1] - b_off[i], k[i],
                             peq, pv, mv);
    free(peq);
    free(pv);
    free(mv);
    return 0;
}
