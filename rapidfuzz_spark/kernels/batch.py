"""Batch (many-pairs) scoring engine — the Arrow-batch hot path.

This is the Spark analogue of the reference's ``BatchComparator`` one×many
caching (/root/reference/src/distance/levenshtein.rs:1625-1657,
Readme.md:100-106), applied *within* an Arrow batch of a pandas UDF:

- pairs whose pattern fits one machine word (len <= 64) are scored by a
  **NumPy-vectorized Myers/Hyyrö kernel across pairs** (any codepoints —
  alphabets are densely remapped per batch): the char loop runs over text positions, each step processing
  every still-active pair with uint64 SIMD-ish ops. Pairs are sorted by
  text length so the active set is a shrinking prefix (no wasted lanes).
- pairs whose pattern spans W <= _BLOCK_MAX_WORDS words are grouped by W
  and scored by the **blockwise** kernels, which schedule the pattern
  words on anti-diagonals: at step s word w takes text char s - w, with
  the carry word w-1 produced at step s-1, so one set of array ops on
  the (pairs, W) state advances every word of every pair. A chunk takes
  max_t + W - 1 steps (max_t its longest text) instead of max_t * W
  per-(char, word) steps.
- remaining pairs take the arbitrary-precision Python-int kernels with a
  per-batch pattern-mask cache keyed by the pattern string (the
  BatchComparator analogue: pattern state is built once per distinct s1).

No per-row Python UDF dispatch ever happens on the Spark side — one UDF
call scores the whole Arrow batch.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

import numpy as np

from . import damerau as _damerau
from . import jaro as _jaro
from . import osa as _osa
from .common import common_prefix_len, common_suffix_len, pm_vector
from .levenshtein import (
    mbleven_distance as _mbleven,
    myers_distance,
    wagner_fischer_weighted,
)
from .lcs_indel import lcs_length

_POPCNT_TABLE = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint64)


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    x = np.ascontiguousarray(x)
    return _POPCNT_TABLE[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1)


def _encode_codes(strings) -> tuple:
    """Concatenate Unicode codepoints (latin-1 bytes when possible, else
    UTF-32 words — latin-1 code == codepoint, so the domains agree)."""
    blob = "".join(strings)
    try:
        codes = np.frombuffer(blob.encode("latin-1"), dtype=np.uint8).astype(
            np.intp
        )
    except UnicodeEncodeError:
        codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32).astype(
            np.intp
        )
    lens = np.fromiter((len(s) for s in strings), dtype=np.intp, count=len(strings))
    offs = np.zeros(len(strings) + 1, dtype=np.intp)
    np.cumsum(lens, out=offs[1:])
    return codes, lens, offs


def _compact_alphabet(pcodes: np.ndarray, tcodes: np.ndarray):
    """Remap codepoints to a dense alphabet of the PATTERN characters
    (slot 0 = 'not in any pattern', PM row 0 stays zero). PM tables shrink
    to |alphabet|+1 columns, keeping the per-batch gather tables
    cache-resident — the multi-process scaling bottleneck is the random
    PM gather, not compute. Latin-1 batches use a 256-entry lookup table;
    arbitrary codepoints (CJK/Cyrillic/emoji) go through a sorted-unique
    binary search — the NumPy analogue of the reference's growing hashmap
    (/root/reference/src/details/growing_hashmap.rs:99-165)."""
    uniq = np.unique(pcodes)
    nu = len(uniq)
    if (nu == 0 or uniq[-1] < 256) and (tcodes.size == 0 or tcodes.max() < 256):
        remap = np.zeros(256, dtype=np.intp)
        remap[uniq] = np.arange(1, nu + 1, dtype=np.intp)
        return remap[pcodes], remap[tcodes], nu + 1
    p_new = np.searchsorted(uniq, pcodes) + 1
    idx = np.searchsorted(uniq, tcodes)
    idx_c = np.minimum(idx, max(nu - 1, 0))
    t_new = np.where(
        (idx < nu) & (uniq[idx_c] == tcodes) if nu else np.zeros(len(tcodes), bool),
        idx_c + 1,
        0,
    )
    return p_new, t_new, nu + 1


def _build_pm_word(pats: list, codes, lens, offs, sigma: int = 256) -> np.ndarray:
    """PM bitmask table, shape (n, sigma) uint64, for patterns of len <= 64."""
    n = len(pats)
    pm = np.zeros((n, sigma), dtype=np.uint64)
    rows = np.repeat(np.arange(n, dtype=np.intp), lens)
    pos = np.arange(len(codes), dtype=np.int64) - np.repeat(offs[:-1], lens)
    bits = (np.uint64(1) << pos.astype(np.uint64))
    np.bitwise_or.at(pm, (rows, codes), bits)
    return pm


def _word_masks(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    mask = np.array([(1 << int(m)) - 1 for m in lens], dtype=np.uint64)
    last = (np.uint64(1) << (lens.astype(np.uint64) - np.uint64(1)))
    return mask, last


def myers_batch_word(pats: list, texts: list) -> np.ndarray:
    """Vectorized-across-pairs Myers for patterns with len in [1, 64].

    Returns int64 distances. Any Unicode codepoints; texts non-empty
    (callers handle the trivial cases).
    """
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    # sort by text length desc -> active pairs are a prefix at every step
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    pm = _build_pm_word(pats, pcodes, plens, poffs, sigma)[order]
    plens_s = plens[order]
    tlens_s = tlens[order]
    toffs_s = toffs[:-1][order]
    mask, last = _word_masks(plens_s)
    one = np.uint64(1)
    vp = mask.copy()
    vn = np.zeros(n, dtype=np.uint64)
    dist = plens_s.astype(np.int64).copy()
    max_t = int(tlens_s[0]) if n else 0
    active = n
    rows = np.arange(n, dtype=np.intp)
    for j in range(max_t):
        # shrink the active prefix
        while active > 0 and tlens_s[active - 1] <= j:
            active -= 1
        a = slice(0, active)
        cj = tcodes[toffs_s[a] + j]
        pm_j = pm[rows[a], cj]
        x = pm_j | vn[a]
        d0 = (((x & vp[a]) + vp[a]) ^ vp[a]) | x
        hp = vn[a] | ~(d0 | vp[a])
        hn = d0 & vp[a]
        dist[a] += ((hp & last[a]) != 0).astype(np.int64)
        dist[a] -= ((hn & last[a]) != 0).astype(np.int64)
        hp = ((hp << one) | one) & mask[a]
        hn = (hn << one) & mask[a]
        vp[a] = hn | (~(d0 | hp) & mask[a])
        vn[a] = hp & d0
    return dist[inv]


def lcs_batch_word(pats: list, texts: list) -> np.ndarray:
    """Vectorized-across-pairs Hyyrö LCS length for patterns len in [1, 64]."""
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    pm = _build_pm_word(pats, pcodes, plens, poffs, sigma)[order]
    plens_s = plens[order]
    tlens_s = tlens[order]
    toffs_s = toffs[:-1][order]
    mask, _ = _word_masks(plens_s)
    s = mask.copy()
    max_t = int(tlens_s[0]) if n else 0
    active = n
    rows = np.arange(n, dtype=np.intp)
    for j in range(max_t):
        while active > 0 and tlens_s[active - 1] <= j:
            active -= 1
        a = slice(0, active)
        m = pm[rows[a], tcodes[toffs_s[a] + j]]
        u = s[a] & m
        s[a] = ((s[a] + u) & mask[a]) | (s[a] - u)
    return plens_s[inv].astype(np.int64) - _popcount_u64(s[inv]).astype(np.int64)


def _build_pm_block(
    pats: list, codes, lens, offs, W: int, sigma: int = 256
) -> np.ndarray:
    """PM bitmask table, shape (n, W, sigma) uint64, patterns len <= 64*W."""
    n = len(pats)
    pm = np.zeros((n, W, sigma), dtype=np.uint64)
    rows = np.repeat(np.arange(n, dtype=np.intp), lens)
    pos = np.arange(len(codes), dtype=np.int64) - np.repeat(offs[:-1], lens)
    word = (pos >> 6).astype(np.intp)
    bits = np.uint64(1) << (pos & 63).astype(np.uint64)
    np.bitwise_or.at(pm, (rows, word, codes), bits)
    return pm


# Cells (pairs x padded text columns) of one step-scheduled kernel call's
# text matrix; a chunk with a far longer text than the rest runs in row
# slices instead of padding every row to that text's length.
_STEP_TEXT_CELLS = 1 << 24


def _text_budgeted(kernel):
    """Run a step-scheduled block kernel on slices of its pairs, longest
    texts first, so that no call's padded text matrix exceeds
    _STEP_TEXT_CELLS. Pairs are scored independently, so the split does
    not change results."""

    @functools.wraps(kernel)
    def run(pats: list, texts: list, W: int, **kw) -> np.ndarray:
        n = len(texts)
        tl = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
        if n <= 1 or n * (int(tl.max()) + 2 * W) <= _STEP_TEXT_CELLS:
            return kernel(pats, texts, W, **kw)
        order = np.argsort(-tl, kind="stable")
        parts = []
        lo = 0
        while lo < n:
            rows = max(1, _STEP_TEXT_CELLS // (int(tl[order[lo]]) + 2 * W))
            sel = order[lo : lo + rows]
            parts.append(
                (sel, kernel([pats[i] for i in sel], [texts[i] for i in sel], W, **kw))
            )
            lo += rows
        out = np.empty(n, dtype=parts[0][1].dtype)
        for sel, res in parts:
            out[sel] = res
        return out

    return run


class _StepInputs(NamedTuple):
    """Inputs of a step-scheduled block kernel, rows sorted by text length
    (longest first, so the rows still running form a prefix)."""

    order: np.ndarray  # sorted row -> input pair
    inv: np.ndarray  # input pair -> sorted row
    pm: np.ndarray  # flat PM table, (row, word, code) row-major
    base: np.ndarray  # (n, W) offset of each (row, word) PM row in pm
    text: np.ndarray  # (n, max_t + 2W) padded text codes
    plens: np.ndarray
    tlens: np.ndarray
    pcodes: np.ndarray  # compact pattern codes, input order
    poffs: np.ndarray  # per sorted row: offset of its pattern in pcodes


def _step_inputs(pats: list, texts: list, W: int) -> _StepInputs:
    """Build the step-scheduled kernels' inputs once per call. The text
    matrix carries W columns of pad code 0 (the all-zero PM row) on both
    sides: at step s word w reads char s - w from column s - w + W, so
    all W words read the reversed column slice [s + 1, s + W + 1)."""
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    pm = _build_pm_block(pats, pcodes, plens, poffs, W, sigma)[order].ravel()
    base = np.arange(n * W, dtype=np.intp).reshape(n, W) * sigma
    tl = tlens[order]
    max_t = int(tl[0]) if n else 0
    dt = np.uint8 if sigma <= 256 else np.uint16 if sigma <= 65536 else np.int32
    text = np.zeros((n, max_t + 2 * W), dtype=dt)
    cols = np.arange(len(tcodes), dtype=np.intp) - np.repeat(toffs[:-1], tlens) + W
    text[np.repeat(inv, tlens), cols] = tcodes
    return _StepInputs(
        order, inv, pm, base, text, plens[order], tl, pcodes, poffs[:-1][order]
    )


@_text_budgeted
def myers_batch_block(pats: list, texts: list, W: int) -> np.ndarray:
    """Vectorized-across-pairs blockwise Myers/Hyyrö for patterns of
    word count exactly W (len in (64*(W-1), 64*W]; ValueError otherwise).
    Semantics follow the reference's hyrroe2003_block (its
    src/distance/levenshtein.rs:769-1019) minus the Ukkonen band: the
    hp/hn horizontal carries chain low->high word, and per text char the
    distance moves by the carry out of the pattern's last bit. Any
    Unicode codepoints.

    Words run on anti-diagonals: at step s word w takes text char s - w
    with the carries word w-1 produced at step s-1, so one set of array
    ops on the (pairs, W) state advances every word of every pair. Words
    before their first char read pad code 0 with zero carries and stay
    at their initial state; words past the text's end are never read
    back, and a row leaves the running prefix once its last word is past
    the end, so the score needs no mask."""
    inp = _step_inputs(pats, texts, W)
    n = len(pats)
    if n and ((inp.plens - 1) >> 6 != W - 1).any():
        raise ValueError("myers_batch_block: every pattern must span exactly W words")
    one = np.uint64(1)
    s63 = np.uint64(63)
    score_bit = ((inp.plens - 1) & 63).astype(np.uint64)
    vp = np.full((n, W), ~np.uint64(0), dtype=np.uint64)
    vn = np.zeros((n, W), dtype=np.uint64)
    # carries as flat (n*W + 1) buffers: carry into (row, word) sits at
    # row*W + word, so the carries out of a step, written one slot
    # further, are the next step's carries in; the slots of word 0 are
    # then reset to the left DP boundary (+1 per row)
    hp_c = np.zeros(n * W + 1, dtype=np.uint64)
    hp_c[: n * W : W] = one
    hn_c = np.zeros(n * W + 1, dtype=np.uint64)
    hp_next, hn_next = hp_c.copy(), hn_c.copy()
    dist = inp.plens.astype(np.int64)
    tl = inp.tlens
    active = n
    for s in range(int(tl[0]) + W - 1 if n else 0):
        while active > 0 and tl[active - 1] <= s - W + 1:
            active -= 1
        aw = active * W
        vp_a = vp[:active]
        vn_a = vn[:active]
        hp_in = hp_c[:aw].reshape(active, W)
        hn_in = hn_c[:aw].reshape(active, W)
        x = inp.pm.take(inp.base[:active] + inp.text[:active, s + W : s : -1])
        x |= hn_in
        d0 = x & vp_a
        d0 += vp_a
        d0 ^= vp_a
        d0 |= x
        d0 |= vn_a
        hp = vn_a | ~(d0 | vp_a)
        hn = d0 & vp_a
        sb = score_bit[:active]
        dist[:active] += ((hp[:, -1] >> sb) & one).astype(np.int64)
        dist[:active] -= ((hn[:, -1] >> sb) & one).astype(np.int64)
        np.right_shift(hp, s63, out=hp_next[1 : aw + 1].reshape(active, W))
        np.right_shift(hn, s63, out=hn_next[1 : aw + 1].reshape(active, W))
        hp_next[:aw:W] = one
        hn_next[:aw:W] = 0
        hp <<= one
        hp |= hp_in
        hn <<= one
        hn |= hn_in
        np.bitwise_or(hn, ~(d0 | hp), out=vp_a)
        np.bitwise_and(hp, d0, out=vn_a)
        hp_c, hp_next = hp_next, hp_c
        hn_c, hn_next = hn_next, hn_c
    return dist[inp.inv]


_BAND_SENTINEL = np.int64(1) << 40  # "> any cutoff" result marker


def myers_batch_block_banded(
    pats: list, texts: list, W: int, ks: np.ndarray
) -> np.ndarray:
    """Blockwise Myers with the reference's Ukkonen band maintenance
    (/root/reference/src/distance/levenshtein.rs:769-1019): per pair only
    the words whose cells can still lie on a <= k path are advanced. The
    band's first word moves up monotonically; the last word shrinks and
    regrows with explicit re-initialization (vp=~0, score from the word
    below), and the cutoff tightens per row from the remaining-diagonal
    bound (the reference's score-hint logic).

    Cross-pair vectorized: the word loop runs over the union band of the
    chunk with per-pair membership masks. ``ks`` is the per-pair distance
    cutoff; pairs whose distance exceeds it return ``_BAND_SENTINEL``
    (callers only compare against the cutoff). Patterns must be <= texts
    in length (caller convention).
    """
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    pm = _build_pm_block(pats, pcodes, plens, poffs, W, sigma)[order]
    pl = plens[order].astype(np.int64)
    tl = tlens[order].astype(np.int64)
    toffs_s = toffs[:-1][order]
    k = np.minimum(ks[order].astype(np.int64), np.maximum(pl, tl))
    last = np.uint64(1) << ((pl.astype(np.uint64) - np.uint64(1)) % np.uint64(64))
    last_w = ((pl - 1) >> 6).astype(np.intp)
    one = np.uint64(1)
    u0 = np.uint64(0)
    vp = np.full((n, W), ~u0, dtype=np.uint64)
    vn = np.zeros((n, W), dtype=np.uint64)
    # score at the last row of each word, column 0 state: D(i, 0) = i
    scores = np.minimum(
        (np.arange(1, W + 1, dtype=np.int64) * 64)[None, :], pl[:, None]
    )
    alive = k >= np.abs(pl - tl)
    dist = np.full(n, _BAND_SENTINEL, dtype=np.int64)
    fb = np.zeros(n, dtype=np.int64)
    lb = np.minimum(
        last_w.astype(np.int64),
        (np.minimum(k, (k + pl - tl) // 2) + 1 + 63) // 64 - 1,
    )
    lb = np.maximum(lb, 0)
    alive &= lb >= fb
    rows = np.arange(n, dtype=np.intp)
    max_t = int(tl[0]) if n else 0
    active = n
    for j in range(max_t):
        while active > 0 and tl[active - 1] <= j:
            active -= 1
        a = slice(0, active)
        r = rows[a]
        live = alive[a]
        if not live.any():
            break
        cj = tcodes[toffs_s[a] + j]
        w_lo = int(fb[a][live].min())
        w_hi = int(lb[a][live].max())
        hp_c = np.ones(active, dtype=np.uint64)
        hn_c = np.zeros(active, dtype=np.uint64)
        # carries out of each pair's own last-band word (feed lb extension)
        lb_hp = np.zeros(active, dtype=np.uint64)
        lb_hn = np.zeros(active, dtype=np.uint64)
        for w in range(w_lo, w_hi + 1):
            m = live & (fb[a] <= w) & (w <= lb[a])
            if not m.any():
                continue
            # left DP boundary (+1 per row) enters at each pair's first word
            at_fb = m & (fb[a] == w)
            hp_c = np.where(at_fb, one, hp_c)
            hn_c = np.where(at_fb, u0, hn_c)
            vp_w = vp[r, w]
            vn_w = vn[r, w]
            pm_j = pm[r, w, cj]
            x = pm_j | hn_c
            d0 = (((x & vp_w) + vp_w) ^ vp_w) | x | vn_w
            hp = vn_w | ~(d0 | vp_w)
            hn = d0 & vp_w
            is_last = last_w[a] == w
            hp_out = np.where(is_last, (hp & last[a]) != 0, hp >> np.uint64(63))
            hn_out = np.where(is_last, (hn & last[a]) != 0, hn >> np.uint64(63))
            hp_out = hp_out.astype(np.uint64)
            hn_out = hn_out.astype(np.uint64)
            scores[r, w] = np.where(
                m,
                scores[r, w] + hp_out.astype(np.int64) - hn_out.astype(np.int64),
                scores[r, w],
            )
            hps = (hp << one) | hp_c
            hns = (hn << one) | hn_c
            vp[r, w] = np.where(m, hns | ~(d0 | hps), vp_w)
            vn[r, w] = np.where(m, hps & d0, vn_w)
            at_lb = m & (lb[a] == w)
            lb_hp = np.where(at_lb, hp_out, lb_hp)
            lb_hn = np.where(at_lb, hn_out, lb_hn)
            hp_c = np.where(m, hp_out, hp_c)
            hn_c = np.where(m, hn_out, hn_c)
        lbi = np.minimum(lb[a], last_w[a]).astype(np.intp)
        s_lb = scores[r, lbi]
        # tighten the cutoff: best still-achievable final score from here
        k_a = np.minimum(
            k[a],
            s_lb
            + np.maximum(tl[a] - j - 1, pl[a] - ((1 + lb[a]) * 64 - 1) - 1),
        )
        k[a] = np.where(live, k_a, k[a])
        row_num = np.minimum((lb[a] + 1) * 64, pl[a]) - 1
        # regrow the band's last word where the edge re-enters it
        ext = (
            live
            & (lb[a] < last_w[a])
            & (row_num <= k[a] + 128 + j + pl[a] - s_lb - 2 - tl[a])
        )
        if ext.any():
            nlb = (lb[a] + 1).astype(np.intp)
            er = r[ext]
            en = nlb[ext]
            vp[er, en] = ~u0
            vn[er, en] = u0
            chars = np.where(
                en == last_w[a][ext], (pl[a][ext] - 1) % 64 + 1, 64
            ).astype(np.int64)
            carry_in_p = lb_hp[ext]
            carry_in_n = lb_hn[ext]
            base = (
                scores[er, lb[a][ext].astype(np.intp)]
                + chars
                - carry_in_p.astype(np.int64)
                + carry_in_n.astype(np.int64)
            )
            # advance the re-entered word once for this column
            vp_w = vp[er, en]
            vn_w = vn[er, en]
            pm_j = pm[er, en, cj[ext]]
            x = pm_j | carry_in_n
            d0 = (((x & vp_w) + vp_w) ^ vp_w) | x | vn_w
            hp = vn_w | ~(d0 | vp_w)
            hn = d0 & vp_w
            is_last = last_w[a][ext] == en
            hp_out = np.where(
                is_last, (hp & last[a][ext]) != 0, hp >> np.uint64(63)
            ).astype(np.uint64)
            hn_out = np.where(
                is_last, (hn & last[a][ext]) != 0, hn >> np.uint64(63)
            ).astype(np.uint64)
            scores[er, en] = (
                base + hp_out.astype(np.int64) - hn_out.astype(np.int64)
            )
            hps = (hp << one) | carry_in_p
            hns = (hn << one) | carry_in_n
            vp[er, en] = hns | ~(d0 | hps)
            vn[er, en] = hps & d0
            lb[a] = np.where(ext, lb[a] + 1, lb[a])
        # shrink last word while its cells are provably outside the band
        while True:
            lbi = np.maximum(np.minimum(lb[a], last_w[a]), 0).astype(np.intp)
            s_lb = scores[r, lbi]
            row_num = np.minimum((lb[a] + 1) * 64, pl[a]) - 1
            in1 = s_lb < k[a] + 64
            in2 = row_num <= k[a] + 128 + j + pl[a] + 1 - s_lb - 2 - tl[a]
            shrink = live & (lb[a] >= fb[a]) & ~(in1 & in2)
            if not shrink.any():
                break
            lb[a] = np.where(shrink, lb[a] - 1, lb[a])
        # advance first word while its cells are provably outside the band
        while True:
            fbi = np.minimum(fb[a], last_w[a]).astype(np.intp)
            s_fb = scores[r, fbi]
            row_num = np.minimum((fb[a] + 1) * 64, pl[a]) - 1
            in1 = s_fb < k[a] + 64
            in2 = row_num >= s_fb + pl[a] + j - k[a] - tl[a]
            adv = live & (fb[a] <= lb[a]) & ~(in1 & in2)
            if not adv.any():
                break
            fb[a] = np.where(adv, fb[a] + 1, fb[a])
        dead = live & (lb[a] < fb[a])
        if dead.any():
            alive[a] = np.where(dead, False, alive[a])
    ok = alive & (fb <= last_w) & (last_w <= lb)
    dist[ok] = scores[rows[ok], last_w[ok]]
    dist = np.where(ok & (dist <= np.minimum(ks[order], np.maximum(pl, tl))),
                    dist, _BAND_SENTINEL)
    return dist[inv]


@_text_budgeted
def lcs_batch_block(pats: list, texts: list, W: int) -> np.ndarray:
    """Vectorized-across-pairs blockwise Hyyrö LCS for patterns of word
    count W (reference lcs_blockwise semantics, lcs_seq.rs:267-341, no
    band): S-vector per word with an emulated add-with-carry chain;
    LCS = popcount of ~S. Words run on anti-diagonals as in
    myers_batch_block; a word reading pad code 0 with a zero carry in
    keeps its state and carries out zero, so steps outside a pair's text
    are no-ops."""
    inp = _step_inputs(pats, texts, W)
    n = len(pats)
    s = np.full((n, W), ~np.uint64(0), dtype=np.uint64)
    # flat carry buffers as in myers_batch_block; word 0's slots stay
    # zero (no carry into the lowest word)
    carry = np.zeros(n * W + 1, dtype=bool)
    carry_next = carry.copy()
    tl = inp.tlens
    active = n
    for step in range(int(tl[0]) + W - 1 if n else 0):
        while active > 0 and tl[active - 1] <= step - W + 1:
            active -= 1
        aw = active * W
        s_a = s[:active]
        u = inp.pm.take(inp.base[:active] + inp.text[:active, step + W : step : -1])
        u &= s_a
        t1 = s_a + u
        x = t1 + carry[:aw].reshape(active, W)
        np.logical_or(t1 < s_a, x < t1, out=carry_next[1 : aw + 1].reshape(active, W))
        carry_next[:aw:W] = False
        s_a -= u
        s_a |= x
        carry, carry_next = carry_next, carry
    sim = _popcount_u64((~s).ravel()).reshape(n, W).sum(axis=1).astype(np.int64)
    return sim[inp.inv]


def osa_batch_block(pats: list, texts: list, W: int) -> np.ndarray:
    """Vectorized-across-pairs blockwise OSA (Hyyrö bit-parallel with
    transposition carry; semantics per /root/reference/src/distance/
    osa.rs:156-227). Per-word state adds the previous char's d0 and pm;
    the transposition mask pulls bit 63 of the word below for both."""
    n = len(pats)
    pcodes, plens, poffs = _encode_codes(pats)
    tcodes, tlens, toffs = _encode_codes(texts)
    pcodes, tcodes, sigma = _compact_alphabet(pcodes, tcodes)
    order = np.argsort(-tlens, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    pm = _build_pm_block(pats, pcodes, plens, poffs, W, sigma)[order]
    plens_s = plens[order]
    tlens_s = tlens[order]
    toffs_s = toffs[:-1][order]
    last = np.uint64(1) << ((plens_s.astype(np.uint64) - np.uint64(1)) % np.uint64(64))
    one = np.uint64(1)
    s63 = np.uint64(63)
    vp = np.full((n, W), ~np.uint64(0), dtype=np.uint64)
    vn = np.zeros((n, W), dtype=np.uint64)
    d0s = np.zeros((n, W), dtype=np.uint64)  # previous char's d0 per word
    pms = np.zeros((n, W), dtype=np.uint64)  # previous char's pm per word
    dist = plens_s.astype(np.int64).copy()
    max_t = int(tlens_s[0]) if n else 0
    active = n
    rows = np.arange(n, dtype=np.intp)
    for j in range(max_t):
        while active > 0 and tlens_s[active - 1] <= j:
            active -= 1
        a = slice(0, active)
        cj = tcodes[toffs_s[a] + j]
        hp_c = np.ones(active, dtype=np.uint64)
        hn_c = np.zeros(active, dtype=np.uint64)
        d0_old_below = np.zeros(active, dtype=np.uint64)
        pm_cur_below = np.zeros(active, dtype=np.uint64)
        for w in range(W):
            vp_w = vp[a, w]
            vn_w = vn[a, w]
            # .copy(): d0s[a, w] is a view — d0_old survives as this
            # word's previous-char d0 for the word above's tr term even
            # after d0s[a, w] is overwritten below
            d0_old = d0s[a, w].copy()
            pm_old = pms[a, w]
            pm_j = pm[rows[:active], w, cj]
            tr = (
                (((~d0_old) & pm_j) << one)
                | (((~d0_old_below) & pm_cur_below) >> s63)
            ) & pm_old
            x = pm_j | hn_c
            d0 = (((x & vp_w) + vp_w) ^ vp_w) | x | vn_w | tr
            hp = vn_w | ~(d0 | vp_w)
            hn = d0 & vp_w
            if w == W - 1:
                dist[a] += ((hp & last[a]) != 0).astype(np.int64)
                dist[a] -= ((hn & last[a]) != 0).astype(np.int64)
            hp_c_new = hp >> s63
            hn_c_new = hn >> s63
            hp = (hp << one) | hp_c
            hn = (hn << one) | hn_c
            vp[a, w] = hn | ~(d0 | hp)
            vn[a, w] = hp & d0
            d0_old_below = d0_old
            pm_cur_below = pm_j
            d0s[a, w] = d0
            pms[a, w] = pm_j
            hp_c, hn_c = hp_c_new, hn_c_new
    return dist[inv]


# _LOW[b]: the b low bits set, b in [0, 64]
_LOW = np.array([(1 << b) - 1 for b in range(65)], dtype=np.uint64)


@_text_budgeted
def jaro_batch_block(pats: list, texts: list, W: int, k=None) -> np.ndarray:
    """Vectorized-across-pairs Jaro similarity (pattern <= 64*W chars,
    any codepoints). Two phases mirroring the reference's bit-parallel flagging
    (/root/reference/src/distance/jaro.rs:147-190,286-420):

    1. per text char, flag the lowest unflagged PM bit inside the
       match window [j-bound, j+bound], searching the pattern's words low
       to high, and record whether the char matched;
    2. walk flagged pattern bits in order against the matched text chars
       to count transpositions.

    Phase 1 runs words on anti-diagonals as in myers_batch_block: at
    step s word w takes char s - w, and the carry from word w-1 says
    whether a lower word already matched that char. Pad code 0 (no PM
    bits) makes steps outside a pair's text no-ops. The last word lags
    W - 1 chars behind word 0, so after step s the chars up to s - W + 1
    are resolved.

    ``k``: optional similarity cutoff (scalar float, shared across the
    chunk) — the reference's in-kernel phase-2 early exit
    (jaro.rs:300-320 common-character bound): every 32 resolved text
    chars, pairs whose best still-achievable similarity (m_max = matches
    so far + the smaller of unresolved text chars / unmatched pattern
    chars; third Jaro term bounded by 1) falls below ``k`` are dropped
    from the scan and return the -1.0 sentinel (callers only compare
    against the cutoff). The batch compacts when enough pairs die, so
    survivors keep full vector width.
    """
    inp = _step_inputs(pats, texts, W)
    n = len(pats)
    orig = inp.order.copy()  # current row -> original batch row
    base, text = inp.base, inp.text
    plens_s = inp.plens.astype(np.int64)
    tlens_s = inp.tlens.astype(np.int64)
    poffs_s = inp.poffs
    bound = np.maximum(np.maximum(plens_s, tlens_s) // 2 - 1, 0)
    steps = int(tlens_s[0]) + W - 1 if n else 0
    # at step s word w's window covers its local bits [s + lo_off,
    # s + hi_off) (char j = s - w, window [j - bound, j + bound], word
    # offset 64w); low_bits[x - lo_min] is _LOW at x clipped to [0, 64],
    # so each bound's mask is one take
    w65 = 65 * np.arange(W, dtype=np.int64)
    lo_off = -bound[:, None] - w65
    hi_off = bound[:, None] + 1 - w65
    lo_min = int(lo_off.min()) if n else 0
    hi_max = int(hi_off.max()) + steps if n else 0
    low_bits = _LOW[np.clip(np.arange(lo_min, hi_max + 1), 0, 64)]
    high_bits = ~low_bits
    lo_off -= lo_min
    hi_off -= lo_min
    one = np.uint64(1)
    unflagged = np.full((n, W), ~np.uint64(0), dtype=np.uint64)
    # carry into word w is column w: did a lower word match the char?
    taken = np.zeros((n, W + 1), dtype=bool)
    taken_next = taken.copy()
    # hits[:, s]: did the char the last word resolved at step s match
    hits = np.zeros((n, steps), dtype=bool)
    max_m = int(plens_s.max()) if n else 0
    active = n
    for s in range(steps):
        while active > 0 and tlens_s[active - 1] <= s - W + 1:
            active -= 1
        if active == 0:
            break
        cand = inp.pm.take(base[:active] + text[:active, s + W : s : -1])
        cand &= low_bits.take(hi_off[:active] + s)
        cand &= high_bits.take(lo_off[:active] + s)
        cand &= unflagged[:active]
        t_in = taken[:active, :W]
        low = cand & (~cand + one)
        low[t_in] = 0
        unflagged[:active] ^= low
        np.logical_or(t_in, cand != 0, out=taken_next[:active, 1:])
        hits[:active, s] = taken_next[:active, W]
        taken, taken_next = taken_next, taken
        j = s - W + 1  # last resolved char
        if k is not None and j >= 0 and (j & 31) == 31:
            # best-achievable bound: each unresolved text char adds at
            # most one match, total matches <= pattern length, third
            # term <= 1
            a = slice(0, active)
            cnt = np.count_nonzero(hits[a, : s + 1], axis=1)
            rem = tlens_s[a] - (j + 1)
            m_max = cnt + np.minimum(plens_s[a] - cnt, rem)
            ub = (m_max / plens_s[a] + m_max / tlens_s[a] + 1.0) / 3.0
            dead = ub < k - 1e-9
            ndead = int(dead.sum())
            # compact only when enough died to repay the gather cost
            if ndead and (ndead >= 64 or ndead * 4 >= active):
                keep = np.ones(len(orig), dtype=bool)
                keep[:active][dead] = False
                orig = orig[keep]
                base = base[keep]
                text = text[keep]
                hits = hits[keep]
                unflagged = unflagged[keep]
                taken = taken[keep]
                taken_next = taken_next[keep]
                lo_off = lo_off[keep]
                hi_off = hi_off[keep]
                plens_s = plens_s[keep]
                tlens_s = tlens_s[keep]
                poffs_s = poffs_s[keep]
                active -= ndead
    # phase 2: transpositions, fully vectorized — np.nonzero yields the
    # flagged pattern bits and the matched text chars in row-major order,
    # i.e. in order per pair, and each match flagged exactly one bit
    cur_n = len(orig)
    cnt = np.count_nonzero(hits, axis=1)
    t_cnt = np.zeros(cur_n, dtype=np.int64)
    if max_m and cur_n:
        bits = np.unpackbits(
            (~unflagged).view(np.uint8), axis=1, bitorder="little"
        )[:, :max_m]
        ri, ci = np.nonzero(bits)
        hr, hc = np.nonzero(hits)
        ch1 = inp.pcodes[poffs_s[ri] + ci]
        ch2 = text[hr, hc + 1]  # step hc resolved char hc - W + 1
        t_cnt = np.bincount(ri[ch1 != ch2], minlength=cur_n)
    m = cnt.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(
            cnt > 0,
            (
                m / plens_s
                + m / tlens_s
                + (m - (t_cnt // 2)) / np.where(cnt > 0, m, 1.0)
            )
            / 3.0,
            0.0,
        )
    result = np.full(n, -1.0, dtype=np.float64)
    result[orig] = sim
    return result


def _pad_codes(strs: list, sentinel: int) -> tuple[np.ndarray, np.ndarray]:
    """(codes padded to max len with sentinel, lengths) as uint32/int64.
    One joined blob + one encode per batch (UTF-32 is context-free, so
    encode(join) == concat(encodes)) — the per-string encode loop this
    replaces was ~45% of jaro_winkler_batch wall on short-name batches."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    L = int(lens.max()) if n else 0
    out = np.full((n, L), sentinel, dtype=np.uint32)
    if L:
        codes = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        rows = np.repeat(np.arange(n, dtype=np.intp), lens)
        cols = np.arange(len(codes), dtype=np.intp) - np.repeat(offs, lens)
        out[rows, cols] = codes
    return out, lens


def damerau_batch_np(pats: list, texts: list, k=None) -> np.ndarray:
    """Unrestricted Damerau-Levenshtein, vectorized across pairs AND
    columns (Lowrance-Wagner with per-(pair, col) last-match tracking;
    same recurrence as damerau.damerau_distance_np, which is the tested
    per-pair oracle). Keeps the full DP cube per chunk for the
    transposition gather — callers chunk to bound memory.

    ``k``: optional shared distance cutoff for the chunk. Restricts each
    row to the |i-j| <= k diagonal band (the reference's cutoff banding,
    damerau_levenshtein.rs:111-168): any path leaving the band — including
    Lowrance-Wagner transposition jumps bridging it — provably costs > k,
    so in-band results <= k stay exact; pairs above k return some value
    > k (band-edge inf contamination), which callers only compare against
    the cutoff."""
    n = len(pats)
    A, las = _pad_codes(pats, 0xFFFFFFFE)
    B, lbs = _pad_codes(texts, 0xFFFFFFFF)
    order = np.argsort(-las, kind="stable")
    inv = np.empty(n, dtype=np.intp)
    inv[order] = np.arange(n, dtype=np.intp)
    A, B = A[order], B[order]
    las_s, lbs_s = las[order], lbs[order]
    L1, L2 = A.shape[1], B.shape[1]
    # int16 cube while the transposition term inf + i + j is provably
    # < 2^15 (i.e. 2*(L1+L2) small enough); int32 beyond — memory is
    # chunk-bounded by the caller either way
    dt = np.int16 if L1 + L2 <= 16000 else np.int32
    inf = dt(L1 + L2 + 1)
    band = k is not None and 2 * int(k) + 2 < L2
    K = int(k) if band else L2
    m = np.full((n, L1 + 2, L2 + 2), inf, dtype=dt)
    m[:, 1, 1:] = np.arange(L2 + 1, dtype=dt)
    m[:, 1:, 1] = np.arange(L1 + 1, dtype=dt)
    j_idx = np.arange(1, L2 + 1, dtype=dt)
    lastA_row = np.zeros((n, L2), dtype=np.int64)  # last i with A[i-1]==B[j]
    rows = np.arange(n, dtype=np.intp)
    active = n
    for i in range(1, L1 + 1):
        while active > 0 and las_s[active - 1] < i:
            active -= 1
        a = slice(0, active)
        r = rows[:active]
        lo = max(1, i - K)
        hi = min(L2, i + K)
        sl = slice(lo - 1, hi)
        jb = j_idx[sl]
        eq = B[a, sl] == A[a, i - 1 : i]
        cost = (~eq).astype(dt)
        match_pos = np.where(eq, jb, 0)
        run = np.maximum.accumulate(match_pos, axis=1)
        l_vec = np.zeros((active, hi - lo + 1), dtype=np.int64)
        l_vec[:, 1:] = run[:, :-1]
        k_vec = lastA_row[:active, sl]
        prev = m[a, i]
        diag = prev[:, lo : hi + 1] + cost
        up = prev[:, lo + 1 : hi + 2] + 1
        trans = (
            m[r[:, None], k_vec, l_vec]
            + (i - k_vec - 1).astype(dt)
            + 1
            + (jb[None, :] - l_vec - 1).astype(dt)
        )
        cand = np.minimum(np.minimum(diag, up), trans)
        t = np.minimum.accumulate(
            np.minimum(cand - jb[None, :], dt(i)), axis=1
        )
        m[a, i + 1, lo + 1 : hi + 2] = np.minimum(cand, t + jb[None, :])
        lastA_row[:active, sl] = np.where(eq, i, lastA_row[:active, sl])
    out = m[rows, las_s + 1, lbs_s + 1].astype(np.int64)
    return out[inv]


_DL_CUBE_BUDGET = 24 * 1024 * 1024  # bytes; int16 cube sized to stay near L3

# Vectorized blockwise path up to 64*_BLOCK_MAX_WORDS-char patterns;
# ABOVE the cap, pairs route to the per-pair CPython big-int Myers
# kernel BY MEASUREMENT, not as a concession: a W-word big-int op is one
# interpreter op dispatching an O(W) C limb loop, so the big-int kernel
# spends O(1) interpreter ops per text char while the cross-pair numpy
# kernel spends O(W) array ops per char. Measured crossover (BENCH.md
# §12, 5%-mutated random text, best-of-2/3): block/big-int wall ratio
# 0.44x at W=8, ~parity W=16-24 (0.92-1.06), then the numpy path LOSES
# quadratically — 1.23x at W=32, 2.8x at W=63, 4.7x at W=125, 10.9x at
# W=250. Cap sits at the top of the measured parity zone.
_BLOCK_MAX_WORDS = 24
# Chunk width of the blockwise kernels: bounds the (chunk, W, sigma) u64 PM
# gather table AND sets the numpy vector width of every step (chunk x W
# lanes in the step-scheduled kernels, chunk lanes per word in the banded
# and OSA kernels). Swept on ~300-char doc pairs with per-char word loops:
# 512 -> 2048 is +32% under 32 concurrent worker processes (111.7k vs
# 84.6k pairs/s machine-wide jaro-winkler); 8192 wins single-thread but
# loses under contention (cache working set). Not re-swept for the step
# schedule: score_long's word-count groups are below one chunk.
_BLOCK_CHUNK = 2048
# Above W=16 the PM gather table + per-char working set outgrow the
# cache at full chunk width: 1024 measured >= 2048 at W=20 (1.01 vs
# 1.00 s) and better at W=24 (1.44 vs 1.56 s), and halves the transient
# PM footprint under 32 concurrent workers.
_BLOCK_CHUNK_WIDE = 1024


def _block_chunk_for(W: int) -> int:
    return _BLOCK_CHUNK if W <= 16 else _BLOCK_CHUNK_WIDE


def _block_bucket(plen: int) -> int:
    """Exact word count — measured better than power-of-two padding:
    padded groups pay extra word-steps on every char, which outweighs the
    per-group numpy overhead they save (kernel is compute-bound, not
    group-bound, at Arrow-batch sizes)."""
    return (plen + 63) >> 6


def _run_block_groups(groups: dict, out: np.ndarray, kernel) -> None:
    """groups: W -> (indices, pats, texts); runs `kernel` per W in
    memory-bounded chunks and scatters results into `out`."""
    for W, (idx, ps, ts) in groups.items():
        step = _block_chunk_for(W)
        for lo in range(0, len(idx), step):
            hi = lo + step
            out[np.asarray(idx[lo:hi], dtype=np.intp)] = kernel(
                ps[lo:hi], ts[lo:hi], W
            )


def _affix_strip_pair(a: str, b: str) -> tuple[str, str, int]:
    pfx = common_prefix_len(a, b)
    a, b = a[pfx:], b[pfx:]
    sfx = common_suffix_len(a, b)
    if sfx:
        a, b = a[:-sfx], b[:-sfx]
    return a, b, pfx + sfx


def _is_word_ok(s: str) -> bool:
    return len(s) <= 64


def _short_batch_lens(a_arr, b_arr):
    """(alens, blens) when EVERY pair is non-empty and one-word sized
    (<= 64 chars) — the record-linkage hot shape — else None. Such batches
    skip the per-pair routing/affix loop entirely (measured ~40% of wall
    at ~20-char names) and go straight to one vectorized kernel call:
    affix stripping and equal-pair short-circuits are optimizations the
    word kernels don't need for correctness."""
    n = len(a_arr)
    if not n:
        return None
    alens = np.fromiter((len(s) for s in a_arr), dtype=np.int64, count=n)
    blens = np.fromiter((len(s) for s in b_arr), dtype=np.int64, count=n)
    if (
        int(alens.min()) > 0
        and int(blens.min()) > 0
        and int(alens.max()) <= 64
        and int(blens.max()) <= 64
    ):
        return alens, blens
    return None


def _short_swap(a_arr, b_arr, alens, blens) -> tuple[list, list]:
    """(patterns, texts) with the shorter string of each pair as pattern."""
    swap = alens > blens
    return list(np.where(swap, b_arr, a_arr)), list(np.where(swap, a_arr, b_arr))


def _chunked_block(kernel, ps: list, ts: list, dtype, **kw) -> np.ndarray:
    """Run a blockwise kernel at W=1 in _BLOCK_CHUNK slices — the chunk
    width keeps the kernel's per-char working set cache-resident (swept in
    BENCH.md §2; one oversized call is measurably slower than chunks)."""
    n = len(ps)
    out = np.empty(n, dtype=dtype)
    for lo in range(0, n, _BLOCK_CHUNK):
        hi = lo + _BLOCK_CHUNK
        out[lo:hi] = kernel(ps[lo:hi], ts[lo:hi], 1, **kw)
    return out


def _chunked_word(kernel, ps: list, ts: list) -> np.ndarray:
    """Run a one-word kernel (myers_batch_word / lcs_batch_word) in
    _BLOCK_CHUNK slices. The word kernels' per-batch state (PM gather
    table + code arrays) spills L2 on full Arrow batches: chunking at
    2048 measured +53% single-thread and +35% machine-wide under 16
    worker processes on ~20-char name pairs (BENCH.md §2)."""
    n = len(ps)
    if n <= _BLOCK_CHUNK:
        return kernel(ps, ts)
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, _BLOCK_CHUNK):
        hi = lo + _BLOCK_CHUNK
        out[lo:hi] = kernel(ps[lo:hi], ts[lo:hi])
    return out


def _banded_lev_pays(pat_len: int, W: int, k: int, scale: float = 1.0) -> bool:
    """Route a pair to myers_batch_block_banded only when the band is
    narrow enough to beat the full blockwise kernel. The banded kernel
    carries per-row band bookkeeping, so its breakeven band fraction
    grows with word count (measured, best-of-3, same-length random
    pairs): W=3 never wins (0.93x at frac 0.1), W=5 wins below ~0.5,
    W=10 below ~0.45, W=16 below ~0.8. Thresholds below sit safely
    under those breakevens. ``scale`` < 1 tightens them for callers that
    additionally bet on pruning (the indel prefilter must beat
    prune_frac * LCS cost, not just the full kernel)."""
    if W < 4 or k >= 64 * (W - 1):
        return False
    if W <= 5:
        t = 0.25
    elif W <= 10:
        t = 0.35
    elif W <= 15:
        # breakeven measured ~0.45 at W=10 and ~0.8 at W=16 and grows
        # with word count; between the measured endpoints stay at the
        # W=10 figure rather than assuming the W=16 one applies
        t = 0.45
    else:
        t = 0.6
    return k <= t * scale * pat_len


def levenshtein_batch(a_arr, b_arr, k=None, hint=None) -> np.ndarray:
    """Uniform Levenshtein distances for paired object arrays of str.
    Routing (per pair, after affix strip): <=64-char pattern -> one-word
    vectorized Myers; <=64*_BLOCK_MAX_WORDS -> blockwise vectorized Myers
    grouped by word count (Ukkonen-banded when a per-pair distance cutoff
    ``k`` is supplied and the band is narrower than the pattern); else
    the CPython big-int Myers kernel with a per-batch pattern cache —
    the MEASURED-fastest kernel above the cap, not a concession: big-int
    ops run C limb loops with O(1) interpreter dispatch per char vs the
    numpy path's O(W) array ops per char (crossover sweep at
    _BLOCK_MAX_WORDS / BENCH.md §12). Long-document corpora should
    still prefer set-based ops (ngram_jaccard/MinHash-LSH) over
    pairwise edit distance at scale — but if routed here, this is the
    fast path, vectorized across Spark's 32 worker processes.

    ``k``: optional int64 array of per-pair distance cutoffs. Pairs whose
    distance exceeds their cutoff MAY return a large sentinel instead of
    the exact distance — callers must only compare those against the
    cutoff (the Column API's keep-mask does exactly that).

    ``hint``: optional int64 array of EXPECTED per-pair distances
    (reference score_hint, levenshtein.rs:1069-1088,1176-1209): blockwise
    pairs start at band = hint; a result <= band is exact and final, a
    result above it doubles the band and retries, capped at ``k`` (where
    the regular sentinel contract takes over) or at the max possible
    distance when no cutoff is given — so results are IDENTICAL to the
    hint-less path, only the band schedule changes."""
    n = len(a_arr)
    short = _short_batch_lens(a_arr, b_arr)
    if short is not None:
        return _chunked_word(myers_batch_word, *_short_swap(a_arr, b_arr, *short))
    out = np.zeros(n, dtype=np.int64)
    np_idx: list = []
    np_p: list = []
    np_t: list = []
    blk: dict = {}
    blk_banded: dict = {}
    blk_hint: dict = {}
    pm_cache: dict = {}
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            continue
        sa, sb, _ = _affix_strip_pair(a, b)
        if not sa or not sb:
            out[i] = max(len(sa), len(sb))
            continue
        if len(sa) > len(sb):
            sa, sb = sb, sa
        if _is_word_ok(sa) and _is_word_ok(sb):
            np_idx.append(i)
            np_p.append(sa)
            np_t.append(sb)
            continue
        if k is not None and k[i] <= 3:
            # tiny bound on a long pair: mbleven enumeration is O(models*len)
            # vs O(ceil(len/64)*len) for any DP (reference routes cutoff < 4
            # here too, levenshtein.rs:1142-1147)
            kb = int(k[i])
            if kb < 0 or abs(len(sa) - len(sb)) > kb:
                out[i] = (kb if kb >= 0 else 0) + 1
            else:
                out[i] = _mbleven(sa, sb, kb)
            continue
        W = _block_bucket(len(sa))
        if W <= _BLOCK_MAX_WORDS:
            # hint-first banding: start at the (narrower) expected band,
            # verify, double on failure — wins when the hint is accurate
            # and the cutoff band is too wide (or absent) to pay. Gated at
            # W >= 14: re-measured this round on 45-symbol text, banded
            # beats full blockwise consistently only from ~900 chars up
            # (1.3-1.45x at W=16, parity-to-0.87x in the W=10-13 zone),
            # and a verify+retry loop must enter only on a clear win
            if hint is not None and W >= 14:
                h = int(hint[i])
                cap = int(k[i]) if k is not None else len(sb)
                if 4 <= h < cap and _banded_lev_pays(len(sa), W, h):
                    g = blk_hint.setdefault(W, ([], [], [], [], []))
                    g[0].append(i)
                    g[1].append(sa)
                    g[2].append(sb)
                    g[3].append(h)
                    g[4].append(cap)
                    continue
            # banded pays off once whole words fall outside the |i-j|<=k
            # diagonal band AND the band is narrow enough to amortize the
            # per-row band bookkeeping (affix stripping already happened,
            # so k is usually small relative to the remaining core)
            if k is not None and _banded_lev_pays(len(sa), W, int(k[i])):
                g = blk_banded.setdefault(W, ([], [], [], []))
                g[0].append(i)
                g[1].append(sa)
                g[2].append(sb)
                g[3].append(int(k[i]))
            else:
                g = blk.setdefault(W, ([], [], []))
                g[0].append(i)
                g[1].append(sa)
                g[2].append(sb)
        else:
            pm = pm_cache.get(sa)
            if pm is None:
                pm = pm_cache[sa] = pm_vector(sa)
            out[i] = myers_distance(sa, sb, pm)
    if np_idx:
        out[np.asarray(np_idx, dtype=np.intp)] = _chunked_word(
            myers_batch_word, np_p, np_t
        )
    _run_block_groups(blk, out, myers_batch_block)
    for W, (idx, ps, ts, kk) in blk_banded.items():
        step = _block_chunk_for(W)
        for lo in range(0, len(idx), step):
            hi = lo + step
            out[np.asarray(idx[lo:hi], dtype=np.intp)] = myers_batch_block_banded(
                ps[lo:hi], ts[lo:hi], W, np.asarray(kk[lo:hi], dtype=np.int64)
            )
    for W, (hidx, ps, ts, hh, hcap) in blk_hint.items():
        ix = np.asarray(hidx, dtype=np.intp)
        pa = np.asarray(ps, dtype=object)
        ta = np.asarray(ts, dtype=object)
        band = np.asarray(hh, dtype=np.int64)
        cap = np.asarray(hcap, dtype=np.int64)
        live = np.arange(len(ix), dtype=np.intp)
        step = _block_chunk_for(W)
        while len(live):
            res = np.empty(len(live), dtype=np.int64)
            for lo in range(0, len(live), step):
                sl = live[lo : lo + step]
                res[lo : lo + step] = myers_batch_block_banded(
                    list(pa[sl]), list(ta[sl]), W, band[sl]
                )
            # exact once the result fits the band; at band >= cap the
            # regular contract applies (exact, or sentinel > cap when a
            # cutoff cap is set — callers only compare those against it)
            done = (res <= band[live]) | (band[live] >= cap[live])
            out[ix[live[done]]] = res[done]
            live = live[~done]
            band[live] = np.minimum(band[live] * 2, cap[live])
    return out


def lcs_similarity_batch(a_arr, b_arr) -> np.ndarray:
    """LCS lengths for paired object arrays of str."""
    n = len(a_arr)
    short = _short_batch_lens(a_arr, b_arr)
    if short is not None:
        return _chunked_word(lcs_batch_word, *_short_swap(a_arr, b_arr, *short))
    out = np.zeros(n, dtype=np.int64)
    np_idx: list = []
    np_p: list = []
    np_t: list = []
    base = np.zeros(n, dtype=np.int64)
    blk: dict = {}
    pm_cache: dict = {}
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            out[i] = len(a)
            continue
        sa, sb, affix = _affix_strip_pair(a, b)
        base[i] = affix
        if not sa or not sb:
            out[i] = affix
            continue
        if len(sa) > len(sb):
            sa, sb = sb, sa
        if _is_word_ok(sa) and _is_word_ok(sb):
            np_idx.append(i)
            np_p.append(sa)
            np_t.append(sb)
            continue
        W = _block_bucket(len(sa))
        if W <= _BLOCK_MAX_WORDS:
            g = blk.setdefault(W, ([], [], []))
            g[0].append(i)
            g[1].append(sa)
            g[2].append(sb)
        else:
            pm = pm_cache.get(sa)
            if pm is None:
                pm = pm_cache[sa] = pm_vector(sa)
            out[i] = affix + lcs_length(sa, sb, pm)
    if np_idx:
        idx = np.asarray(np_idx, dtype=np.intp)
        out[idx] = base[idx] + _chunked_word(lcs_batch_word, np_p, np_t)
    _run_block_groups(blk, out, lcs_batch_block)
    for W, (idx, _, _) in blk.items():
        ix = np.asarray(idx, dtype=np.intp)
        out[ix] += base[ix]
    return out


def indel_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """Indel distances. ``k``: optional per-pair distance bounds; results
    above a pair's bound MAY be a sentinel instead of the exact distance
    — callers only compare those against the bound. Bounded routing:

    - bound <= 4 on long pairs: {delete, insert} mbleven enumeration
      (reference lcs_seq.rs:113-197 semantics);
    - otherwise, pairs too long for the one-word path are prefiltered by
      the Ukkonen-banded Myers kernel at the same bound: levenshtein <=
      indel (a substitution costs 1 vs 2), so lev > k proves indel > k
      and only survivors pay the full-width LCS kernel.
    """
    n = len(a_arr)
    if k is not None and n:
        from .lcs_indel import bounded_indel_distance

        kv = np.asarray(k, dtype=np.int64)
        route = np.fromiter(
            (
                kv[i] <= 4 and len(a_arr[i]) + len(b_arr[i]) > 128
                for i in range(n)
            ),
            dtype=bool,
            count=n,
        )
        out = np.empty(n, dtype=np.int64)
        for i in np.nonzero(route)[0]:
            out[i] = bounded_indel_distance(a_arr[i], b_arr[i], int(kv[i]))
        rest = np.nonzero(~route)[0]
        if len(rest):
            ra, rb, rk = a_arr[rest], b_arr[rest], kv[rest]
            # banded-lev prefilter for pairs beyond the one-word path —
            # only where the band is narrow enough that the banded kernel
            # costs well under the LCS it may save (scale=0.5 tightens
            # the _banded_lev_pays thresholds: the prefilter is a bet on
            # pruning, and at wide bands it measured 3x SLOWER than just
            # computing the full LCS on the sf0.1 bench mix)
            def _prefilter_pays(i: int) -> bool:
                pl = min(len(ra[i]), len(rb[i]))
                if pl <= 64:
                    return False
                return _banded_lev_pays(
                    pl, _block_bucket(pl), int(rk[i]), scale=0.5
                )

            wide = np.fromiter(
                (_prefilter_pays(i) for i in range(len(rest))),
                dtype=bool,
                count=len(rest),
            )
            if wide.any():
                lev = levenshtein_batch(ra[wide], rb[wide], k=rk[wide])
                pruned = lev > rk[wide]
                wi = np.nonzero(wide)[0]
                out[rest[wi[pruned]]] = rk[wide][pruned] + 1
                live = np.ones(len(rest), dtype=bool)
                live[wi[pruned]] = False
            else:
                live = np.ones(len(rest), dtype=bool)
            li = rest[live]
            if len(li):
                lens = np.fromiter(
                    (len(a_arr[i]) + len(b_arr[i]) for i in li),
                    dtype=np.int64,
                    count=len(li),
                )
                out[li] = lens - 2 * lcs_similarity_batch(a_arr[li], b_arr[li])
        return out
    lens = np.fromiter(
        (len(a) + len(b) for a, b in zip(a_arr, b_arr)), dtype=np.int64, count=len(a_arr)
    )
    return lens - 2 * lcs_similarity_batch(a_arr, b_arr)


def osa_batch(a_arr, b_arr) -> np.ndarray:
    n = len(a_arr)
    short = _short_batch_lens(a_arr, b_arr)
    if short is not None:
        return _chunked_block(
            osa_batch_block, *_short_swap(a_arr, b_arr, *short), np.int64
        )
    out = np.zeros(n, dtype=np.int64)
    blk: dict = {}
    pm_cache: dict = {}
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            continue
        sa, sb, _ = _affix_strip_pair(a, b)
        if not sa or not sb:
            out[i] = max(len(sa), len(sb))
            continue
        if len(sa) > len(sb):
            sa, sb = sb, sa
        W = _block_bucket(len(sa))
        if W <= _BLOCK_MAX_WORDS:
            g = blk.setdefault(W, ([], [], []))
            g[0].append(i)
            g[1].append(sa)
            g[2].append(sb)
        else:
            pm = pm_cache.get(sa)
            if pm is None:
                pm = pm_cache[sa] = pm_vector(sa)
            out[i] = _osa.osa_distance_kernel(sa, sb, pm)
    _run_block_groups(blk, out, osa_batch_block)
    return out


def damerau_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """``k``: optional per-pair int64 distance cutoffs — chunks run the
    banded DP with the chunk's max cutoff (exact for results <= each
    pair's own cutoff; callers only compare over-cutoff values)."""
    n = len(a_arr)
    out = np.zeros(n, dtype=np.int64)
    vec_idx: list = []
    vec_p: list = []
    vec_t: list = []
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            continue
        sa, sb = _damerau.remove_common_affix(a, b)
        if not sa or not sb:
            out[i] = max(len(sa), len(sb))
            continue
        if len(sa) > len(sb):
            sa, sb = sb, sa
        if len(sa) * len(sb) <= 64:
            out[i] = _damerau.damerau_distance_py(sa, sb)
        else:
            vec_idx.append(i)
            vec_p.append(sa)
            vec_t.append(sb)
    if vec_idx:
        # sort by pattern len desc and chunk so the per-chunk DP cube
        # (n, L1+2, L2+2) int32 stays under budget
        order = sorted(range(len(vec_idx)), key=lambda q: -len(vec_p[q]))
        lo = 0
        while lo < len(order):
            L1 = len(vec_p[order[lo]]) + 2
            L2 = max(len(vec_t[order[q]]) for q in range(lo, len(order))) + 2
            itemsize = 2 if L1 + L2 <= 16000 else 4
            step = max(8, _DL_CUBE_BUDGET // (L1 * L2 * itemsize))
            sel = order[lo : lo + step]
            ps = [vec_p[q] for q in sel]
            ts = [vec_t[q] for q in sel]
            kc = (
                int(max(k[vec_idx[q]] for q in sel)) if k is not None else None
            )
            res = damerau_batch_np(ps, ts, k=kc)
            for q, v in zip(sel, res):
                out[vec_idx[q]] = v
            lo += step
    return out


def jaro_batch(a_arr, b_arr, k=None) -> np.ndarray:
    """``k``: optional similarity cutoff (scalar float). Pairs provably
    below it MAY return the -1.0 sentinel instead of the exact
    similarity — callers only compare those against the cutoff."""
    n = len(a_arr)
    short = _short_batch_lens(a_arr, b_arr)
    if short is not None:
        return _chunked_block(
            jaro_batch_block, *_short_swap(a_arr, b_arr, *short), np.float64, k=k
        )
    out = np.zeros(n, dtype=np.float64)
    blk: dict = {}
    pm_cache: dict = {}
    for i in range(n):
        a, b = a_arr[i], b_arr[i]
        if a == b:
            out[i] = 1.0  # equal strings (incl. both empty) -> 1.0 (reference)
            continue
        if not a or not b:
            out[i] = 0.0
            continue
        sa, sb = (a, b) if len(a) <= len(b) else (b, a)
        W = _block_bucket(len(sa))
        if W <= _BLOCK_MAX_WORDS:
            g = blk.setdefault(W, ([], [], []))
            g[0].append(i)
            g[1].append(sa)
            g[2].append(sb)
        else:
            pm = pm_cache.get(sa)
            if pm is None:
                pm = pm_cache[sa] = pm_vector(sa)
            out[i] = _jaro.jaro_similarity(sa, sb, pm)
    if k is None:
        _run_block_groups(blk, out, jaro_batch_block)
    else:
        _run_block_groups(
            blk, out, lambda ps, ts, W: jaro_batch_block(ps, ts, W, k=k)
        )
    return out


def jaro_winkler_batch(
    a_arr, b_arr, prefix_weight: float = 0.1, k=None
) -> np.ndarray:
    """Jaro + Winkler prefix boost (jaro_winkler.rs:78-98): applied only
    when jaro > 0.7, prefix capped at 4, result capped at 1.0.

    ``k``: optional jaro-winkler similarity cutoff. Translated to the
    conservative jaro-level bound jw <= jaro + 4*pw*(1-jaro) (prefix <= 4,
    jaro_winkler.rs:85), so pairs the kernel drops (sentinel -1.0, no
    boost applied) are provably below ``k``."""
    jk = None
    if k is not None:
        denom = 1.0 - 4.0 * prefix_weight
        if denom > 0:
            jb = (k - 4.0 * prefix_weight) / denom
            if jb > 0.0:
                jk = jb
    out = jaro_batch(a_arr, b_arr, k=jk)
    boost = np.nonzero(out > 0.7)[0]
    if len(boost):
        # vectorized common-prefix length over the first 4 chars: pad with
        # DISTINCT sentinels so length mismatches break the cumprod run
        A, _ = _pad_codes([a_arr[i][:4] for i in boost], 0xFFFFFFFE)
        Bm, _ = _pad_codes([b_arr[i][:4] for i in boost], 0xFFFFFFFF)
        L = max(A.shape[1], Bm.shape[1], 1)
        if A.shape[1] < L:
            A = np.pad(A, ((0, 0), (0, L - A.shape[1])), constant_values=0xFFFFFFFE)
        if Bm.shape[1] < L:
            Bm = np.pad(
                Bm, ((0, 0), (0, L - Bm.shape[1])), constant_values=0xFFFFFFFF
            )
        pfx = np.cumprod(A == Bm, axis=1).sum(axis=1).astype(np.float64)
        ob = out[boost]
        out[boost] = np.minimum(ob + pfx * prefix_weight * (1.0 - ob), 1.0)
    return out


def _padded_neq(a_arr, b_arr):
    """(neq matrix over the common-length region, la, lb) via UTF-32 code
    matrices padded with distinct sentinels (vectorized across pairs)."""
    A, la = _pad_codes(list(a_arr), 0xFFFFFFFE)
    B, lb = _pad_codes(list(b_arr), 0xFFFFFFFF)
    L = max(A.shape[1], B.shape[1], 1)
    if A.shape[1] < L:
        A = np.pad(A, ((0, 0), (0, L - A.shape[1])), constant_values=0xFFFFFFFE)
    if B.shape[1] < L:
        B = np.pad(B, ((0, 0), (0, L - B.shape[1])), constant_values=0xFFFFFFFF)
    return A != B, la, lb


def hamming_batch(a_arr, b_arr, pad: bool = True) -> np.ndarray:
    """Vectorized positional mismatches + length surplus. pad=False yields
    -1 (caller maps to null) on unequal lengths — the SQL-friendly analogue
    of the reference's Err (hamming.rs:232-235)."""
    n = len(a_arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    neq, la, lb = _padded_neq(a_arr, b_arr)
    common = np.minimum(la, lb)
    idx = np.arange(neq.shape[1], dtype=np.int64)[None, :]
    mism = (neq & (idx < common[:, None])).sum(axis=1).astype(np.int64)
    out = mism + np.abs(la - lb)
    if not pad:
        out = np.where(la != lb, -1, out)
    return out


def prefix_batch(a_arr, b_arr) -> np.ndarray:
    """Common-prefix length: first True of the padded != matrix (sentinels
    differ, so the pad boundary always mismatches)."""
    n = len(a_arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    neq, la, lb = _padded_neq(a_arr, b_arr)
    any_neq = neq.any(axis=1)
    first = neq.argmax(axis=1).astype(np.int64)
    return np.where(any_neq, first, np.minimum(la, lb))


def postfix_batch(a_arr, b_arr) -> np.ndarray:
    """Common-suffix length = common prefix of the reversed strings."""
    ra = np.array([s[::-1] for s in a_arr], dtype=object)
    rb = np.array([s[::-1] for s in b_arr], dtype=object)
    return prefix_batch(ra, rb)


def _strip_common_affix_batch(a_arr, b_arr):
    """Vectorized remove_common_affix (reference details/common.rs:79-108):
    common-prefix lengths from the padded != matrix, then common-suffix of
    the prefix-stripped remainders. Slicing is one O(1) Python string op
    per row — the counting, which is the O(len) part, stays NumPy."""
    pre = prefix_batch(a_arr, b_arr)
    a1 = np.array([s[p:] for s, p in zip(a_arr, pre)], dtype=object)
    b1 = np.array([s[p:] for s, p in zip(b_arr, pre)], dtype=object)
    post = postfix_batch(a1, b1)
    a2 = np.array(
        [s[: len(s) - q] if q else s for s, q in zip(a1, post)], dtype=object
    )
    b2 = np.array(
        [s[: len(s) - q] if q else s for s, q in zip(b1, post)], dtype=object
    )
    return a2, b2


_WWF_CHUNK = 4096  # bounds the (chunk, L2+1) int64 row-pair working set


def weighted_wf_batch_np(a_arr, b_arr, ins: int, dele: int, sub: int) -> np.ndarray:
    """Generic-weight Wagner-Fischer vectorized ACROSS PAIRS (the same
    padded-matrix + active-prefix-scheduling pattern as damerau_batch_np):
    one NumPy row step per pattern char over all live pairs, no per-pair
    dispatch. The within-row insert chain is folded by the prefix-min
    identity min_k<=j(cand[k] + (j-k)*ins) = accmin(cand[k] - k*ins) + j*ins
    (same trick as the per-pair wagner_fischer_weighted oracle kernel).
    O(L1*L2) work per pair as the reference documents for the generic
    weight case (levenshtein.rs:62-63)."""
    n = len(a_arr)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    A, las = _pad_codes(list(a_arr), 0xFFFFFFFE)
    B, lbs = _pad_codes(list(b_arr), 0xFFFFFFFF)
    order = np.argsort(-las, kind="stable")
    A, B = A[order], B[order]
    las_s, lbs_s = las[order], lbs[order]
    L1, L2 = A.shape[1], B.shape[1]
    j_step = np.arange(1, L2 + 1, dtype=np.int64) * ins
    prev = np.empty((n, L2 + 1), dtype=np.int64)
    prev[:, 0] = 0
    prev[:, 1:] = j_step  # DP row 0: all inserts
    active = n
    for i in range(1, L1 + 1):
        while active > 0 and las_s[active - 1] < i:
            active -= 1  # rows past their pattern keep prev = dp[la] final
        a = slice(0, active)
        cost = np.where(B[a] == A[a, i - 1 : i], 0, sub)
        cand = np.minimum(prev[a, :-1] + cost, prev[a, 1:] + dele)
        t = np.minimum.accumulate(
            np.minimum(cand - j_step[None, :], i * dele), axis=1
        )
        prev[a, 1:] = np.minimum(cand, t + j_step[None, :])
        prev[a, 0] = i * dele
    res = prev[np.arange(n, dtype=np.intp), lbs_s]
    out[order] = res
    return out


def weighted_levenshtein_batch(a_arr, b_arr, weights=(1, 1, 1)) -> np.ndarray:
    """Weight rewrites per levenshtein.rs:1244-1331, batched. The generic
    case (ins != del, or sub < ins+del) runs the cross-pair vectorized
    Wagner-Fischer after a vectorized common-affix strip — no per-pair
    Python dispatch on any weight table."""
    ins, dele, sub = weights
    if ins == dele:
        if ins == sub:
            return levenshtein_batch(a_arr, b_arr) * ins
        if sub >= ins + dele:
            return indel_batch(a_arr, b_arr) * ins
    a_s, b_s = _strip_common_affix_batch(a_arr, b_arr)
    n = len(a_s)
    out = np.zeros(n, dtype=np.int64)
    for lo in range(0, n, _WWF_CHUNK):
        hi = lo + _WWF_CHUNK
        out[lo:hi] = weighted_wf_batch_np(a_s[lo:hi], b_s[lo:hi], ins, dele, sub)
    return out


def maximum_batch(metric: str, a_arr, b_arr, weights=(1, 1, 1)) -> np.ndarray:
    n = len(a_arr)
    la = np.fromiter((len(x) for x in a_arr), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in b_arr), dtype=np.int64, count=n)
    if metric == "indel":
        return la + lb
    if metric == "levenshtein":
        ins, dele, sub = weights
        lo = np.minimum(la, lb)
        return lo * min(sub, ins + dele) + np.where(
            la > lb, (la - lb) * dele, (lb - la) * ins
        )
    # lcs_seq, osa, damerau_levenshtein, hamming, prefix, postfix
    return np.maximum(la, lb)
