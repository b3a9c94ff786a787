"""Batched anti-diagonal wavefront Smith-Waterman — the vectorized kernel.

This is the engine's hot path: it scores a *batch* of (needle, haystack)
pairs at once with NumPy, iterating over anti-diagonals (cells i+j = d) so
that every cell on a diagonal — across the whole batch — updates in one
vectorized step. The Arrow batch handed to a pandas UDF plays the role the
interleaved SIMD lanes play in frizbee's SIMD pass
(src/smith_waterman/simd/algorithm.rs:129-200, interleave/mod.rs:10-34):
rows of the batch are lanes, NumPy is the SIMD.

There is one DP kernel, :func:`sw_batch`. Operands are POSITION-MAJOR,
``(position, lane)`` arrays with the haystack side reversed, so every
diagonal's operands are contiguous row slices and each ufunc runs over
the whole batch at once. It serves all three callers:

- the fuzzy matcher: full matrices on short strings (<= 512 bytes, the
  reference's routing cap, src/one_shot/mod.rs:20-25) plus a vectorized
  typo traceback (:func:`_typos_skewed`). Each lane carries its own
  needle, so the matcher scores the rows of every needle in one length
  bucket with one call. Must be bit-identical to the scalar oracle
  (tests are differential).
- dedup verify: ``band_radius`` clips each diagonal to |j - i| <= R, the
  banding of src/smith_waterman/simd/algorithm.rs:144-160 scaled to
  document length. :func:`sw_score_banded` is that call without the
  exact-match bonus; similarity normalization lives in
  :func:`normalized_similarity`.
- the incremental matcher: every keystroke resumes the last needle's
  score matrix (:func:`_sw_skewed` with ``resume``). Rows of the shared
  needle prefix are kept; the prefix length is a floor on each
  diagonal's row range, the same kind of clip as the band.

Scores use int16 when no cell can overflow it, else int32, with explicit
clamping at zero (NumPy wraps; the reference relies on u16 saturating
arithmetic).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ..constants import DEFAULT_SCORING, Scoring


def _pad_bytes(items: list[bytes], width: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Pad a list of byte strings into a (B, W) uint8 array + lengths."""
    lens = np.fromiter((len(b) for b in items), dtype=np.int64, count=len(items))
    w = int(lens.max()) if width is None else width
    out = np.zeros((len(items), max(w, 1)), dtype=np.uint8)
    # row-major boolean assignment fills each row's prefix in order
    out[np.arange(out.shape[1]) < lens[:, None]] = np.frombuffer(b"".join(items), dtype=np.uint8)
    return out, lens


def _char_classes(arr: np.ndarray, delims: bytes):
    """Per-byte class masks + lowercase fold (reference precomputes the
    same masks per char: src/smith_waterman/simd/types.rs:10-87)."""
    is_upper = (arr >= 65) & (arr <= 90)
    is_lower = (arr >= 97) & (arr <= 122)
    low = np.where(is_upper, arr + 32, arr)
    is_delim = np.isin(low, np.frombuffer(delims, dtype=np.uint8))
    return low.astype(np.int16), is_upper, is_lower, is_delim


def _haystack_bonus_cols(h_upper, h_lower, h_delim, scoring: Scoring):
    """Static per-(pair, haystack-position) bonus columns.

    The delimiter and capitalization bonuses depend only on the previous
    haystack character (and on having seen a non-delimiter before), so
    they are path-independent and precomputable for the whole batch.
    """
    b, w = h_upper.shape
    prev_delim = np.zeros_like(h_delim)
    prev_delim[:, 1:] = h_delim[:, :-1]
    prev_lower = np.zeros_like(h_lower)
    prev_lower[:, 1:] = h_lower[:, :-1]
    seen_nondelim = np.zeros((b, w), dtype=bool)
    if w > 1:
        seen_nondelim[:, 1:] = np.cumsum(~h_delim, axis=1)[:, :-1] > 0
    delim_bonus = np.where(
        prev_delim & seen_nondelim & ~h_delim, scoring.delimiter_bonus, 0
    ).astype(np.int32)
    cap_bonus = np.where(h_upper & prev_lower, scoring.capitalization_bonus, 0).astype(np.int32)
    cap_bonus[:, 0] = 0  # capitalization bonus never applies on the prefix
    return delim_bonus, cap_bonus


def _score_dtype(max_matches: int, scoring: Scoring):
    """int16 when no cell can overflow it (halves memory traffic), else int32.

    A path scores at most ``max_matches`` fully-bonused matches plus one
    prefix bonus; penalties only ever pull a cell towards the zero clamp.
    """
    per_match = (scoring.match_score + scoring.matching_case_bonus
                 + scoring.delimiter_bonus + scoring.capitalization_bonus)
    top = (max_matches * per_match + scoring.prefix_bonus
           + scoring.offset_prefix_bonus + scoring.exact_match_bonus)
    penalty = max(scoring.mismatch_penalty, scoring.gap_open_penalty,
                  scoring.gap_extend_penalty)
    return np.int16 if top < 30000 and penalty < 2000 else np.int32


def sw_batch(
    needles: list[bytes],
    haystacks: list[bytes],
    scoring: Scoring = DEFAULT_SCORING,
    compute_typos: bool = True,
    band_radius: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score a batch of (needle, haystack) lanes, optionally banded.

    Every lane carries its own needle, so one call can score many needles
    against their candidate rows at once. Returns ``(scores, typos,
    exact)`` — int64 scores (exact-match bonus included), int64 typo
    counts (-1 when ``compute_typos`` is False), bool exact flags.
    Unbanded, semantics match the scalar oracle cell-for-cell.

    ``band_radius=R`` computes only cells with ``|j - i| <= R``; every
    cell outside the band is an implicit zero, which local alignment
    makes a safe truncation for near-duplicates, whose optimal path hugs
    the diagonal. The band is a clip of each diagonal's row range, and
    the loop stops once the band has left the matrix.

    Layout: operands are position-major ``(position, lane)`` with the
    haystack side reversed, and H is stored skewed, ``S[d + 2, i + 1,
    lane] = H(i, d - i)``: the diag, up and left inputs of diagonal ``d``
    are then row slices of diagonals ``d - 2`` and ``d - 1``. Row
    ``d + 2`` is written once; slot 0 and every cell outside a diagonal's
    window stay zero, which is the padding the recurrence reads at
    ``i = -1``, ``j = -1`` and outside the band. Only the previous
    diagonal's gap flags are kept. The typo traceback walks ``S``
    directly (:func:`_typos_skewed`); without it only the last three
    diagonals are held. A band's row range never moves backwards, so the
    three-row ring only ever reads slots that the diagonal before wrote
    or zeroed.

    When neither side holds an ASCII capital, every case-folded match is
    also a raw match: the matching-case bonus folds into the static
    bonus and the per-cell raw-byte compare is skipped.
    """
    assert len(needles) == len(haystacks)
    if not needles:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), np.zeros(0, dtype=bool)
    hay = _prepare_haystacks(haystacks, scoring)
    return _sw_skewed(needles, hay, scoring, compute_typos, band_radius)[:3]


class _Haystacks(NamedTuple):
    """The needle-independent operands of :func:`_sw_skewed`: position-major
    ``(position, lane)`` and reversed, ``rev[t] == orig[w_max - 1 - t]``,
    so a diagonal's haystack positions are a plain row range."""

    texts: list[bytes]
    lens: np.ndarray
    low: np.ndarray          # case-folded bytes
    raw: np.ndarray          # raw bytes, for the matching-case compare
    valid: np.ndarray        # position < length
    static: np.ndarray       # match score + delimiter + capitalization bonus
    h0_nonalpha: np.ndarray  # first byte not a letter (offset-prefix bonus)
    has_upper: bool


def _prepare_haystacks(haystacks: list[bytes], scoring: Scoring) -> _Haystacks:
    """Build the haystack side once; a caller that scores many needles
    against the same haystacks (the incremental matcher) keeps it."""
    hs, wlens = _pad_bytes(haystacks)
    h_low, h_upper, h_lower, h_delim = _char_classes(hs, scoring.delimiters)
    delim_bonus, cap_bonus = _haystack_bonus_cols(h_upper, h_lower, h_delim, scoring)
    h0_nonalpha = ~((hs[:, 0] >= 65) & (hs[:, 0] <= 90)) & ~((hs[:, 0] >= 97) & (hs[:, 0] <= 122))
    return _Haystacks(
        texts=haystacks,
        lens=wlens,
        low=np.ascontiguousarray(h_low.T[::-1]),
        raw=np.ascontiguousarray(hs.T[::-1]),
        valid=np.arange(hs.shape[1] - 1, -1, -1)[:, None] < wlens[None, :],
        static=np.ascontiguousarray((delim_bonus + cap_bonus + scoring.match_score).T[::-1]),
        h0_nonalpha=h0_nonalpha & (wlens > 0),
        has_upper=bool(h_upper.any()),
    )


def _sw_skewed(
    needles: list[bytes],
    hay: _Haystacks,
    scoring: Scoring,
    compute_typos: bool,
    band_radius: int | None = None,
    resume: tuple[np.ndarray | None, int] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """:func:`sw_batch`, also returning the skewed score matrix ``S``.

    ``hay`` is :func:`_prepare_haystacks` of the haystacks under the same
    ``scoring``. ``resume=(prev, cp)`` resumes ``prev``, the ``S`` of an
    earlier call on the same ``hay`` whose needles share their first
    ``cp`` bytes with these (``prev`` may be None when ``cp`` is 0).
    ``S`` is indexed by needle row, so rows below ``cp`` are copied, not
    recomputed: the row floor ``cp`` is one more clip of each diagonal's
    row range, and the loop starts at diagonal ``cp``. Gap flags of the
    rows from ``cp`` on start fresh, as at any row's first cell. A
    resumed ``S`` is full height even without typos, so the next call
    can resume it too.
    """
    bsz = len(needles)
    ns, nlens = _pad_bytes(needles)
    wlens, h0_nonalpha = hay.lens, hay.h0_nonalpha
    n_max, w_max = ns.shape[1], hay.low.shape[0]
    R = n_max + w_max if band_radius is None else int(band_radius)
    dtype = _score_dtype(min(n_max, w_max), scoring)

    n_low, n_upper = _char_classes(ns, scoring.delimiters)[:2]
    folded = not (n_upper.any() or hay.has_upper)

    # position-major needle operands. On a case-folded match the
    # matching-case bonus fires exactly when the raw bytes are equal, so
    # it needs one compare of the raw bytes.
    n_low_T = np.ascontiguousarray(n_low.T)
    n_valid_T = np.arange(n_max)[:, None] < nlens[None, :]
    h_low_rev_T, h_valid_rev_T = hay.low, hay.valid
    if folded:
        static_rev_T = (hay.static + scoring.matching_case_bonus).astype(dtype)
    else:
        static_rev_T = hay.static.astype(dtype)
        n_raw_T = np.ascontiguousarray(ns.T)
        h_raw_rev_T = hay.raw

    ring = not compute_typos and resume is None  # keep only three diagonals
    rows = 3 if ring else n_max + w_max + 1
    slots = n_max + 1
    S = np.zeros((rows, slots, bsz), dtype=dtype)
    prev, cp = resume if resume is not None else (None, 0)
    if cp:
        # the cached rows i < cp: slots 1..cp, diagonals up to cp + w_max - 2
        S[:cp + w_max + 1, :cp + 1] = prev[:cp + w_max + 1, :cp + 1]
    # gap-open flags of the previous diagonal, by slot. Both are read from
    # the up neighbour (i, j-1), i.e. the same slot the cell writes, so
    # they are updated in place; slots above the written window are
    # still True, the fresh-column state of the scalar recurrence
    u_open = np.ones((slots, bsz), dtype=bool)
    l_open = np.ones((slots, bsz), dtype=bool)

    bw = min(n_max, w_max, R + 1)
    sc = {k: np.empty((bw, bsz), dtype=dtype) for k in ("d1", "d2", "pen", "u", "l")}
    sc.update({k: np.empty((bw, bsz), dtype=bool) for k in ("m", "dt", "v")})
    best = S[:cp + w_max + 1, 1:cp + 1].max(axis=(0, 1)) if cp else np.zeros(bsz, dtype=dtype)
    go_minus_ge = dtype(scoring.gap_open_penalty - scoring.gap_extend_penalty)
    ge, mismatch, zero = (dtype(scoring.gap_extend_penalty),
                          dtype(scoring.mismatch_penalty), dtype(0))
    mcb = dtype(scoring.matching_case_bonus)
    min_n, min_w = int(nlens.min()), int(wlens.min())

    for d in range(cp, n_max + w_max - 1):
        # band |j - i| <= R with j = d - i  =>  (d - R) / 2 <= i <= (d + R) / 2;
        # rows below the floor cp are resumed, not computed
        i_lo = max(cp, d - w_max + 1, (d - R + 1) // 2)
        i_hi = min(n_max - 1, d, (d + R) // 2)
        if i_lo > i_hi:
            break  # the band has left the matrix; later diagonals are empty
        wd = i_hi - i_lo + 1
        r_lo = w_max - 1 - d + i_lo  # reversed haystack row of i_lo
        r_hi = r_lo + wd
        lo, hi = i_lo + 1, i_hi + 2  # slots written on this diagonal
        diag_in = S[d % rows, i_lo:i_hi + 1]
        left_in = S[(d + 1) % rows, i_lo:i_hi + 1]
        up_in = S[(d + 1) % rows, lo:hi]
        u_f, l_f = u_open[lo:hi], l_open[lo:hi]

        # diagonal move: max(diag - mismatch, 0), or diag + bonus on a match
        d1 = np.subtract(diag_in, mismatch, out=sc["d1"][:wd])
        np.maximum(d1, zero, out=d1)
        d2 = np.add(diag_in, static_rev_T[r_lo:r_hi], out=sc["d2"][:wd])
        if not folded:
            case_eq = np.equal(n_raw_T[i_lo:i_hi + 1], h_raw_rev_T[r_lo:r_hi],
                               out=sc["m"][:wd])
            np.add(d2, mcb, out=d2, where=case_eq)
        # prefix / offset-prefix patches hit at most the last two cells
        # (j == 0 at i == d, j == 1 at i == d - 1)
        if i_hi == d:
            d2[-1] += scoring.prefix_bonus
        if i_lo <= d - 1 <= i_hi:
            # offset-prefix needs H(i-1, 0) == 0 — that cell is diag_in —
            # and a non-alphabetic first haystack char (algorithm.rs:33-34)
            t = d - 1 - i_lo
            d2[t] += np.where((diag_in[t] == 0) & h0_nonalpha,
                              scoring.offset_prefix_bonus, 0).astype(dtype)
        is_match = np.equal(n_low_T[i_lo:i_hi + 1], h_low_rev_T[r_lo:r_hi],
                            out=sc["m"][:wd])
        np.copyto(d1, d2, where=is_match)

        # gap moves: penalty = ge + open_flag * (go - ge)
        pen = np.multiply(u_f, go_minus_ge, out=sc["pen"][:wd], casting="unsafe")
        pen += ge
        up = np.subtract(up_in, pen, out=sc["u"][:wd])
        np.maximum(up, zero, out=up)
        np.multiply(l_f, go_minus_ge, out=pen, casting="unsafe")
        pen += ge
        left = np.subtract(left_in, pen, out=sc["l"][:wd])
        np.maximum(left, zero, out=left)

        # with the three-row ring, the two slots just outside this window
        # may hold an older diagonal; later diagonals read them as zeros.
        # A full S never writes them, and slot cp holds a resumed row
        row = S[(d + 2) % rows]
        if ring:
            row[lo - 1] = 0
            if hi < slots:
                row[hi] = 0
        maxv = row[lo:hi]
        np.maximum(d1, up, out=maxv)
        np.maximum(maxv, left, out=maxv)
        # cells past either string's real length are zero; skip the mask
        # when the window is interior to every lane
        if not (i_hi < min_n and d - i_lo < min_w):
            maxv *= np.logical_and(n_valid_T[i_lo:i_hi + 1], h_valid_rev_T[r_lo:r_hi],
                                   out=sc["v"][:wd])

        diag_taken = np.equal(maxv, d1, out=sc["dt"][:wd])
        np.not_equal(maxv, up, out=u_f)
        u_f |= diag_taken
        np.not_equal(maxv, left, out=l_f)
        l_f |= diag_taken
        np.maximum(best, maxv.max(axis=0), out=best)

    exact = (nlens == wlens) & np.array(
        [needles[k] == hay.texts[k] for k in range(bsz)], dtype=bool
    )
    scores = best.astype(np.int64)
    scores[exact] += scoring.exact_match_bonus

    if compute_typos:
        typos = _typos_skewed(S, nlens, wlens)
    else:
        typos = np.full(bsz, -1, dtype=np.int64)
    return scores, typos, exact, S


def _typos_skewed(S: np.ndarray, nlens: np.ndarray, wlens: np.ndarray) -> np.ndarray:
    """Vectorized typo traceback over skewed score matrices.

    ``S[i + j + 2, i + 1, lane] = H(i, j)`` with zeros at ``i = -1``,
    ``j = -1`` and past each lane's lengths (the layout of
    :func:`sw_batch`). All lanes walk back at once, one batched gather
    per neighbour per step. Tie-break order (diag >= left >= up) and the
    terminal col-0 zero-score compensation replicate the scalar oracle
    (reference/typos.rs:22-59) exactly — recall parity depends on it.
    """
    rows, slots, bsz = S.shape
    w_max = rows - slots
    typos = np.zeros(bsz, dtype=np.int64)
    if bsz == 0:
        return typos

    # start: first argmax over the last real needle column, gathered per
    # needle length as a strided slice (padded cells are 0 and never beat
    # a positive score; all-zero columns argmax to 0 like the scalar scan)
    col = nlens.astype(np.int64) - 1
    row = np.zeros(bsz, dtype=np.int64)
    score = np.zeros(bsz, dtype=np.int64)
    for c in np.unique(col[col >= 0]):
        lanes = np.flatnonzero(col == c)
        last = S[c + 2:c + 2 + w_max, c + 1][:, lanes]
        row[lanes] = last.argmax(axis=0)
        score[lanes] = last[row[lanes], np.arange(lanes.size)]

    flat = S.reshape(-1)
    step_d, step_s = slots * bsz, bsz
    while True:
        b = np.flatnonzero(col > 0)
        if not b.size:
            break
        c, r, sc = col[b], row[b], score[b]
        at_row0 = r == 0
        at = (c + r) * step_d + c * step_s + b  # H(c-1, r-1)
        diag = flat[at]
        left = flat[at + step_d]           # H(c-1, r)
        up = flat[at + step_d + step_s]    # H(c, r-1)
        take_diag = ~at_row0 & (diag >= left) & (diag >= up)
        take_left = ~at_row0 & ~take_diag & (left >= up)
        # at row 0 the scalar walk steps left for one typo, score kept
        typos[b] += at_row0 | take_left | (take_diag & (diag >= sc))
        col[b] = c - (at_row0 | take_diag | take_left)
        row[b] = r - (~at_row0 & ~take_left)
        score[b] = np.where(at_row0, sc,
                            np.where(take_diag, diag, np.where(take_left, left, up)))

    typos[(col == 0) & (score == 0)] += 1
    return typos


def sw_score_banded(
    a_texts: list[bytes],
    b_texts: list[bytes],
    band_radius: int = 64,
    scoring: Scoring = DEFAULT_SCORING,
    assume_folded: bool = False,
) -> np.ndarray:
    """Banded scores for long-document pairs, O(len * band): the verify
    stage's view of :func:`sw_batch` with ``band_radius`` and no typos.
    ``a`` plays the needle, ``b`` the haystack. The exact-match bonus is
    NOT included (callers detect exactness by hash equality first).
    ``assume_folded`` is not read: sw_batch finds folded input itself."""
    scores, _, exact = sw_batch(a_texts, b_texts, scoring, compute_typos=False,
                                band_radius=band_radius)
    return scores - exact * scoring.exact_match_bonus


def greedy_batch(
    needle: bytes,
    texts: list[bytes],
    scoring: Scoring = DEFAULT_SCORING,
    max_cells: int = 4 * 1024 * 1024,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized greedy fallback matcher: one needle vs a batch of texts.

    Replicates the scalar first-match-wins scan (oracle.match_greedy,
    re-expressed from /root/reference/src/smith_waterman/greedy.rs:9-103)
    with one NumPy pass per needle char instead of a Python loop per text
    byte. Correct because the scalar scan visits every haystack char at
    most once in increasing order, so the path-dependent flags
    (delimiter-bonus armed, previous-char classes) collapse to pure
    functions of the match *position* — precomputable for the whole batch
    (same observation as :func:`_haystack_bonus_cols`). Only the match
    positions and the saturating score accumulation are sequential, and
    those iterate over the needle (short), vectorized across rows.

    Returns ``(scores, exact)``; failed rows (some needle char unmatched)
    score 0, as in the reference. Sub-batches rows so the padded matrix
    stays under ``max_cells`` CELLS; the kernel's temporaries cost ~25
    bytes per cell (two int32 bonus planes, int64 positions, int16/bool
    masks), so the default 4M cells bounds transient memory near ~100 MB
    per task — 32 concurrent Arrow tasks stay within a few GB instead of
    the ~25 GB the old 32M-cell default could transiently demand.
    """
    bsz = len(texts)
    scores = np.zeros(bsz, dtype=np.int64)
    exact = np.zeros(bsz, dtype=bool)
    n_len = len(needle)
    if bsz == 0 or n_len == 0:
        return scores, exact

    nb = np.frombuffer(needle, dtype=np.uint8)
    n_low = np.where((nb >= 65) & (nb <= 90), nb + 32, nb).astype(np.int16)

    # process in length-sorted sub-batches to bound padded-matrix size
    order = np.argsort([len(t) for t in texts], kind="stable")
    start = 0
    while start < bsz:
        stop = start + 1
        while stop < bsz:
            w = max(len(texts[order[stop]]), 1)
            if (stop - start + 1) * w > max_cells:
                break
            stop += 1
        sel = order[start:stop]
        s, e = _greedy_chunk([texts[i] for i in sel], nb, n_low, scoring)
        scores[sel] = s
        exact[sel] = e
        start = stop
    return scores, exact


def _greedy_chunk(
    texts: list[bytes], nb: np.ndarray, n_low: np.ndarray, scoring: Scoring
) -> tuple[np.ndarray, np.ndarray]:
    bsz, n_len = len(texts), nb.size
    hs, lens = _pad_bytes(texts)
    w = hs.shape[1]
    h_low, h_upper, h_lower, h_delim = _char_classes(hs, scoring.delimiters)
    # positional bonuses (delimiter + capitalization), identical derivation
    # to the DP kernels — the greedy scan arms/reads the same flags
    delim_bonus, cap_bonus = _haystack_bonus_cols(h_upper, h_lower, h_delim, scoring)
    pos_bonus = (delim_bonus + cap_bonus).astype(np.int64)
    pos_bonus[:, 0] = 0  # cap/delim bonuses need a previous char

    cols = np.arange(w, dtype=np.int64)[None, :]
    h = np.zeros(bsz, dtype=np.int64)          # scan position (start_idx)
    score = np.zeros(bsz, dtype=np.int64)
    alive = lens >= n_len
    bidx = np.arange(bsz)
    go, ge = scoring.gap_open_penalty, scoring.gap_extend_penalty

    for k in range(n_len):
        bound = lens - n_len + k
        m = (h_low == n_low[k]) & (cols >= h[:, None]) & (cols <= bound[:, None])
        found = m.any(axis=1)
        p = m.argmax(axis=1)  # first match position (0 when none — masked by found)
        alive &= found

        add = np.full(bsz, scoring.match_score, dtype=np.int64)
        gap_len = p - h  # chars skipped before the match
        gap = np.where(
            (gap_len > 0) & (k != 0), go + ge * np.maximum(gap_len - 1, 0), 0
        )
        score = np.maximum(score + add - gap, 0)
        bonus = np.where(hs[bidx, p] == nb[k], scoring.matching_case_bonus, 0)
        bonus = bonus + np.where(p == 0, scoring.prefix_bonus, 0)
        bonus = bonus + pos_bonus[bidx, p]
        score = np.where(alive, score + bonus, score)
        h = p + 1

    scores = np.where(alive, score, 0)
    exact = (lens == n_len) & np.array(
        [t == nb.tobytes() for t in texts], dtype=bool
    )
    scores[exact & alive] += scoring.exact_match_bonus
    return scores, exact & alive


def self_scores_batch(texts: list[bytes], scoring: Scoring = DEFAULT_SCORING) -> np.ndarray:
    """Vectorized closed-form self-alignment scores (see oracle.self_score)."""
    out = np.zeros(len(texts), dtype=np.int64)
    if not texts:
        return out
    arr, lens = _pad_bytes(texts)
    low, is_upper, is_lower, is_delim = _char_classes(arr, scoring.delimiters)
    w = arr.shape[1]
    pos_valid = np.arange(w)[None, :] < lens[:, None]

    prev_delim = np.zeros_like(is_delim)
    prev_delim[:, 1:] = is_delim[:, :-1]
    prev_lower = np.zeros_like(is_lower)
    prev_lower[:, 1:] = is_lower[:, :-1]
    seen_nondelim = np.zeros_like(is_delim)
    if w > 1:
        seen_nondelim[:, 1:] = np.cumsum(~is_delim, axis=1)[:, :-1] > 0

    per_char = (scoring.match_score + scoring.matching_case_bonus) * pos_valid
    delim_b = scoring.delimiter_bonus * (prev_delim & seen_nondelim & ~is_delim & pos_valid)
    cap_b = scoring.capitalization_bonus * (is_upper & prev_lower & pos_valid)
    cap_b[:, 0] = 0
    delim_b[:, 0] = 0

    out = (per_char + delim_b + cap_b).sum(axis=1).astype(np.int64)
    out[lens > 0] += scoring.prefix_bonus + scoring.exact_match_bonus
    return out


def normalized_similarity(
    scores: np.ndarray, self_a: np.ndarray, self_b: np.ndarray
) -> np.ndarray:
    """Map raw pair scores into [0, 1]: 2*score / (self(a) + self(b)).

    Identical texts reach ~1.0 (slightly under, because the pair score
    excludes the exact bonus counted in the self scores); unrelated texts
    sit near 0. This is the verify stage's decision statistic.
    """
    denom = (self_a + self_b).astype(np.float64)
    denom[denom == 0] = 1.0
    return np.clip(2.0 * scores.astype(np.float64) / denom, 0.0, 1.0)
