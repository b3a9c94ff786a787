"""Differential tests for the joint-needle matcher and the distinct-needle
typo kernel.

``match_needles`` scores the DP rows of every needle in one length
bucket with one ``sw_batch`` call; each needle's slice must equal what
``match_list_arrays`` returns for that needle alone, and both must equal
the scalar oracle. ``sw_batch`` lanes carry distinct needles, checked
against ``oracle.smith_waterman`` + ``typos_from_score_matrix`` at the
length-bucket ladder boundaries +/- 1.
"""

from collections import Counter

import numpy as np
import pytest

from frizbee_spark.constants import LENGTH_BUCKETS, SW_MAX_CELLS, MatchConfig
from frizbee_spark.functions.oracle import (
    match_greedy,
    smith_waterman,
    typos_from_score_matrix,
)
from frizbee_spark.functions.wavefront import sw_batch
from frizbee_spark.operators import fuzzy
from frizbee_spark.operators.fuzzy import (
    _char_count_prefilter,
    byte_histograms,
    match_list_arrays,
    match_needles,
)

ALPHABET = np.frombuffer(b"abcdeABCDE _-./:xyz", dtype=np.uint8)


def _rand(rng, n):
    return bytes(rng.choice(ALPHABET, size=n))


def _dictionary(seed, n_needles=24, n_docs=120):
    """Needles of 1-40 bytes, some planted in docs with an edit; docs
    from empty to past the greedy routing cap, plus multibyte ones."""
    rng = np.random.default_rng(seed)
    needles = [_rand(rng, int(rng.integers(1, 41))) for _ in range(n_needles)]
    docs = [b"", "café 日本 ab".encode(), "ÀBC".encode()]
    for _ in range(n_docs):
        doc = bytearray(_rand(rng, int(rng.integers(1, 140))))
        if rng.random() < 0.4:
            nb = bytearray(needles[int(rng.integers(0, n_needles))])
            nb[int(rng.integers(0, len(nb)))] = int(rng.choice(ALPHABET))
            at = int(rng.integers(0, len(doc) + 1))
            doc[at:at] = nb
        docs.append(bytes(doc))
    # long docs: greedy by SW_MAX_CELLS for long needles, by length for all
    docs += [_rand(rng, 600), _rand(rng, 450)]
    return needles, docs


def _split(needle_idx, *arrays, n):
    return [tuple(a[needle_idx == k] for a in arrays) for k in range(n)]


def _oracle_row(nb, hb, max_typos):
    """The matcher's per-pair decision from the scalar oracle: None when
    the pair is dropped, else (score, typos, exact)."""
    greedy = len(nb) * len(hb) > SW_MAX_CELLS or len(hb) > LENGTH_BUCKETS[-1]
    if max_typos is not None:
        if len(hb) < len(nb) - max_typos:
            return None
        have = Counter(hb.lower())
        missing = sum(max(c - have[ch], 0) for ch, c in Counter(nb.lower()).items())
        if missing > max_typos:
            return None
    if greedy:
        score, _, exact = match_greedy(nb, hb)
        return score, 0, exact
    score, matrix, exact = smith_waterman(nb, hb)
    typos = typos_from_score_matrix(matrix) if max_typos is not None else -1
    if max_typos is not None and typos > max_typos:
        return None
    return score, typos, exact


class TestJointMatcher:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    @pytest.mark.parametrize("max_typos", [None, 0, 2])
    def test_joint_equals_per_needle(self, seed, max_typos):
        needles, docs = _dictionary(seed)
        cfg = MatchConfig(max_typos=max_typos)
        joint = _split(*match_needles(needles, docs, cfg), n=len(needles))
        for k, nb in enumerate(needles):
            alone = match_list_arrays(nb, docs, cfg)
            for got, want in zip(joint[k], alone):
                np.testing.assert_array_equal(got, want)

    @pytest.mark.parametrize("max_typos", [None, 0, 2])
    def test_joint_equals_oracle(self, max_typos):
        needles, docs = _dictionary(4, n_needles=8, n_docs=40)
        cfg = MatchConfig(max_typos=max_typos)
        joint = _split(*match_needles(needles, docs, cfg), n=len(needles))
        for k, nb in enumerate(needles):
            pos, scores, typos, exact = joint[k]
            got = {int(p): (int(s), int(t), bool(e))
                   for p, s, t, e in zip(pos, scores, typos, exact)}
            want = {}
            for p, hb in enumerate(docs):
                row = _oracle_row(nb, hb, max_typos)
                if row is not None:
                    want[p] = row
            assert got == want, nb

    def test_chunked_equals_unchunked(self, monkeypatch):
        needles, docs = _dictionary(5)
        for max_typos in (None, 2):
            cfg = MatchConfig(max_typos=max_typos)
            whole = match_needles(needles, docs, cfg)
            calls = []
            real = fuzzy.sw_batch

            def counted(ns, hs, *a, **kw):
                calls.append(len(hs))
                return real(ns, hs, *a, **kw)

            monkeypatch.setattr(fuzzy, "DP_MAX_CELLS", 4000)
            monkeypatch.setattr(fuzzy, "sw_batch", counted)
            chunked = match_needles(needles, docs, cfg)
            monkeypatch.undo()
            assert len(calls) > len(LENGTH_BUCKETS)  # the budget split calls
            for got, want in zip(chunked, whole):
                np.testing.assert_array_equal(got, want)

    def test_one_dp_call_per_bucket(self, monkeypatch):
        needles, docs = _dictionary(6)
        calls = []
        real = fuzzy.sw_batch

        def counted(ns, hs, *a, **kw):
            calls.append(sorted({len(h) for h in hs}))
            return real(ns, hs, *a, **kw)

        monkeypatch.setattr(fuzzy, "sw_batch", counted)
        match_needles(needles, docs, MatchConfig(max_typos=None))
        buckets = [np.searchsorted(LENGTH_BUCKETS, lens) for lens in calls]
        assert all(len(set(b)) == 1 for b in buckets)
        assert len({b[0] for b in buckets}) == len(buckets)

    def test_empty_inputs(self):
        k, pos, s, t, e = match_needles([b"ab", b""], [], MatchConfig())
        assert k.size == pos.size == 0
        k, pos, s, t, e = match_needles([b""], [b"x", b"yy"], MatchConfig())
        assert pos.tolist() == [0, 1] and s.tolist() == [0, 0]


class TestHistogramPrefilter:
    @pytest.mark.parametrize("seed", [1, 2])
    def test_keep_set_equals_multiset_count(self, seed):
        needles, docs = _dictionary(seed)
        hist = byte_histograms(docs)
        assert hist.shape == (256, len(docs))
        for nb in needles:
            for budget in (0, 1, 3):
                keep = _char_count_prefilter(hist, nb, budget)
                want = []
                for hb in docs:
                    have = Counter(hb.lower())
                    need = Counter(nb.lower())
                    want.append(sum(max(c - have[ch], 0) for ch, c in need.items()) <= budget)
                assert keep.tolist() == want

    def test_large_counts_keep_dtype_wide_enough(self):
        hist = byte_histograms([b"a" * 70_000, b"b"])
        assert hist[ord("a"), 0] == 70_000 and hist[ord("b"), 1] == 1


class TestDistinctNeedleKernel:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_distinct_needles_at_ladder_boundaries(self, seed):
        rng = np.random.default_rng(seed)
        lengths = sorted({v + d for v in LENGTH_BUCKETS[:8] for d in (-1, 0, 1)})
        needles = [_rand(rng, int(rng.integers(1, 41))) for _ in range(160)]
        haystacks = [_rand(rng, int(rng.choice(lengths))) for _ in range(160)]
        # a share of lanes carry their own needle, edited, in the haystack
        for k in range(0, 160, 3):
            nb = bytearray(needles[k][: len(haystacks[k])])
            nb[0] = int(rng.choice(ALPHABET))
            haystacks[k] = bytes(nb) + haystacks[k][len(nb):]
        scores, typos, exact = sw_batch(needles, haystacks)
        plain, no_typos, _ = sw_batch(needles, haystacks, compute_typos=False)
        np.testing.assert_array_equal(plain, scores)
        assert (no_typos == -1).all()
        for k, (nb, hb) in enumerate(zip(needles, haystacks)):
            es, mat, ee = smith_waterman(nb, hb)
            assert (scores[k], typos[k], exact[k]) == (es, typos_from_score_matrix(mat), ee), \
                (nb, hb)
