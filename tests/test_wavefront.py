"""Differential tests: batched wavefront kernel vs the scalar oracle.

Mirrors the reference's own strategy of asserting SIMD == scalar
(/root/reference/src/smith_waterman/reference/algorithm.rs:124-135) on
golden cases plus seeded random batches hitting the length-bucket ladder
boundaries (src/one_shot/matcher.rs:115-132) +/- 1.
"""

import hashlib

import numpy as np
import pytest

from frizbee_spark.constants import LENGTH_BUCKETS
from frizbee_spark.functions.oracle import (
    self_score,
    smith_waterman,
    typos_from_score_matrix,
)
from frizbee_spark.functions.wavefront import (
    normalized_similarity,
    self_scores_batch,
    sw_batch,
    sw_score_banded,
)

GOLDEN_PAIRS = [
    ("b", "abc"), ("c", "abc"), ("a", "abc"), ("a", "aabc"), ("a", "babc"),
    ("a", "-a"), ("-a", "-ab"), ("a", "'a"), ("a", "Ba"),
    ("a", "a"), ("abc", "abc"), ("ab", "abc"), ("abc", "ab"),
    ("-", "a--bc"), ("b", "a-b"), ("a", "a-b-c"), ("b", "a--b"), ("c", "a--bc"),
    ("a", "-a--bc"), ("-", "a-bc"), ("a_b", "a_bb"), ("a_b", "a__b"),
    ("test", "Uterst"), ("test", "Uterrst"), ("test", "Uterrs t"),
    ("a", "A"), ("A", "Aa"), ("D", "forDist"), ("D", "foRDist"), ("D", "FOR_DIST"),
    ("swap", "swap(test)"), ("swap", "iter_swap(test)"),
    ("_", "_private_member"), ("_", "public_member"),
    ("ac", "abc"), ("adc", "abc"), ("add", "abc"), ("ddd", "abc"),
    ("d", "x"), ("reba", "repack"), ("bbb", "abc"),
    ("deadbe", "deadbeef"), ("deadbe", "deadbf"), ("deadbe", "deadbeefg"),
    ("deadbe", "deadbe"),
]


def oracle_triple(needle: str, haystack: str):
    score, matrix, exact = smith_waterman(needle, haystack)
    return score, typos_from_score_matrix(matrix), exact


class TestGoldenParity:
    def test_golden_pairs_batch(self):
        needles = [n.encode() for n, _ in GOLDEN_PAIRS]
        haystacks = [h.encode() for _, h in GOLDEN_PAIRS]
        scores, typos, exact = sw_batch(needles, haystacks)
        for k, (n, h) in enumerate(GOLDEN_PAIRS):
            es, et, ee = oracle_triple(n, h)
            assert scores[k] == es, f"score mismatch for {n!r} vs {h!r}"
            assert typos[k] == et, f"typo mismatch for {n!r} vs {h!r}"
            assert exact[k] == ee, f"exact mismatch for {n!r} vs {h!r}"


def random_strings(rng, count, lengths, alphabet):
    out = []
    for _ in range(count):
        ln = int(rng.choice(lengths))
        out.append(bytes(rng.choice(alphabet, size=ln)) if ln else b"x")
    return out


# letters of both cases, delimiters, digits; the lowercase-only alphabet
# takes sw_batch's folded path (no per-cell case compare)
MIXED_CASE = b"abcdefghABCDEF-_ ./,:0123456789"
LOWER_CASE = b"abcdefgh-_ ./,:0123456789"


class TestRandomDifferential:
    @pytest.mark.parametrize("seed, alphabet", [
        *(pytest.param(s, MIXED_CASE, id=str(s)) for s in (1, 2, 3)),
        *(pytest.param(s, LOWER_CASE, id=f"lower-{s}") for s in (4, 5)),
    ])
    def test_random_batches(self, seed, alphabet):
        rng = np.random.default_rng(seed)
        alphabet = np.frombuffer(alphabet, dtype=np.uint8)
        # ladder boundary lengths +/- 1 (FIXTURES.md section 4)
        lengths = sorted({v + d for v in LENGTH_BUCKETS[:9] for d in (-1, 0, 1)})
        needles = random_strings(rng, 200, [1, 2, 3, 4, 6, 8, 12], alphabet)
        haystacks = random_strings(rng, 200, lengths, alphabet)

        scores, typos, exact = sw_batch(needles, haystacks)
        plain, no_typos, _ = sw_batch(needles, haystacks, compute_typos=False)
        np.testing.assert_array_equal(plain, scores)
        assert (no_typos == -1).all()
        for k in range(len(needles)):
            es, mat, ee = smith_waterman(needles[k], haystacks[k])
            et = typos_from_score_matrix(mat)
            assert scores[k] == es, (needles[k], haystacks[k])
            assert typos[k] == et, (needles[k], haystacks[k])
            assert exact[k] == ee

    def test_near_duplicate_like_inputs(self):
        # longer, word-ish strings with small edits — the verify workload
        rng = np.random.default_rng(7)
        words = [b"alpha", b"beta", b"gamma", b"delta", b"epsilon", b"zeta"]
        pairs = []
        for _ in range(40):
            base = b" ".join(words[int(rng.integers(0, 6))] for _ in range(12))
            edited = bytearray(base)
            for _ in range(int(rng.integers(0, 4))):
                pos = int(rng.integers(0, len(edited)))
                edited[pos] = int(rng.choice(np.frombuffer(b"xyzq", dtype=np.uint8)))
            pairs.append((base[:60], bytes(edited)[:64]))
        needles = [a for a, _ in pairs]
        haystacks = [b for _, b in pairs]
        scores, typos, exact = sw_batch(needles, haystacks)
        for k in range(len(pairs)):
            es, mat, ee = smith_waterman(needles[k], haystacks[k])
            assert scores[k] == es
            assert typos[k] == typos_from_score_matrix(mat)


class TestBanded:
    def test_band_covers_all_equals_full(self):
        rng = np.random.default_rng(11)
        alphabet = np.frombuffer(b"abcdef -_.", dtype=np.uint8)
        a = random_strings(rng, 50, [20, 30, 40], alphabet)
        b = random_strings(rng, 50, [20, 30, 40], alphabet)
        full_scores, _, exact = sw_batch(a, b, compute_typos=False)
        # subtract the exact bonus the banded kernel doesn't add
        full_scores = full_scores - np.where(exact, 8, 0)
        banded = sw_score_banded(a, b, band_radius=100)
        np.testing.assert_array_equal(banded, full_scores)

    def test_near_dup_similarity_separates(self):
        # identical-ish pairs score near 1, unrelated pairs near 0
        base = (b"the quick brown fox jumps over the lazy dog " * 20)[:800]
        edited = bytearray(base)
        edited[100:110] = b"XXXXXXXXXX"
        other = (b"lorem ipsum dolor sit amet consectetur adip " * 20)[:800]

        a = [base, base]
        b = [bytes(edited), other]
        scores = sw_score_banded(a, b, band_radius=32)
        sims = normalized_similarity(
            scores, self_scores_batch(a), self_scores_batch(b)
        )
        assert sims[0] > 0.9
        assert sims[1] < 0.3

    def test_shifted_span_within_band(self):
        # a 30-byte insertion shifts the alignment; band must absorb it
        base = (b"abcdefghij" * 50)[:480]
        shifted = b"Z" * 30 + base
        scores_wide = sw_score_banded([base], [shifted], band_radius=64)
        scores_narrow = sw_score_banded([base], [shifted], band_radius=8)
        assert scores_wide[0] > scores_narrow[0]  # narrow band truncates
        sims = normalized_similarity(
            scores_wide, self_scores_batch([base]), self_scores_batch([shifted])
        )
        assert sims[0] > 0.8

    def test_band_at_max_length_equals_unbanded(self):
        # a band as wide as the longest string clips nothing: scores,
        # typos and exact flags equal the unbanded matrices
        rng = np.random.default_rng(13)
        for alphabet in (b"abcdEFGH -_.:01", b"abcdefgh -_.:01"):
            alpha = np.frombuffer(alphabet, dtype=np.uint8)
            needles = random_strings(rng, 60, [1, 3, 7, 12, 20], alpha)
            haystacks = random_strings(rng, 60, [1, 5, 16, 31, 64], alpha)
            full = sw_batch(needles, haystacks)
            longest = max(len(s) for s in needles + haystacks)
            for r in (longest, longest + 5):
                banded = sw_batch(needles, haystacks, band_radius=r)
                for got, want in zip(banded, full):
                    np.testing.assert_array_equal(got, want)

    def test_banded_scores_pinned(self):
        # digest of sw_score_banded over mixed-case and lowercase batches
        # of edited, unrelated and identical pairs, recorded from the
        # rolling-buffer kernel this band clip replaced
        h = hashlib.sha256()
        for a, b in _banded_batches():
            for r in (1, 2, 3, 8, 48, 200):
                h.update(sw_score_banded(a, b, band_radius=r).astype("<i8").tobytes())
        assert h.hexdigest() == BANDED_DIGEST


BANDED_DIGEST = "8ba904714cefb372d5fdf9065d6ea924bd9a6f9c297b09073c538dd907ecfff6"


def _banded_batches():
    """Seeded (a, b) batches of edited, unrelated and identical pairs:
    two mixed-case, two lowercase-only (the folded path)."""
    batches = []
    for seed, alphabet in ((31, b"abcdefABCDEF -_.,:0123"), (32, b"xyzXYZ abc.-"),
                           (33, b"abcdefgh -_.,:0123"), (34, b"xyz abc.-")):
        rng = np.random.default_rng(seed)
        alpha = np.frombuffer(alphabet, dtype=np.uint8)
        a, b = [], []
        for k in range(30):
            base = bytes(rng.choice(alpha, size=int(rng.integers(0, 260))))
            if k % 3 == 0:
                e = bytearray(base)
                for _ in range(int(rng.integers(1, 8))):
                    pos = int(rng.integers(0, len(e) + 1))
                    op = int(rng.integers(0, 4))
                    if op == 0 and pos < len(e):
                        e[pos] = int(rng.choice(alpha))
                    elif op == 1:
                        e[pos:pos] = bytes(rng.choice(alpha, size=int(rng.integers(1, 30))))
                    elif op == 2:
                        del e[pos:pos + int(rng.integers(1, 30))]
                    else:
                        e[pos:pos] = bytes([int(rng.choice(alpha))])
                other = bytes(e)
            elif k % 3 == 1:
                other = bytes(rng.choice(alpha, size=int(rng.integers(1, 260))))
            else:
                other = base
            a.append(base)
            b.append(other)
        batches.append((a, b))
    return batches


class TestSelfScores:
    def test_matches_oracle(self):
        texts = [b"a", b"hello_world", b"Hello World", b"path/to/file.txt:1",
                 b"--lead", b"MiXeD CaSe", b"x" * 200]
        batch = self_scores_batch(texts)
        for k, t in enumerate(texts):
            assert batch[k] == self_score(t)

    def test_self_is_dp_max(self):
        # closed form == full DP on text vs itself
        texts = [b"fooBar baz", b"a-b_c.d", b"The Quick Brown"]
        batch = self_scores_batch(texts)
        full, _, exact = sw_batch(texts, texts, compute_typos=False)
        assert exact.all()
        np.testing.assert_array_equal(batch, full)


class TestGreedyBatch:
    """greedy_batch must equal the scalar oracle.match_greedy row-for-row
    (reference semantics: greedy.rs:9-103)."""

    def _check(self, needle: bytes, texts: list):
        from frizbee_spark.functions.oracle import match_greedy
        from frizbee_spark.functions.wavefront import greedy_batch

        scores, exact = greedy_batch(needle, texts)
        for k, t in enumerate(texts):
            es, _, ee = match_greedy(needle, t)
            assert scores[k] == es, f"score mismatch needle={needle!r} t={t!r}"
            assert exact[k] == ee, f"exact mismatch needle={needle!r} t={t!r}"

    def test_golden_pairs(self):
        by_needle = {}
        for n, h in GOLDEN_PAIRS:
            by_needle.setdefault(n.encode(), []).append(h.encode())
        for n, hs in by_needle.items():
            self._check(n, hs)

    @pytest.mark.parametrize("seed", [11, 12, 13])
    def test_random_batches(self, seed):
        rng = np.random.default_rng(seed)
        alphabet = np.frombuffer(b"abcABC_- ./x", dtype=np.uint8)
        for needle_len in (1, 3, 8, 16):
            needle = bytes(rng.choice(alphabet, size=needle_len))
            texts = random_strings(rng, 150, [0, 1, 5, 16, 40, 200, 600], alphabet)
            self._check(needle, texts)

    def test_gap_clamp_and_not_found(self):
        # large gaps force the max(0, score - gap) clamp; missing chars fail
        self._check(b"az", [b"a" + b"x" * 50 + b"z", b"a" + b"x" * 5 + b"z",
                            b"az", b"a", b"zzz", b"", b"qa z"])

    def test_sub_batching(self):
        from frizbee_spark.functions.oracle import match_greedy
        from frizbee_spark.functions.wavefront import greedy_batch

        texts = [b"ab" * (10 * (k + 1)) for k in range(40)]
        scores, exact = greedy_batch(b"aba", texts, max_cells=2000)
        for k, t in enumerate(texts):
            es, _, ee = match_greedy(b"aba", t)
            assert scores[k] == es and exact[k] == ee
