"""Fuzzy string matching — the reference's public API, Spark-first.

Local (driver/UDF-side, NumPy) core re-expressing the reference surface:
  - match_list            (reference: src/one_shot/matcher.rs:14-38)
  - match_indices         (reference: src/one_shot/indices.rs:13-56)
  - IncrementalMatcher    (reference: src/incremental/matcher.rs:6-118)

Distributed operators:
  - fuzzy_join(df, needles) — many needles against a DataFrame of
    candidate strings via ``mapInPandas`` (Arrow batches are the SIMD
    lanes, partitions replace the reference's scoped threads:
    src/one_shot/parallel/mod.rs:19-46);
  - fuzzy_match(df, needle) — fuzzy_join with one needle; the final
    sort/limit is ordinary Catalyst (``orderBy`` replaces the
    reference's rayon parallel sort).

Pipeline stages inside a batch (mirrors matcher.rs:91-144): min-length
filter -> char-count prefilter over a per-batch byte histogram -> greedy
routing for oversized strings -> length-bucket ladder -> batched
wavefront DP, one call per bucket across all needles -> typo filter.
IncrementalMatcher runs the same wavefront, resumed from the shared
needle prefix; the scoring recurrence lives only in
``functions/wavefront.py``.
The char-count prefilter is *tighter* than the reference's unordered SIMD
prefilter (no false negatives w.r.t. the typo budget: an absent needle
char always costs at least one typo), so post-DP results are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..constants import DEFAULT_CONFIG, LENGTH_BUCKETS, SW_MAX_CELLS, MatchConfig
from ..functions.oracle import (
    indices_from_score_matrix,
    match_greedy,
    match_too_large,
    smith_waterman,
    typos_from_score_matrix,
)
from ..functions.wavefront import (
    _Haystacks,
    _prepare_haystacks,
    _sw_skewed,
    greedy_batch,
    sw_batch,
)


@dataclass(frozen=True)
class Match:
    """Result row (reference: src/lib.rs:24-30)."""

    index: int
    score: int
    exact: bool


@dataclass(frozen=True)
class MatchIndices:
    """Per-pair alignment detail (reference: src/lib.rs:54-59)."""

    score: int
    indices: list[int]
    exact: bool


# S-buffer cells (skewed score matrix, see wavefront.sw_batch) one DP
# call may hold: joint calls over many needles are split to stay under it
DP_MAX_CELLS = 8 * 1024 * 1024


def byte_histograms(texts: list[bytes]) -> np.ndarray:
    """Case-folded byte counts per text, position-major ``(256, B)``.

    Built once per batch and shared by every needle's prefilter; stored
    in the smallest unsigned dtype that holds the largest count.
    """
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    folded = np.where((buf >= 65) & (buf <= 90), buf + 32, buf).astype(np.int64)
    owner = np.repeat(np.arange(len(texts)), lens)
    hist = np.bincount(folded * len(texts) + owner, minlength=256 * len(texts))
    hist = hist.reshape(256, len(texts))
    return hist.astype(np.min_scalar_type(int(hist.max()) if hist.size else 0))


def _char_count_prefilter(hist: np.ndarray, needle: bytes, max_typos: int) -> np.ndarray:
    """keep[b] = haystack b may match within the typo budget.

    Case-insensitive multiset containment: every needle char the haystack
    lacks costs at least one typo, so ``missing = sum_c max(need_c -
    have_c, 0)`` over the needle's folded chars. Plays the role of the
    reference's unordered prefilter (src/prefilter/simd/*/unordered*.rs)
    — a cheap may-match test with false positives, zero false negatives.
    ``hist`` comes from :func:`byte_histograms`.
    """
    nb = np.frombuffer(needle, dtype=np.uint8)
    uniq, need = np.unique(np.where((nb >= 65) & (nb <= 90), nb + 32, nb),
                           return_counts=True)
    short = need[:, None] - hist[uniq].astype(np.int64)
    return np.maximum(short, 0).sum(axis=0) <= max_typos


def match_needles(
    needles: list[str | bytes],
    texts: list[bytes],
    config: MatchConfig = DEFAULT_CONFIG,
    route: str = "auto",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Core batch matcher for many needles over one batch of texts.

    Returns flat arrays ``(needle_idx, positions, scores, typos, exact)``
    grouped by needle in input order, positions ascending within a
    needle; each needle's slice equals what it would get alone.
    ``positions`` index into ``texts``; rows failing the min-length
    filter, prefilter, or typo budget are dropped (unless max_typos is
    None, which scores everything; an empty needle keeps every row at
    score 0). No sorting by score here — callers sort.

    ``route`` overrides the cost-based kernel choice (reference:
    src/one_shot/mod.rs:20-25): "auto" sizes per row, "greedy" forces the
    linear-scan matcher, "dp" forces the DP wavefront. The DP rows of
    ALL needles that land in one length bucket are scored by one
    ``sw_batch`` call (split to stay under ``DP_MAX_CELLS``), so the
    interpreted per-diagonal work is paid once per bucket, not once per
    needle.
    """
    nbs = [n.encode() if isinstance(n, str) else bytes(n) for n in needles]
    count = len(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=count)
    max_typos = config.max_typos
    hist = None
    if max_typos is not None and config.prefilter and count:
        hist = byte_histograms(texts)

    # candidate rows per needle: min-length filter (matcher.rs:84-95) and
    # the char-count prefilter; an empty needle keeps every row unscored
    kept = []
    for nb in nbs:
        if max_typos is None or not nb:
            kept.append(np.arange(count))
            continue
        keep = lens >= max(0, len(nb) - max_typos)
        if hist is not None and keep.any():
            keep &= _char_count_prefilter(hist, nb, max_typos)
        kept.append(np.flatnonzero(keep))
    sizes = np.fromiter((k.size for k in kept), dtype=np.int64, count=len(kept))
    needle_idx = np.repeat(np.arange(len(nbs)), sizes)
    pos = np.concatenate(kept) if kept else np.zeros(0, dtype=np.int64)
    scores = np.zeros(pos.size, dtype=np.int64)
    typos = np.zeros(pos.size, dtype=np.int64)
    exact = np.zeros(pos.size, dtype=bool)
    nlen = np.fromiter((len(nb) for nb in nbs), dtype=np.int64, count=len(nbs))[needle_idx]
    scored = nlen > 0

    # cost-based routing: oversized matrices go to the greedy matcher
    # (one_shot/mod.rs:20-25), everything else into the bucket ladder
    kept_lens = lens[pos]
    if route == "greedy":
        greedy_mask = scored.copy()
    elif route == "dp":
        greedy_mask = np.zeros(pos.size, dtype=bool)
    else:
        greedy_mask = scored & ((nlen * kept_lens > SW_MAX_CELLS)
                                | (kept_lens > LENGTH_BUCKETS[-1]))
    g_rows = np.flatnonzero(greedy_mask)
    for k in np.unique(needle_idx[g_rows]):
        # batched NumPy greedy (differentially tested vs oracle.match_greedy)
        rows = g_rows[needle_idx[g_rows] == k]
        scores[rows], exact[rows] = greedy_batch(
            nbs[k], [texts[p] for p in pos[rows]], config.scoring)

    dp_rows = np.flatnonzero(scored & ~greedy_mask)
    if dp_rows.size:
        # length-bucket ladder (matcher.rs:115-132): one call per bucket
        # across all needles, lanes sorted by needle length so a chunk
        # pads its needles little
        bucket_of = np.searchsorted(np.array(LENGTH_BUCKETS), kept_lens[dp_rows])
        for bkt in np.unique(bucket_of):
            rows = dp_rows[bucket_of == bkt]
            rows = rows[np.argsort(nlen[rows], kind="stable")]
            n_max, w_max = int(nlen[rows[-1]]), int(kept_lens[rows].max())
            lane_cells = ((n_max + w_max + 1) if max_typos is not None else 3) * (n_max + 1)
            step = max(1, DP_MAX_CELLS // lane_cells)
            for c in range(0, rows.size, step):
                chunk = rows[c:c + step]
                scores[chunk], typos[chunk], exact[chunk] = sw_batch(
                    [nbs[k] for k in needle_idx[chunk]], [texts[p] for p in pos[chunk]],
                    config.scoring, compute_typos=max_typos is not None,
                )

    if max_typos is not None:
        # greedy-routed and unscored rows bypass the typo filter, as in the
        # reference (matcher.rs:104-112 appends greedy matches unconditionally)
        ok = (typos <= max_typos) | greedy_mask | ~scored
        needle_idx, pos, scores, typos, exact = (
            needle_idx[ok], pos[ok], scores[ok], typos[ok], exact[ok])
    return needle_idx, pos, scores, typos, exact


def match_list_arrays(
    needle: str | bytes,
    texts: list[bytes],
    config: MatchConfig = DEFAULT_CONFIG,
    route: str = "auto",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One-needle :func:`match_needles`: ``(kept_positions, scores, typos,
    exact)``."""
    return match_needles([needle], texts, config, route)[1:]


def match_list(
    needle: str | bytes,
    haystacks: list[str],
    config: MatchConfig = DEFAULT_CONFIG,
) -> list[Match]:
    """Reference-parity one-shot matcher (src/one_shot/matcher.rs:14-38)."""
    texts = [h.encode() if isinstance(h, str) else bytes(h) for h in haystacks]
    pos, scores, _, exact = match_list_arrays(needle, texts, config)
    if config.sort and pos.size:
        # total order: score desc, then index asc (src/lib.rs:37-44)
        order = np.lexsort((pos, -scores))
        pos, scores, exact = pos[order], scores[order], exact[order]
    return [Match(int(p), int(s), bool(e)) for p, s, e in zip(pos, scores, exact)]


def match_indices(
    needle: str | bytes,
    haystack: str | bytes,
    config: MatchConfig = DEFAULT_CONFIG,
) -> MatchIndices | None:
    """Single-pair alignment explain (src/one_shot/indices.rs:13-56).

    Deliberately unoptimized — call sparingly (the reference carries the
    same warning at indices.rs:10-12).
    """
    nb = needle.encode() if isinstance(needle, str) else bytes(needle)
    hb = haystack.encode() if isinstance(haystack, str) else bytes(haystack)
    if match_too_large(len(nb), len(hb), SW_MAX_CELLS):
        score, idx, exact = match_greedy(nb, hb, config.scoring)
        if score == 0 and not idx:
            return None
        return MatchIndices(score, idx, exact)
    score, matrix, exact = smith_waterman(nb, hb, config.scoring)
    if config.max_typos is not None:
        if typos_from_score_matrix(matrix) > config.max_typos:
            return None
    return MatchIndices(score, indices_from_score_matrix(matrix), exact)


class IncrementalMatcher:
    """Keystroke-to-keystroke matcher over a fixed haystack list
    (reference: src/incremental/matcher.rs:6-118).

    Haystacks are split into length buckets once at construction. Each
    bucket keeps the skewed score matrix ``S`` of the last needle, and a
    keystroke resumes ``wavefront.sw_batch``'s loop from it: the needle
    rows of the shared prefix are kept and only the rows after it
    are computed, the row floor of the one wavefront (reference:
    src/incremental/matcher.rs:89-118, bucket.rs:49-122). "ab" -> "abc"
    computes exactly one needle row per bucket
    (``stats["columns_computed"]`` counts needle rows, the reference's
    columns). Results are identical to :func:`match_list` with sorting
    enabled; oversized haystacks route through the (stateless, batched)
    greedy matcher per keystroke, as in the reference.
    """

    def __init__(self, haystacks: list[str], config: MatchConfig = DEFAULT_CONFIG):
        self.config = config
        self.haystacks = haystacks
        self._texts = [h.encode() for h in haystacks]
        self._lens = np.fromiter((len(t) for t in self._texts), dtype=np.int64,
                                 count=len(self._texts))
        self.stats = {"columns_computed": 0, "needles": 0}
        self._hist = byte_histograms(self._texts) if self._texts else None

        # length buckets as (global rows, their prepared haystacks); _S
        # holds each bucket's skewed score matrix of _needle, the last
        # non-empty needle
        self._buckets: list[tuple[np.ndarray, _Haystacks]] = []
        dp_rows = np.flatnonzero(self._lens <= LENGTH_BUCKETS[-1])
        if dp_rows.size:
            which = np.searchsorted(np.array(LENGTH_BUCKETS), self._lens[dp_rows])
            for b in np.unique(which):
                rows = dp_rows[which == b]
                self._buckets.append((rows, _prepare_haystacks(
                    [self._texts[r] for r in rows], config.scoring)))
        self._S: list[np.ndarray | None] = [None] * len(self._buckets)
        self._needle = b""

    def match_needle(self, needle: str | bytes) -> list[Match]:
        nb = needle.encode() if isinstance(needle, str) else bytes(needle)
        cfg = self.config
        self.stats["needles"] += 1
        n = len(nb)
        count = len(self._texts)
        if n == 0:
            out = [Match(int(i), 0, False) for i in range(count)]
            return out

        scores = np.zeros(count, dtype=np.int64)
        typos = np.zeros(count, dtype=np.int64)
        exact = np.zeros(count, dtype=bool)
        keep = np.ones(count, dtype=bool)
        # per-needle routing, as in match_list_arrays: oversized DP
        # matrices go greedy even for bucketed rows
        is_greedy = (n * self._lens > SW_MAX_CELLS) | (self._lens > LENGTH_BUCKETS[-1])

        # rows below the shared prefix are the same for every bucket
        cp = 0
        while cp < min(n, len(self._needle)) and nb[cp] == self._needle[cp]:
            cp += 1
        self._needle = nb
        for k, (rows, hay) in enumerate(self._buckets):
            scores[rows], typos[rows], exact[rows], self._S[k] = _sw_skewed(
                [nb] * rows.size, hay, cfg.scoring, cfg.max_typos is not None,
                resume=(self._S[k], cp))
            self.stats["columns_computed"] += n - cp

        g_rows = np.flatnonzero(is_greedy)
        if g_rows.size:
            gs, ge_ = greedy_batch(nb, [self._texts[r] for r in g_rows],
                                   cfg.scoring)
            scores[g_rows] = gs
            exact[g_rows] = ge_
            typos[g_rows] = 0

        if cfg.max_typos is not None:
            keep &= self._lens >= max(0, n - cfg.max_typos)
            if cfg.prefilter and keep.any():
                keep &= _char_count_prefilter(self._hist, nb, cfg.max_typos)
            # typo budget (greedy rows bypass it, as in match_list_arrays)
            keep &= (typos <= cfg.max_typos) | is_greedy

        pos = np.flatnonzero(keep)
        s, e = scores[pos], exact[pos]
        if cfg.sort and pos.size:
            order = np.lexsort((pos, -s))
            pos, s, e = pos[order], s[order], e[order]
        return [Match(int(p), int(v), bool(x)) for p, v, x in zip(pos, s, e)]


# --------------------------------------------------------------------------
# Spark operator
# --------------------------------------------------------------------------

def fuzzy_match(
    df,
    needle: str,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    config: MatchConfig = DEFAULT_CONFIG,
    limit: int | None = None,
    route: str = "auto",
):
    """Distributed one-needle-vs-table fuzzy match: :func:`fuzzy_join`
    with one needle, best-first when ``config.sort``. Result columns:
    ``id_cols + [score, typos, exact]``.

    ``route`` overrides the cost-based kernel choice (see
    match_list_arrays) — "greedy" is the long-document scale path and
    has a pure-SQL oracle in the driver contract.
    """
    from pyspark.sql import functions as F

    id_cols = id_cols or ["doc_id"]
    result = fuzzy_join(df, [(0, needle)], text_col, id_cols, config,
                        route=route).drop("needle_id")
    if config.sort:
        order = [F.desc("score")] + [F.asc(c) for c in id_cols]
        result = result.orderBy(*order)
        if limit is not None:
            result = result.limit(limit)  # TakeOrderedAndProject — top-k O3
    return result


def fuzzy_join(
    df,
    needles,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    config: MatchConfig = DEFAULT_CONFIG,
    per_needle_limit: int | None = None,
    route: str = "auto",
    max_needles: int = 10_000,
):
    """Many-needles fuzzy join — the relational generalization of the
    reference's one-needle API (entity matching: a dictionary of names /
    phrases / aliases against a document table).

    ``needles`` is a list of ``(needle_id, needle_str)`` pairs or a
    2-column DataFrame of the same shape. The needle side is BROADCAST
    (driver-held, capped at ``max_needles`` — a fuzzy join's needle side
    is a dictionary, not a second corpus; for corpus-vs-corpus use the
    dedup pipeline), and the haystack is scanned exactly ONCE: each
    Arrow batch goes through :func:`match_needles`, which prefilters
    every needle against one byte histogram of the batch and scores the
    survivors of all needles per length bucket in one DP call, so the
    cost is O(|needles| * corpus) kernel work with zero extra scans or
    shuffles. Arrow batches play the reference's SIMD-lane role; Spark
    partitions play its scoped threads (parallel/mod.rs:50-129 — global
    ids survive because they are columns, not positions).

    Catalyst pushdown: with a typo budget, docs shorter than
    min(len(needle) - max_typos) over the needle set can match nothing —
    that predicate pushes into the parquet scan; per-needle length
    gating happens in-kernel.

    ``per_needle_limit`` keeps the top-k rows per needle via a window
    (WindowGroupLimit: only ~k rows per needle survive below the final
    exchange), ties broken on id_cols ascending — deterministic, so the
    per-needle cut is a well-defined set for the SQL oracle.

    Output columns: ``[needle_id] + id_cols + [score, typos, exact]``.
    """
    from pyspark.sql import functions as F

    id_cols = id_cols or ["doc_id"]
    cfg = config
    if not isinstance(needles, list):
        rows = needles.limit(max_needles + 1).collect()
        if len(rows) > max_needles:
            raise ValueError(
                f"fuzzy_join needle side exceeds max_needles={max_needles}; "
                "a fuzzy join's needle side is a broadcast dictionary — "
                "for corpus-vs-corpus matching use the dedup pipeline"
            )
        needles = [(r[0], r[1]) for r in rows]
    if len(needles) > max_needles:
        raise ValueError(f"got {len(needles)} needles > max_needles={max_needles}")
    if not needles:
        raise ValueError("fuzzy_join needs at least one needle")
    pairs = [(nid, str(ns)) for nid, ns in needles]
    if len({nid for nid, _ in pairs}) != len(pairs):
        raise ValueError(
            "fuzzy_join needle_ids must be unique — duplicate ids share one "
            "row_number partition, so per_needle_limit would be applied "
            "jointly and their output rows are indistinguishable"
        )

    work = df.select(*id_cols, text_col)
    if cfg.max_typos is not None:
        min_len = min(
            max(0, len(ns.encode()) - cfg.max_typos) for _, ns in pairs
        )
        if min_len > 0:
            # min_len is in BYTES (the DP kernel is byte-oriented), so the
            # pushed predicate must compare bytes too: octet_length, not
            # length (chars) — a multi-byte doc can have octets >= min_len
            # but chars < min_len and must NOT be pruned
            work = work.filter(F.octet_length(F.col(text_col)) >= min_len)
    # widen AFTER the filter so the length predicate still pushes into the
    # scan; a one-file input otherwise runs the whole DP on one core
    from ..util import widen_if_narrow

    work = widen_if_narrow(work)

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in work.schema.fields if f.name != text_col
    )
    schema = f"needle_id long, {out_fields}, score long, typos long, exact boolean"
    needle_ids = np.array([int(nid) for nid, _ in pairs], dtype=np.int64)
    needle_strs = [ns for _, ns in pairs]

    def run(batches):
        for pdf in batches:
            texts = [
                t.encode("utf-8", "surrogatepass") if isinstance(t, str) else (t or b"")
                for t in pdf[text_col].tolist()
            ]
            k, pos, scores, typos, exact = match_needles(
                needle_strs, texts, cfg, route=route
            )
            out = pdf.iloc[pos].drop(columns=[text_col]).reset_index(drop=True)
            out.insert(0, "needle_id", needle_ids[k])
            out["score"] = scores
            out["typos"] = typos
            out["exact"] = exact
            yield out

    result = work.mapInPandas(run, schema=schema)
    if per_needle_limit is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("needle_id").orderBy(
            F.desc("score"), *[F.asc(c) for c in id_cols]
        )
        result = (
            result.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= per_needle_limit)
            .drop("_rn")
        )
    return result
