"""In-process kernel timings on batches sampled from a workload's own
inputs, so a kernel change shows without Spark scheduling noise.

Work is reported as operation counts: shingled bytes for the signature
kernel, DP cells for the Smith-Waterman kernels. Banded cells count only
the band a pair's lengths admit, and full-DP cells only needle x haystack
bytes, so the counts depend on the inputs, not on padding.
"""

from __future__ import annotations

import contextlib
import time

import numpy as np

REPS = 3  # each kernel batch is timed this often; the median is kept
BANDED_BATCH = 64  # pairs per sw_score_banded call


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def band_cells(la: int, lb: int, radius: int) -> int:
    i = np.arange(la)
    lo = np.maximum(0, i - radius)
    hi = np.minimum(lb - 1, i + radius)
    return int(np.maximum(hi - lo + 1, 0).sum())


def signatures(texts: list[bytes]) -> dict[str, float]:
    from frizbee_spark.functions.hashing import compute_signature_arrays
    from frizbee_spark.operators.dedup import DEFAULT_DEDUP as d, SHORT_BAND_SEED

    def run():
        compute_signature_arrays(
            texts, d.shingle_k, d.num_perm, d.bands, d.band_rows,
            short_tier=(d.short_bands, d.short_band_rows, SHORT_BAND_SEED))

    busy = _median_time(run)
    n = sum(len(t) for t in texts)
    p = "hashing.compute_signature_arrays"
    return {f"{p}.bytes": n, f"{p}.busy_s": busy, f"{p}.bytes_per_s": n / busy}


def banded(pairs: list[tuple[bytes, bytes]]) -> dict[str, float]:
    """``sw_score_banded`` the way verify calls it: folded text, pairs
    sorted by length and scored in batches."""
    from frizbee_spark.functions.wavefront import sw_score_banded
    from frizbee_spark.operators.dedup import DEFAULT_DEDUP as d

    pairs = sorted(pairs, key=lambda p: max(len(p[0]), len(p[1])))
    chunks = [pairs[i:i + BANDED_BATCH] for i in range(0, len(pairs), BANDED_BATCH)]

    def run():
        for c in chunks:
            sw_score_banded([a for a, _ in c], [b for _, b in c],
                            band_radius=d.band_radius, assume_folded=True)

    busy = _median_time(run)
    cells = sum(band_cells(len(a), len(b), d.band_radius) for a, b in pairs)
    p = "wavefront.sw_score_banded"
    return {f"{p}.cells": cells, f"{p}.busy_s": busy, f"{p}.cells_per_s": cells / busy}


@contextlib.contextmanager
def _counting(module, name: str, rows, cells):
    """Wrap ``module.name`` to count the rows, DP cells and time of every
    call the module makes to it."""
    fn = getattr(module, name)
    stats = {"rows": 0, "cells": 0, "busy_s": 0.0}

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            stats["busy_s"] += time.perf_counter() - t0
            stats["rows"] += rows(*args)
            stats["cells"] += cells(*args)

    setattr(module, name, wrapper)
    try:
        yield stats
    finally:
        setattr(module, name, fn)


def match_list(needles: list[str], texts: list[bytes], max_typos: int) -> dict[str, float]:
    """``fuzzy.match_list_arrays`` for each needle over ``texts``, with the
    kernels it routes rows to (``sw_batch``, ``greedy_batch``) counted."""
    from frizbee_spark.constants import MatchConfig
    from frizbee_spark.operators import fuzzy

    cfg = MatchConfig(max_typos=max_typos)
    runs = []
    for _ in range(REPS):
        with _counting(fuzzy, "sw_batch", lambda ns, hs, *a: len(hs),
                       lambda ns, hs, *a: sum(len(n) * len(h) for n, h in zip(ns, hs))) as dp, \
             _counting(fuzzy, "greedy_batch", lambda n, hs, *a: len(hs),
                       lambda *a: 0) as greedy:
            t0 = time.perf_counter()
            kept = sum(len(fuzzy.match_list_arrays(n, texts, cfg)[0]) for n in needles)
            busy = time.perf_counter() - t0
        runs.append((busy, kept, dp, greedy))
    busy, kept, dp, greedy = sorted(runs, key=lambda r: r[0])[REPS // 2]
    rows_in = len(needles) * len(texts)
    sw_busy = dp["busy_s"]
    return {
        "fuzzy.match_list_arrays.busy_s": busy,
        "fuzzy.prefilter_keep_ratio": (dp["rows"] + greedy["rows"]) / rows_in,
        "fuzzy.dp_rows": dp["rows"],
        "fuzzy.greedy_rows": greedy["rows"],
        "fuzzy.match_ratio": kept / rows_in,
        "wavefront.sw_batch.cells": dp["cells"],
        "wavefront.sw_batch.busy_s": sw_busy,
        "wavefront.sw_batch.cells_per_s": dp["cells"] / sw_busy if sw_busy else 0.0,
    }
