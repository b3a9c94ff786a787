"""Seeded benchmark inputs. The program under test only ever sees what
these functions write to parquet; the same seed yields byte-identical
files.

- Web corpus: consecutive row-id windows over
  ``frizbee_spark.sources.corpus`` (60 % unique, 20 % exact, 12 % near,
  5 % span, 3 % boilerplate; ~2 KB docs). The seed picks where the
  windows start. Each window also carries the lower-id donor rows its
  copies were made from, so every truth pair has both sides present,
  and holds a fixed number of docs, donors included.
- Short-doc haystack: word salad over a small data-engineering
  vocabulary, median ~300 bytes, with a tail past the 512-byte DP
  ladder so both the DP and the greedy route run.
- Needles: 16-byte substrings of haystack docs with one substituted
  byte.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_SPAN = 1024  # corpus windows start below this row id
NEEDLE_LEN = 16
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window vector table customer stream join "
    "data the index merge shard page cache row field node plan task"
).split()
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), tag])


def window_offset(seed: int) -> int:
    return int(_rng(seed, 1).integers(0, WINDOW_SPAN))


def _window(docs: pa.Table, pairs: pa.Table, lo: int, size: int):
    """Rows from ``lo`` on, each with the donor its copy was made from,
    until ``size`` (or ``size + 1``) docs are taken; the truth pairs
    whose copy was taken; and the first row not taken."""
    row_of = {u: r for r, u in enumerate(docs.column("url").to_pylist())}
    donor_of = {row_of[b]: row_of[a] for a, b in zip(
        pairs.column("a_url").to_pylist(), pairs.column("b_url").to_pylist())}
    taken: set[int] = set()
    hi = lo
    while len(taken) < size:
        taken.add(hi)
        if hi in donor_of:
            taken.add(donor_of[hi])
        hi += 1
    in_window = pa.array([row_of[b] in taken and row_of[b] >= lo
                          for b in pairs.column("b_url").to_pylist()])
    return docs.take(sorted(taken)), pairs.filter(in_window), hi


def corpus_windows(seed: int, sizes: list[int]) -> list[tuple[pa.Table, pa.Table]]:
    """``(documents, truth_pairs)`` for consecutive windows of about the
    given doc counts, starting at the seed's offset. Fixing the doc count
    rather than the row span keeps a window's work the same across seeds."""
    from frizbee_spark.sources.corpus import generate_corpus

    lo = window_offset(seed)
    docs, pairs, _ = generate_corpus(lo + sum(sizes))
    out = []
    for n in sizes:
        docs_n, pairs_n, lo = _window(docs, pairs, lo, n)
        out.append((docs_n, pairs_n))
    return out


def split_increment(seed: int, docs: pa.Table, n: int) -> tuple[pa.Table, pa.Table]:
    """``(increment, base)``: ``n`` docs drawn by the seed, and the rest."""
    order = _rng(seed, 6).permutation(docs.num_rows)
    return docs.take(order[:n]), docs.take(order[n:])


def haystack(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, 3)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=int(n))])
             for n in rng.integers(7, 96, size=n_docs)]
    return pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": pa.array(texts, pa.string())})


def needles(seed: int, texts: list[str], n_lookups: int, per_lookup: int,
            max_source_len: int | None = None) -> list[list[tuple[int, str, int]]]:
    """``n_lookups`` needle dictionaries of ``(needle_id, needle,
    source_doc_id)``; needle ids are unique across all lookups. Sources
    are docs of ``NEEDLE_LEN + 2`` to ``max_source_len`` bytes."""
    rng = _rng(seed, 4)
    lens = np.array([len(t.encode()) for t in texts])
    ok = np.flatnonzero((lens >= NEEDLE_LEN + 2)
                        & (lens <= (max_source_len or lens.max())))
    out, nid = [], 0
    for _ in range(n_lookups):
        lookup = []
        for _ in range(per_lookup):
            src = int(ok[rng.integers(0, len(ok))])
            t = texts[src].encode()
            s = int(rng.integers(0, len(t) - NEEDLE_LEN + 1))
            nb = bytearray(t[s:s + NEEDLE_LEN])
            p = int(rng.integers(1, NEEDLE_LEN - 1))
            nb[p] = int(rng.choice(_LETTERS[_LETTERS != nb[p]]))
            lookup.append((nid, nb.decode(), src))
            nid += 1
        out.append(lookup)
    return out


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=2048)
    return path
