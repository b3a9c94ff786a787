"""Vectorized 64-bit hashing primitives for the dedup pipeline.

Everything here is pure NumPy over *concatenated* byte buffers — one
vectorized pass per Arrow batch, zero per-row Python. This is the
engine-side analog of the reference's "cheap approximate filter feeding an
exact verifier" design (/root/reference/src/prefilter/mod.rs:1-12,
README.md:49-52): MinHash-LSH and SimHash are our prefilters, the banded
Smith-Waterman wavefront (functions/wavefront.py) is the verifier. The
64-bit per-string fingerprint idea specifically echoes the reference's
dormant bitmask prefilter (/root/reference/src/prefilter/bitmask.rs:14-61).

Design notes for 100 TB scale:
- all kernels are O(total_bytes) with flat memory, driven by `reduceat`
  over per-doc offsets, so cost per Arrow batch is linear and cache-friendly;
- the rolling polynomial hash uses prefix sums + modular inverse of the
  base (odd => invertible mod 2^64), so k-gram hashing never materializes
  an (n, k) window matrix;
- all constants are fixed (no RNG state), so every executor computes
  byte-identical signatures — a hard requirement for deterministic,
  resumable runs.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)

# splitmix64 constants (public domain PRNG finalizer, Steele et al.)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)

# polynomial rolling-hash base: odd => invertible modulo 2^64
_POLY_BASE = _U64(0x100000001B3)  # FNV-ish odd multiplier
_POLY_BASE_INV = _U64(pow(0x100000001B3, -1, 1 << 64))


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 -> well-mixed uint64."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x, dtype=_U64) + _SM_GAMMA) & _MASK64
        z = ((z ^ (z >> _U64(30))) * _SM_M1) & _MASK64
        z = ((z ^ (z >> _U64(27))) * _SM_M2) & _MASK64
        return z ^ (z >> _U64(31))


def mix_seed(x: np.ndarray, seed: int) -> np.ndarray:
    """Seeded remix: one multiply + finalize per element."""
    return splitmix64(np.asarray(x, dtype=_U64) ^ splitmix64(_U64(seed)))


def hash64_bytes(data: bytes) -> int:
    """64-bit hash of one byte string (driver-side convenience)."""
    arr = np.frombuffer(data, dtype=np.uint8).astype(_U64)
    if arr.size == 0:
        return int(splitmix64(_U64(0)))
    with np.errstate(over="ignore"):
        pows = np.empty(arr.size, dtype=_U64)
        pows[0] = _U64(1)
        np.cumprod(np.full(arr.size - 1, _POLY_BASE, dtype=_U64), out=pows[1:])
        h = _U64(int((arr * pows).sum(dtype=_U64)) ^ arr.size)
    return int(splitmix64(h))


def hash64_batch(blobs: list[bytes]) -> np.ndarray:
    """Vectorized :func:`hash64_bytes` over a batch — identical values.

    One concatenated prefix-sum pass (chunked, origin-invariant like
    :func:`char_shingle_hashes`) instead of a Python loop per blob:
    hash(doc) = splitmix64(((P[end] - P[start]) * BASE^-start) ^ len).
    """
    n = len(blobs)
    out = np.empty(n, dtype=_U64)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])

    with np.errstate(over="ignore"):
        for d0, d1 in _doc_chunks(starts, _SHINGLE_CHUNK):
            b0, b1 = int(starts[d0]), int(starts[d1])
            m = b1 - b0
            pows, invpows = _pow_tables(m)
            chunk = buf[b0:b1].astype(_U64)
            chunk *= pows[:m]
            prefix = np.zeros(m + 1, dtype=_U64)
            np.cumsum(chunk, out=prefix[1:])
            s_local = starts[d0:d1] - b0
            e_local = starts[d0 + 1 : d1 + 1] - b0
            raw = (prefix[e_local] - prefix[s_local]) * invpows[s_local]
            out[d0:d1] = splitmix64(raw ^ lens[d0:d1].astype(_U64))
    return out


def byte_entropy_batch(blobs: list[bytes]) -> np.ndarray:
    """Per-blob Shannon entropy (bits/byte) via one flat bincount over
    (blob_index * 256 + byte) — no per-blob Python loop. Empty blobs
    get entropy 0."""
    n = len(blobs)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    hist = np.bincount(doc_idx * 256 + buf, minlength=n * 256).reshape(n, 256)
    denom = np.maximum(lens, 1)[:, None].astype(np.float64)
    p = hist / denom
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(hist > 0, p * np.log2(np.where(p > 0, p, 1.0)), 0.0)
    return -terms.sum(axis=1)


def concat_docs(texts: list[bytes], min_len: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate docs into one uint8 buffer, padding each to >= min_len.

    Returns (buffer, doc_starts) where doc_starts has len(texts)+1 entries
    (CSR-style offsets into the buffer).
    """
    lens = np.fromiter((max(len(t), min_len) for t in texts), dtype=np.int64, count=len(texts))
    starts = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    buf = np.zeros(int(starts[-1]), dtype=np.uint8)
    for i, t in enumerate(texts):
        if t:
            buf[starts[i] : starts[i] + len(t)] = np.frombuffer(t, dtype=np.uint8)
    return buf, starts


_POW_CACHE: dict[str, np.ndarray] = {}
_SHINGLE_CHUNK = 1 << 16  # bytes per chunk; per-pass temporaries stay L2-resident
# per core even under full task concurrency (measured 3.5x on 32 procs)


def _doc_chunks(starts: np.ndarray, limit: int, max_docs: int | None = None):
    """Doc-aligned chunks ``(d0, d1)`` over CSR offsets ``starts``: each
    spans at most ``limit`` elements (a lone larger doc is its own chunk)
    and at most ``max_docs`` docs."""
    n = starts.size - 1
    d0 = 0
    while d0 < n:
        d1 = d0 + 1
        b0 = int(starts[d0])
        while (d1 < n and (max_docs is None or d1 - d0 < max_docs)
               and int(starts[d1 + 1]) - b0 <= limit):
            d1 += 1
        yield d0, d1
        d0 = d1


def _pow_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    """Cached BASE^i / BASE^-i tables (grown on demand, shared per process)."""
    pows = _POW_CACHE.get("pows")
    if pows is None or pows.size < n + 1:
        size = max(n + 1, _SHINGLE_CHUNK + 1)
        with np.errstate(over="ignore"):
            p = np.empty(size, dtype=_U64)
            p[0] = _U64(1)
            np.cumprod(np.full(size - 1, _POLY_BASE, dtype=_U64), out=p[1:])
            q = np.empty(size, dtype=_U64)
            q[0] = _U64(1)
            np.cumprod(np.full(size - 1, _POLY_BASE_INV, dtype=_U64), out=q[1:])
        _POW_CACHE["pows"], _POW_CACHE["invpows"] = p, q
    return _POW_CACHE["pows"], _POW_CACHE["invpows"]


def char_shingle_hashes(
    buf: np.ndarray, doc_starts: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Mixed 64-bit hashes of every char k-gram of every doc.

    ``buf``/``doc_starts`` are from :func:`concat_docs` (docs padded to
    >= k bytes so every doc yields >= 1 shingle). Uses prefix sums of
    b[t] * BASE^t and the modular inverse of BASE, so the k-gram hash at
    position i is (P[i+k] - P[i]) * BASE^-i — O(n) total, no window
    matrix. Returns (shingle_hashes, shingle_starts) CSR-style.

    Processed in doc-aligned ~256 KB chunks with cached power tables so
    every intermediate stays cache-resident: the hash value is invariant
    to the chunk-local origin (shifting the origin scales prefix sums by
    BASE^shift, which the invpows factor cancels), so chunking changes
    nothing but memory traffic — under 32-way task concurrency this is
    ~10x over the naive whole-buffer version (DRAM-bound).
    """
    n = buf.size
    doc_lens = np.diff(doc_starts)
    if doc_lens.size == 0 or n == 0:
        return np.empty(0, dtype=_U64), np.zeros(doc_starts.size, dtype=np.int64)
    if np.any(doc_lens < k):
        raise ValueError("concat_docs must pad docs to at least k bytes")
    counts = doc_lens - k + 1
    sh_starts = np.zeros(doc_starts.size, dtype=np.int64)
    np.cumsum(counts, out=sh_starts[1:])
    total = int(sh_starts[-1])
    out = np.empty(total, dtype=_U64)

    pows, invpows = _pow_tables(int(doc_lens.max()))
    prefix_buf = np.empty(min(n, _SHINGLE_CHUNK + int(doc_lens.max())) + 1, dtype=_U64)

    with np.errstate(over="ignore"):
        for d0, d1 in _doc_chunks(doc_starts, _SHINGLE_CHUNK):
            b0, b1 = int(doc_starts[d0]), int(doc_starts[d1])
            m = b1 - b0
            if prefix_buf.size < m + 1:
                prefix_buf = np.empty(m + 1, dtype=_U64)
            chunk = buf[b0:b1].astype(_U64)
            chunk *= pows[:m]
            prefix = prefix_buf[: m + 1]
            prefix[0] = _U64(0)
            np.cumsum(chunk, out=prefix[1:], dtype=_U64)

            s0, s1 = int(sh_starts[d0]), int(sh_starts[d1])
            c = counts[d0:d1]
            local = np.arange(s1 - s0, dtype=np.int64) - np.repeat(
                sh_starts[d0:d1] - s0, c
            )
            pos = np.repeat(doc_starts[d0:d1] - b0, c) + local
            raw = (prefix[pos + k] - prefix[pos]) * invpows[pos]
            out[s0:s1] = splitmix64(raw)
    return out, sh_starts


_OPH_VBITS = 40          # signature-value bits kept from each shingle hash
_OPH_EMPTY = _U64(1) << _U64(_OPH_VBITS + 1)  # sentinel above the value range


def minhash_signatures(
    shingle_hashes: np.ndarray,
    shingle_starts: np.ndarray,
    num_perm: int = 128,
    seed: int = 1,
) -> np.ndarray:
    """(ndocs, num_perm) uint64 one-permutation MinHash signatures.

    One-permutation hashing with rotation densification (Li et al.,
    NIPS'12; Shrivastava & Li, ICML'14 — public algorithms). Each shingle
    lands in bin ``h >> (64-log2(num_perm))`` and the per-(doc, bin)
    minimum of the next ``_OPH_VBITS`` hash bits is the signature slot;
    empty bins borrow (remixed) from the nearest filled bin. ONE pass over
    the shingles instead of ``num_perm`` — this is what makes the stage
    compute-bound instead of DRAM-bound: a k-permutation family moves
    ~3 KB of memory per input byte (measured: 32-core aggregate
    throughput 5x lower than 8-core x4 on one machine), OPH moves ~30 B.

    A fixed seeded family, identical on every executor, and per-doc
    deterministic (invariant to batch/chunk boundaries). The per-chunk
    core is :func:`_oph_chunk`, shared with
    :func:`compute_signature_arrays`.
    """
    ndocs = shingle_starts.size - 1
    sig = np.empty((ndocs, num_perm), dtype=_U64)
    if ndocs == 0:
        return sig
    bits = int(num_perm).bit_length() - 1
    if (1 << bits) != num_perm:
        raise ValueError(f"num_perm must be a power of two, got {num_perm}")
    # seed folds into the binning/value remix so different seeds give
    # independent families
    sseed = splitmix64(_U64(seed) ^ _U64(0x0F1E2D3C4B5A6978))
    max_docs = max((1 << (64 - _OPH_VBITS)) // num_perm, 1)
    with np.errstate(over="ignore"):
        for d0, d1 in _doc_chunks(shingle_starts, _SHINGLE_CHUNK, max_docs):
            s0, s1 = int(shingle_starts[d0]), int(shingle_starts[d1])
            _oph_chunk(splitmix64(shingle_hashes[s0:s1] ^ sseed),
                       shingle_starts[d0:d1] - s0, num_perm, bits, sig[d0:d1])
    return sig


def _densify_rotation(slots: np.ndarray) -> None:
    """Fill empty OPH bins in place by borrowing the nearest filled bin's
    value (circular), remixed with the rotation distance so adjacent
    borrowed slots stay distinct (Shrivastava & Li ICML'14 rotation
    scheme). Deterministic: identical shingle sets densify identically."""
    empty = slots == _OPH_EMPTY
    if not empty.any():
        return
    orig = slots.copy()
    vmask = (_U64(1) << _U64(_OPH_VBITS)) - _U64(1)
    num_perm = slots.shape[1]
    with np.errstate(over="ignore"):
        for k in range(1, num_perm):
            cand = np.roll(orig, -k, axis=1)
            fill = empty & (cand != _OPH_EMPTY)
            if fill.any():
                slots[fill] = splitmix64(cand[fill] ^ (_U64(k) * _SM_GAMMA)) & vmask
                empty &= ~fill
            if not empty.any():
                return


def _oph_chunk(
    h: np.ndarray, local_starts: np.ndarray, num_perm: int, bits: int,
    sig_out: np.ndarray,
) -> None:
    """OPH core for one doc-aligned chunk (see :func:`minhash_signatures`).

    One uint64 sort key per shingle packs ``(doc_local * num_perm + bin)
    << VBITS | value``, so a single ``np.sort`` + group-first-occurrence
    yields every (doc, bin) minimum. VBITS is fixed (not chunk-dependent)
    so results are invariant to chunking; callers cap a chunk's docs so
    the packed doc*bin index fits. ``h`` must already be remixed; writes
    (len(local_starts), num_perm) into sig_out."""
    vshift = _U64(64 - _OPH_VBITS)
    vmask = (_U64(1) << _U64(_OPH_VBITS)) - _U64(1)
    counts = np.diff(np.append(local_starts, h.size))
    with np.errstate(over="ignore"):
        nbin = (h >> _U64(64 - bits)) if bits else np.zeros(h.size, dtype=_U64)
        value = ((h << _U64(bits)) >> vshift) & vmask
        doc_local = np.repeat(np.arange(local_starts.size, dtype=_U64), counts)
        key = ((doc_local * _U64(num_perm) + nbin) << _U64(_OPH_VBITS)) | value
        key = np.sort(key)
        comb = key >> _U64(_OPH_VBITS)
        first = np.empty(key.size, dtype=bool)
        first[0] = True
        first[1:] = comb[1:] != comb[:-1]
        slots = np.full(local_starts.size * num_perm, _OPH_EMPTY, dtype=_U64)
        slots[comb[first].astype(np.int64)] = key[first] & vmask
        slots = slots.reshape(local_starts.size, num_perm)
        _densify_rotation(slots)
        sig_out[:] = slots


def _simhash_chunk(
    hc: np.ndarray, local_starts: np.ndarray, out: np.ndarray
) -> None:
    """64-bit-majority SimHash for one chunk; writes uint64 into out."""
    counts = np.diff(np.append(local_starts, hc.size))
    one = _U64(1)
    acc = np.zeros(local_starts.size, dtype=_U64)
    for j in range(64):
        bitsum = np.add.reduceat((hc >> _U64(j)) & one, local_starts)
        acc |= ((2 * bitsum > counts).astype(_U64)) << _U64(j)
    out[:] = acc


def compute_signature_arrays(
    texts: list[bytes],
    k: int,
    num_perm: int = 128,
    bands: int = 32,
    band_rows: int = 4,
    seed: int = 1,
    short_tier: tuple[int, int, int] | None = None,
) -> tuple[np.ndarray, ...]:
    """FUSED signature kernel: shingle-hash -> OPH MinHash -> SimHash in
    one pass over doc-aligned ~64 KB chunks, so the shingle-hash array (8
    bytes per input byte) stays cache-resident across all consumers
    instead of round-tripping DRAM three times. On a machine where 8
    cores already saturate half the memory bandwidth, this is the
    difference between ~0.5 and ~0.8+ strong-scaling efficiency for the
    signature stage. Values are identical to running the standalone
    kernels (differentially tested).

    ``short_tier`` = (bands2, rows2, seed2): ALSO derive a second band-key
    matrix from the same signature (narrower bands -> wider LSH envelope;
    the caller gates which docs keep these keys, e.g. by byte length).
    Banding is arithmetic on the already-computed signature, so the extra
    tier costs ~nothing next to shingling.

    Returns (band_keys int64 (ndocs, bands), simhash int64 (ndocs,))
    [+ short_keys int64 (ndocs, bands2) when short_tier is given].
    """
    bits = int(num_perm).bit_length() - 1
    if (1 << bits) != num_perm:
        raise ValueError(f"num_perm must be a power of two, got {num_perm}")
    if bands * band_rows > num_perm:
        raise ValueError(f"bands*rows={bands * band_rows} exceeds {num_perm}")
    ndocs = len(texts)
    sig = np.empty((ndocs, num_perm), dtype=_U64)
    simh = np.empty(ndocs, dtype=_U64)
    if ndocs == 0:
        out = (band_hashes(sig, bands, band_rows).reshape(0, bands),
               simh.view(np.int64))
        if short_tier is not None:
            b2, r2, s2 = short_tier
            out += (band_hashes(sig, b2, r2, seed=s2).reshape(0, b2),)
        return out

    buf, starts = concat_docs(texts, min_len=k)
    doc_lens = np.diff(starts)
    counts = doc_lens - k + 1
    sseed = splitmix64(_U64(seed) ^ _U64(0x0F1E2D3C4B5A6978))
    pows, invpows = _pow_tables(int(doc_lens.max()))
    max_docs = max((1 << (64 - _OPH_VBITS)) // num_perm, 1)

    with np.errstate(over="ignore"):
        for d0, d1 in _doc_chunks(starts, _SHINGLE_CHUNK, max_docs):
            b0, b1 = int(starts[d0]), int(starts[d1])
            m = b1 - b0
            # shingle hashes for this chunk (origin-invariant prefix sums,
            # same derivation as char_shingle_hashes)
            chunk = buf[b0:b1].astype(_U64)
            chunk *= pows[:m]
            prefix = np.empty(m + 1, dtype=_U64)
            prefix[0] = _U64(0)
            np.cumsum(chunk, out=prefix[1:])
            c = counts[d0:d1]
            local_sh_starts = np.zeros(d1 - d0, dtype=np.int64)
            np.cumsum(c[:-1], out=local_sh_starts[1:])
            total_sh = int(local_sh_starts[-1] + c[-1])
            local = np.arange(total_sh, dtype=np.int64) - np.repeat(
                local_sh_starts, c
            )
            pos = np.repeat(starts[d0:d1] - b0, c) + local
            sh = splitmix64((prefix[pos + k] - prefix[pos]) * invpows[pos])

            # consumers run while `sh` is cache-hot
            _oph_chunk(splitmix64(sh ^ sseed), local_sh_starts, num_perm,
                       bits, sig[d0:d1])
            _simhash_chunk(sh, local_sh_starts, simh[d0:d1])

    out = (band_hashes(sig, bands, band_rows), simh.view(np.int64))
    if short_tier is not None:
        b2, r2, s2 = short_tier
        out += (band_hashes(sig, b2, r2, seed=s2),)
    return out


def band_hashes(signatures: np.ndarray, bands: int, rows: int, seed: int = 2) -> np.ndarray:
    """(ndocs, bands) int64 LSH band keys from (ndocs, P) signatures.

    Band b combines signature columns [b*rows, (b+1)*rows) order-sensitively
    (position-seeded remix + XOR), then finalizes with the band index so
    identical row-chunks in different bands never collide. int64 output
    (bit-identical reinterpret of uint64) because Spark has no unsigned type.
    """
    ndocs, p = signatures.shape
    if bands * rows > p:
        raise ValueError(f"bands*rows={bands * rows} exceeds signature width {p}")
    acc = np.zeros((ndocs, bands), dtype=_U64)
    for r in range(rows):
        cols = signatures[:, np.arange(bands) * rows + r]
        acc ^= splitmix64(cols ^ splitmix64(_U64(seed) + _U64(r)))
    out = splitmix64(acc ^ splitmix64(np.arange(bands, dtype=_U64) + _U64(seed)))
    return out.view(np.int64)


def simhash64(shingle_hashes: np.ndarray, shingle_starts: np.ndarray) -> np.ndarray:
    """64-bit SimHash per doc (bit-majority over shingle hashes), int64.

    Scale/precedent note: this is the per-doc fingerprint analog of the
    reference's bitmask prefilter (bitmask.rs:14-61) — compared later by
    Hamming distance, not equality.
    """
    out = np.zeros(shingle_starts.size - 1, dtype=_U64)
    # doc-aligned chunks sized so the 64 bit-pass temporaries stay
    # L2-resident per core (512 KB at 1<<16 shingles): measured 2.6x
    # faster than 2 MB chunks under 32-way task concurrency, because the
    # per-pass temp arrays otherwise round-trip shared DRAM
    for d0, d1 in _doc_chunks(shingle_starts, _SHINGLE_CHUNK):
        s0, s1 = int(shingle_starts[d0]), int(shingle_starts[d1])
        _simhash_chunk(shingle_hashes[s0:s1], shingle_starts[d0:d1] - s0, out[d0:d1])
    return out.view(np.int64)


def winnow_fingerprints(
    shingle_hashes: np.ndarray,
    shingle_starts: np.ndarray,
    window: int = 64,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Winnowing (Schleimer et al., SIGMOD'03 — public algorithm): per doc,
    the min shingle hash of every length-`window` window, deduped on
    consecutive repeats. Guarantees any shared run of >= window+k-1 bytes
    between two docs shares >= 1 fingerprint — the long-exact-span
    candidate pass (our analog of rerouting oversized inputs,
    /root/reference/src/one_shot/mod.rs:20-25).

    Returns (fingerprints, positions, fp_starts) CSR-style; docs with
    fewer than `window` shingles contribute their single global min.
    ``positions`` is each fingerprint's doc-relative shingle index (== byte
    offset of the shingle, step-1 byte shingling), so a downstream consumer
    can byte-compare the actual k-gram behind a shared fingerprint without
    re-shingling the document (JVM ``substring`` on the encoded text).
    """
    ndocs = shingle_starts.size - 1
    if ndocs == 0:
        z64 = np.zeros(1, dtype=np.int64)
        return np.empty(0, dtype=_U64), np.empty(0, dtype=np.int64), z64
    counts = np.diff(shingle_starts)

    # sliding min over the concatenated hash array via sparse-table
    # doubling: O(n log w) instead of the O(n*w) windowed reduce. After
    # k doubling passes tmp[i] = min over [i, i+2^k); the final offset min
    # combines two power-of-two spans covering the full window. Processed
    # in overlapping chunks (overlap = window-1 so every window is
    # complete) to keep the log(w) passes L2-resident. Windows crossing
    # doc boundaries are computed but masked out below.
    total = shingle_hashes.size
    if total >= window:
        n_out = total - window + 1
        rolled = np.empty(n_out, dtype=_U64)
        step = _SHINGLE_CHUNK
        for b0 in range(0, n_out, step):
            b1 = min(b0 + step, n_out)
            tmp = shingle_hashes[b0 : b1 + window - 1].copy()
            span = 1
            m = tmp.size
            while span * 2 <= window:
                tmp[: m - span] = np.minimum(tmp[: m - span], tmp[span:])
                span *= 2
            k = b1 - b0
            rolled[b0:b1] = np.minimum(tmp[:k], tmp[window - span : window - span + k])
    else:
        rolled = None

    # docs with < window shingles contribute their single global min
    doc_min = np.minimum.reduceat(shingle_hashes, shingle_starts[:-1])
    big = (counts >= window) if rolled is not None else np.zeros(ndocs, dtype=bool)
    small_docs = np.flatnonzero(~big)

    # big docs, fully flat (no per-doc Python, no O(total) index
    # temporaries): each doc's valid window-min region inside `rolled` is
    # [doc_start, doc_start + count - window + 1). Consecutive-repeat
    # dedup is one shifted compare; candidates are then range-filtered by
    # binary search against the (sorted, disjoint) regions — O(kept log
    # ndocs) on the few survivors instead of an O(total) mask build (a
    # +1/-1 cumsum mask was measured 20-50x slower: np.cumsum on an int32
    # delta takes the scalar upcast-to-int64 path at ~10 M elem/s)
    big_docs = np.flatnonzero(big)
    if big_docs.size:
        bstarts = shingle_starts[:-1][big_docs]
        bends = bstarts + (counts[big_docs] - window + 1)
        keep = np.empty(n_out, dtype=bool)
        keep[0] = True
        keep[1:] = rolled[1:] != rolled[:-1]  # dedupe consecutive mins
        keep[bstarts] = True                   # region firsts always kept
        kpos = np.flatnonzero(keep)
        # region membership: the region index whose start is at or before
        # kpos must also end after it
        ridx = np.searchsorted(bstarts, kpos, side="right") - 1
        in_region = (ridx >= 0) & (kpos < bends[np.maximum(ridx, 0)])
        kpos = kpos[in_region]
        kept_val = rolled[kpos]
        kept_doc = big_docs[ridx[in_region]]
        # position of the min inside each kept window [kpos, kpos+window):
        # chunked gather keeps the (m, window) compare matrix L2-resident
        kept_pos = np.empty(kpos.size, dtype=np.int64)
        ar = np.arange(window, dtype=np.int64)
        CH = 1 << 15
        for i0 in range(0, kpos.size, CH):
            i1 = min(i0 + CH, kpos.size)
            idx = kpos[i0:i1, None] + ar
            eq = shingle_hashes[idx] == kept_val[i0:i1, None]
            kept_pos[i0:i1] = kpos[i0:i1] + eq.argmax(axis=1)
    else:
        kept_doc = np.empty(0, dtype=np.int64)
        kept_val = np.empty(0, dtype=_U64)
        kept_pos = np.empty(0, dtype=np.int64)

    # small docs: first occurrence of the doc's global min
    if small_docs.size:
        sstarts = shingle_starts[:-1][small_docs]
        scnt = counts[small_docs]
        wmax = int(scnt.max()) if scnt.size else 0
        ar = np.arange(max(wmax, 1), dtype=np.int64)
        idx = np.minimum(sstarts[:, None] + ar, shingle_hashes.size - 1)
        eq = (shingle_hashes[idx] == doc_min[small_docs][:, None]) & (
            ar < scnt[:, None]
        )
        small_pos = sstarts + eq.argmax(axis=1)
    else:
        small_pos = np.empty(0, dtype=np.int64)

    all_doc = np.concatenate([kept_doc, small_docs])
    all_val = np.concatenate([kept_val, doc_min[small_docs]])
    all_pos = np.concatenate([kept_pos, small_pos])
    order = np.lexsort((all_pos, all_val, all_doc))
    d_s, v_s, p_s = all_doc[order], all_val[order], all_pos[order]
    uniq = np.empty(d_s.size, dtype=bool)
    uniq[0] = True
    uniq[1:] = (d_s[1:] != d_s[:-1]) | (v_s[1:] != v_s[:-1])
    fp = v_s[uniq]
    # doc-relative byte offset of the (first, by position) occurrence
    pos = p_s[uniq] - shingle_starts[:-1][d_s[uniq]]
    sizes = np.bincount(d_s[uniq], minlength=ndocs)

    fp_starts = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(sizes, out=fp_starts[1:])
    return fp, pos, fp_starts


def jaccard_from_shingles(
    shingle_hashes: np.ndarray, shingle_starts: np.ndarray, i: int, j: int
) -> float:
    """Exact Jaccard of two docs' shingle *sets* (test oracle helper)."""
    a = np.unique(shingle_hashes[shingle_starts[i] : shingle_starts[i + 1]])
    b = np.unique(shingle_hashes[shingle_starts[j] : shingle_starts[j + 1]])
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 1.0
