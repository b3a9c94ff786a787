"""Near-duplicate detection stages, Spark-first.

Stage layout mirrors the reference's scan -> cheap-prefilter -> exact-verify
dataflow (/root/reference/src/one_shot/matcher.rs:91-144, prefilter design
note /root/reference/README.md:49-52), lifted from 1-needle-vs-N-strings to
N-docs-vs-N-docs:

  extract_text     html binary -> text (byte-identity invariant)
  compute_signatures  norm text -> MinHash sigs + LSH band keys + SimHash
                      (vectorized Arrow UDF, zero per-row Python)
  candidate generation:
      exact_hash_pairs    xxhash64(norm_text) equality       [A4 fast path]
      lsh_band_pairs      MinHash-LSH bucket pairing          [F5 precedent]
      simhash_pairs       block-combination buckets + Hamming<=k [F7 precedent]
      winnow_span_pairs   shared winnowing fingerprints       [F9 rerouting]
  verify_pairs     banded Smith-Waterman similarity           [K1/K2]

Everything relational is plain Catalyst (filters push down, joins are
broadcast/sort-merge by AQE); everything numeric is a vectorized Arrow UDF
over the NumPy kernels in functions/hashing.py and functions/wavefront.py.

Skew handling (north-rule requirement): bucket pair generation is salted —
buckets larger than `salt_threshold` are split by a doc_id hash into
`n_salt` sub-buckets paired independently, then re-linked through their
per-salt representatives, so no single task ever materializes a quadratic
(or even full-bucket) group. Dense buckets emit all pairs; large buckets
emit chain+star edges (linear) which preserve bucket connectivity for the
downstream connected-components stage.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import (
    band_hashes,
    char_shingle_hashes,
    concat_docs,
    minhash_signatures,
    simhash64,
    winnow_fingerprints,
)
from ..functions.wavefront import normalized_similarity, self_scores_batch, sw_score_banded
from ..util import tracked_persist


@dataclass(frozen=True)
class DedupConfig:
    """Shingle/signature/band config (the knobs the north rule fixes)."""

    shingle_k: int = 12          # char k-gram width over normalized text
    num_perm: int = 128          # MinHash permutations
    bands: int = 32              # LSH bands ...
    band_rows: int = 4           # ... of this many signature rows each
    sim_threshold: float = 0.80  # SW normalized-similarity accept threshold
    band_radius: int = 48        # SW wavefront band half-width: tolerance
                                 # for cumulative net indel drift between
                                 # near-dup alignments. 48 measured
                                 # cluster-recall-identical to 64 on the
                                 # synthetic corpus (6424/6425 truth pairs
                                 # at 20k docs) at ~25% less band work;
                                 # raise for inputs with large block
                                 # insertions
    hamming_max: int = 3         # SimHash Hamming acceptance radius
    verify_hamming_reject: int = 20  # pairs with SimHash Hamming above this
                                 # are rejected before the SW kernel (cheap
                                 # prefilter; near-dups at J>=0.8 sit at
                                 # Hamming ~6, chance pairs at ~32)
    hamming_gate_min_bytes: int = 1024  # the reject gate only fires when
                                 # BOTH docs exceed this: few-shingle docs
                                 # have noisy SimHash (a 5-edit near-dup of
                                 # a 200-byte doc can exceed the radius),
                                 # and SW on short docs is cheap anyway
    degree_cap: int = 16         # per-doc candidate cap: keep each doc's K
                                 # most-similar partners (SimHash Hamming,
                                 # then id). Bounds verify work to O(K*n):
                                 # giant dup families (boilerplate) appear
                                 # in many independent bucket views whose
                                 # unioned chain edges otherwise approach
                                 # C(m,2). Every non-min member keeps an
                                 # edge into its family, so connectivity
                                 # (hence clustering) survives the cap.
    dense_cap: int = 32          # bucket size up to which all pairs are emitted
    salt_threshold: int = 5000   # bucket size above which salting kicks in
    n_salt: int = 64             # salt fan-out for hot buckets
    short_doc_max_bytes: int = 320  # docs with n_bytes < this also emit a
                                 # SECOND, narrower band tier. Short docs
                                 # have few shingles, so scattered edits
                                 # crater Jaccard (a 2-edit/50-word pair
                                 # can sit at J~0.4, where the 32x4 tier
                                 # catches only ~50%); the tier-2 envelope
                                 # (64 bands x 2 rows over the same OPH
                                 # signature) catches J=0.4 at ~0.9996
                                 # with the >=short_min_bands rule below.
                                 # 0 disables the tier.
    short_bands: int = 64        # tier-2 band count (64*2 = all 128 perms)
    short_band_rows: int = 2     # tier-2 rows per band
    short_min_bands: int = 2     # tier-2 pairs need >= this many distinct
                                 # band collisions. r=2 bands alone are hot
                                 # (P ~ 64*J^2 fires at ~10% for the J~0.04
                                 # background of real short web docs);
                                 # requiring two independent collisions
                                 # squares the chance rate (~0.5%) while
                                 # J>=0.4 pairs collide ~10 times in
                                 # expectation and lose ~3e-4 recall
    winnow_window: int = 64      # winnowing window (shingles) for span pass
    span_shingle_k: int = 48     # longer shingles for the span pass: chance
                                 # 48-byte collisions across unrelated docs
                                 # are ~0, so fp buckets stay tight
    span_min_len: int = 2000     # only docs this long enter the span pass
    span_min_shared: int = 2     # shared fingerprints to call a span pair


DEFAULT_DEDUP = DedupConfig()


def signature_meta(cfg: DedupConfig = DEFAULT_DEDUP) -> dict:
    """Identity of the signature/band hash family produced by
    :func:`compute_signatures`. Persisted next to any signature state
    (pipeline checkpoint, streaming state dir) and checked on resume:
    signatures from a different family/config are band-INCOMPATIBLE —
    probing old state with new-family band keys finds zero collisions and
    cross-batch near-dup recall silently collapses to exact-hash only
    (r2 advice). Bump ``family`` whenever the kernel's hash derivation
    changes meaning."""
    return {
        "family": "oph-rotation-densified-v1",
        "seed": 1,                      # compute_signatures' fixed seed
        "num_perm": cfg.num_perm,
        "shingle_k": cfg.shingle_k,
        "bands": cfg.bands,
        "band_rows": cfg.band_rows,
        # tier-2 short-doc banding: signatures persisted without (or with
        # different) tier-2 keys are probe-incompatible for short docs —
        # same silent-recall-loss failure mode as a family change
        "short_doc_max_bytes": cfg.short_doc_max_bytes,
        "short_bands": cfg.short_bands,
        "short_band_rows": cfg.short_band_rows,
    }


# tier-2 band derivation seed — distinct from the main tier's seed=2
# (hashing.band_hashes default) so the two key spaces never collide
SHORT_BAND_SEED = 3

_HTML_PREFIX = b"<html><body>"
_HTML_SUFFIX = b"</body></html>"


def extract_text(df: DataFrame, html_col: str = "html") -> DataFrame:
    """html binary -> extracted_text string, as a Catalyst expression.

    The sandbox corpus wraps text in a fixed shell, so extraction is a
    substring; a real crawl would swap in a proper extractor UDF here. The
    byte-identity invariant (input_hint: "byte-identical extracted text
    per url") is asserted by tests comparing this column to `text`.
    """
    p, s = len(_HTML_PREFIX), len(_HTML_SUFFIX)
    return df.withColumn(
        "extracted_text",
        F.expr(
            f"CAST(substring({html_col}, {p + 1}, "
            f"octet_length({html_col}) - {p + s}) AS STRING)"
        ),
    )


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-collapse + casefold, all JVM-side (no UDF).

    Case folding at normalization time replaces the reference's per-char
    insensitive compare masks (src/smith_waterman/simd/types.rs:47-87) —
    done once here instead of per DP cell.
    """
    return df.withColumn(
        "norm_text", F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    )


def with_doc_id(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Stable 64-bit doc id = xxhash64(url) (JVM-side, deterministic).

    At 10^12 docs a single 64-bit id has a real birthday-collision count
    (~tens of thousands); production would widen to a (xxhash64, crc32)
    composite or keep the url through the pair stage. The pipeline checks
    `countDistinct(doc_id) == count(url)` and fails loudly on collision.
    """
    return df.withColumn("doc_id", F.xxhash64(F.col(url_col)))


def compute_signatures(
    df: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP, id_col: str = "doc_id",
    text_col: str = "norm_text",
    keep_minhash: bool = False,
) -> DataFrame:
    """One vectorized pass: doc -> LSH band keys + SimHash (+ MinHash).

    Output: (doc_id, text_hash, n_bytes, band_keys array<long>,
    short_band_keys array<long>, simhash long[, minhash array<long>]).
    text_hash is xxhash64(norm_text) computed JVM-side — the
    exact-duplicate fast path (survey A4). short_band_keys is the tier-2
    narrow banding (DedupConfig.short_doc_max_bytes), empty for docs at
    or above the threshold.

    The raw 128-permutation MinHash signature is computed (band keys
    derive from it) but NOT emitted unless ``keep_minhash`` — persisting
    128 longs/doc dominates the stage's parquet encode/IO while no
    downstream consumer reads it (the bands are the LSH interface).
    """
    from ..util import widen_if_narrow

    df = widen_if_narrow(df)
    work = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("text_hash"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
    )
    k, num_perm = cfg.shingle_k, cfg.num_perm
    bands, rows = cfg.bands, cfg.band_rows

    short_tier = (
        (cfg.short_bands, cfg.short_band_rows, SHORT_BAND_SEED)
        if cfg.short_doc_max_bytes > 0 else None
    )
    short_max = cfg.short_doc_max_bytes
    _empty = np.empty(0, dtype=np.int64)

    def run(batches):
        from ..functions.hashing import compute_signature_arrays

        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf["_t"].tolist()]
            bnd2 = None
            if keep_minhash:
                # unfused path: the raw signature matrix is requested
                buf, starts = concat_docs(texts, min_len=k)
                sh, sst = char_shingle_hashes(buf, starts, k)
                sig = minhash_signatures(sh, sst, num_perm)
                bnd = band_hashes(sig, bands, rows)
                sim = simhash64(sh, sst)
                if short_tier is not None:
                    bnd2 = band_hashes(sig, *short_tier[:2], seed=short_tier[2])
            else:
                # fused single pass (shingles stay cache-resident)
                res = compute_signature_arrays(
                    texts, k, num_perm, bands, rows, short_tier=short_tier
                )
                bnd, sim = res[0], res[1]
                if short_tier is not None:
                    bnd2 = res[2]
            out = pdf[["doc_id", "text_hash", "n_bytes"]].copy()
            # ndarray cells are safe here: mapInPandas output always
            # crosses the Arrow schema below, which coerces ndarray ->
            # list<long> regardless of session config. (Driver-side
            # createDataFrame has NO such coercion without Arrow — see
            # __spark_entry__._clustered_emb_with_protos.)
            if keep_minhash:
                out["minhash"] = list(sig.view(np.int64))
            out["band_keys"] = list(bnd)
            if bnd2 is None:
                out["short_band_keys"] = [_empty] * len(pdf)
            else:
                nb = pdf["n_bytes"].to_numpy()
                out["short_band_keys"] = [
                    b2 if n < short_max else _empty
                    for b2, n in zip(bnd2, nb)
                ]
            out["simhash"] = sim
            yield out

    mh = "minhash array<long>, " if keep_minhash else ""
    schema = (
        f"doc_id long, text_hash long, n_bytes long, "
        f"{mh}band_keys array<long>, short_band_keys array<long>, simhash long"
    )
    return work.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# bucket -> candidate pairs (shared by exact / LSH / SimHash passes)
# ---------------------------------------------------------------------------

def _bucket_pairs_kernel(
    flat: np.ndarray, sizes: np.ndarray, cfg: DedupConfig,
    return_indices: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Pair edges for consecutive COMPLETE buckets (``flat`` holds each
    bucket's ids contiguously, ascending within bucket; ``sizes`` are the
    bucket lengths), fully vectorized across buckets:

    - size <= dense_cap: all pairs (offset-diagonal sweep — at most
      dense_cap-1 vector passes regardless of bucket count);
    - larger: chain + star edges per salt group (salting kicks in above
      salt_threshold), linear in bucket size, plus rep links joining the
      per-salt minima — identical connectivity semantics to the SQL
      window formulation this replaces.

    With ``return_indices`` the canonical (a<b) pair is returned as
    positions INTO ``flat`` instead of id values, so the caller can gather
    per-row payload columns (e.g. fingerprint byte offsets) alongside the
    ids without a second pass.
    """
    from ..functions.hashing import splitmix64

    if flat.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy()
    offs = np.zeros(sizes.size, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    seg = np.repeat(np.arange(sizes.size, dtype=np.int64), sizes)
    local = np.arange(flat.size, dtype=np.int64) - np.repeat(offs, sizes)
    seg_size = sizes[seg]

    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []

    # dense buckets: for each offset d, pair element t with t+d
    # (out_a/out_b accumulate positions into `flat`; values are gathered
    # once at the end so payload columns can reuse the same indices)
    dense_mask = (seg_size <= cfg.dense_cap) & (seg_size > 1)
    if dense_mask.any():
        max_d = int(seg_size[dense_mask].max())
        for d in range(1, max_d):
            sel = np.flatnonzero(dense_mask & (local + d < seg_size))
            if sel.size:
                out_a.append(sel)
                out_b.append(sel + d)

    big_mask = seg_size > cfg.dense_cap
    if big_mask.any():
        pos = np.flatnonzero(big_mask)
        salted = seg_size[pos] > cfg.salt_threshold
        salt = np.where(
            salted,
            (splitmix64(flat[pos].view(np.uint64)) % np.uint64(cfg.n_salt))
            .astype(np.int64),
            0,
        )
        # group by (segment, salt), keep doc order within group
        order = np.lexsort((local[pos], salt, seg[pos]))
        p = pos[order]
        s_seg, s_salt, s_ids = seg[p], salt[order], flat[p]
        new_grp = np.empty(p.size, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (s_seg[1:] != s_seg[:-1]) | (s_salt[1:] != s_salt[:-1])
        run_id = np.cumsum(new_grp) - 1
        # chain: consecutive elements of the same (segment, salt) run
        same = ~new_grp[1:]
        out_a.append(p[:-1][same])
        out_b.append(p[1:][same])
        # star: run min (first element, ids sorted) -> elements at
        # run-index >= 2 (index 1's chain edge already reaches the min)
        run_start = np.flatnonzero(new_grp)
        rf_idx = p[run_start]
        run_first = s_ids[run_start]
        idx_in_run = np.arange(p.size, dtype=np.int64) - run_start[run_id]
        star_sel = idx_in_run >= 2
        out_a.append(rf_idx[run_id[star_sel]])
        out_b.append(p[star_sel])
        # rep links: per segment, chain the per-salt run minima
        seg_of_run = s_seg[run_start]
        rep_sorted = np.lexsort((run_first, seg_of_run))
        rs, rfi = seg_of_run[rep_sorted], rf_idx[rep_sorted]
        same_seg = rs[1:] == rs[:-1]
        out_a.append(rfi[:-1][same_seg])
        out_b.append(rfi[1:][same_seg])

    if not out_a:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy()
    ia = np.concatenate(out_a)
    ib = np.concatenate(out_b)
    va, vb = flat[ia], flat[ib]
    swap = vb < va
    lo_i = np.where(swap, ib, ia)
    hi_i = np.where(swap, ia, ib)
    keep = flat[lo_i] != flat[hi_i]
    lo_i, hi_i = lo_i[keep], hi_i[keep]
    if return_indices:
        return lo_i, hi_i
    return flat[lo_i], flat[hi_i]


def pairs_from_buckets(
    bucketed: DataFrame,
    key_col: str,
    cfg: DedupConfig = DEFAULT_DEDUP,
    payload: str | None = None,
) -> DataFrame:
    """(key_col, doc_id) -> canonical candidate pairs (a < b), one row per
    (bucket, pair): callers count a pair's co-occurrences by grouping.

    ONE shuffle: hash-repartition on the bucket key, sort within
    partitions by (key, doc_id), then a vectorized Arrow kernel streams
    the sorted run emitting, per bucket:

    - buckets <= dense_cap docs: the complete pair set (verification can
      then reject any edge without disconnecting a true dup group);
    - larger buckets: chain + star edges — 2n-3 edges, linear,
      connectivity preserved;
    - buckets > salt_threshold: split by a doc_id hash into n_salt
      sub-buckets chained independently, re-linked through per-salt
      min-doc representatives — the "salted groupBy for hot LSH buckets"
      the north rule names, except the salting lives inside the kernel so
      it costs zero extra shuffles.

    This replaces a groupBy-sizes + join + two-window SQL formulation
    that shuffled the (huge) exploded bucket table 3-4 times; the pair
    semantics are identical (differentially tested). Buckets straddling
    Arrow batches are carried between batches inside the kernel; a hot
    bucket lands on one task but costs only a linear scan there.

    With ``payload`` (a long column of ``bucketed``), each emitted pair
    also carries that column's values for both members as
    ``payload_a``/``payload_b`` — e.g. the fingerprint byte offsets the
    span pass byte-verifies downstream. Zero extra shuffles: the payload
    rides the one pairing shuffle and is gathered by the same indices as
    the ids.
    """
    cols = [F.col(key_col).cast("long").alias("_bk"), F.col("doc_id")]
    if payload:
        cols.append(F.col(payload).cast("long").alias("_pl"))
    keyed = bucketed.select(*cols)
    w = keyed.repartition("_bk").sortWithinPartitions("_bk", "doc_id")

    def gen(batches):
        carry_bk = None
        carry_ids = np.empty(0, dtype=np.int64)
        carry_pl = np.empty(0, dtype=np.int64)

        def emit(ids, pl, sizes):
            ia, ib = _bucket_pairs_kernel(ids, sizes, cfg, return_indices=True)
            out = {"a": ids[ia], "b": ids[ib]}
            if pl is not None:
                out["payload_a"] = pl[ia]
                out["payload_b"] = pl[ib]
            return pd.DataFrame(out)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            bk = pdf["_bk"].to_numpy(dtype=np.int64)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            pl = pdf["_pl"].to_numpy(dtype=np.int64) if payload else None
            # splice the carried (incomplete) group in front; within a
            # bucket, doc order stays ascending across batch boundaries
            # because the partition is sorted by (_bk, doc_id)
            if carry_bk is not None:
                bk = np.concatenate(
                    [np.full(carry_ids.size, carry_bk, dtype=np.int64), bk]
                )
                ids = np.concatenate([carry_ids, ids])
                if payload:
                    pl = np.concatenate([carry_pl, pl])
            bounds = np.flatnonzero(bk[1:] != bk[:-1]) + 1
            last_start = int(bounds[-1]) if bounds.size else 0
            # hold back the last group — it may continue in the next batch
            carry_bk = int(bk[-1])
            carry_ids = ids[last_start:].copy()
            if payload:
                carry_pl = pl[last_start:].copy()
            if carry_ids.size > 4 * cfg.salt_threshold:
                # a single hot bucket spanning many Arrow batches would
                # otherwise re-concatenate its whole prefix every batch —
                # quadratic copies and unbounded task memory. Emit the
                # oversized carry as its own segment now and keep only a
                # one-row link (the segment's min doc — index 0, the
                # partition is sorted by (_bk, doc_id)) so the next
                # segment stays connected to this one through a shared
                # member. Bounds carry to O(flush cap); a row is copied at
                # most cap/batch times. Pair multiplicity for such giant
                # buckets differs slightly from the single-segment
                # formulation (extra link edges); connectivity — the
                # property clustering needs — is preserved.
                yield emit(carry_ids, carry_pl if payload else None,
                           np.array([carry_ids.size], dtype=np.int64))
                carry_ids = carry_ids[:1].copy()
                if payload:
                    carry_pl = carry_pl[:1].copy()
            if last_start:
                sizes = np.diff(np.concatenate(([0], bounds)))
                yield emit(ids[:last_start],
                           pl[:last_start] if payload else None, sizes)
        if carry_ids.size:
            yield emit(carry_ids, carry_pl if payload else None,
                       np.array([carry_ids.size], dtype=np.int64))

    schema = "a long, b long"
    if payload:
        schema += ", payload_a long, payload_b long"
    return w.mapInPandas(gen, schema=schema)


#: priority-ordered tier codes of the candidate bucket table — lower
#: code = cheaper/stronger evidence, wins the per-pair attribution
TIER_LABELS = ("exact", "minhash_lsh", "minhash_lsh_short", "simhash")
_EXACT, _LSH, _SHORT, _SIM = range(len(TIER_LABELS))
_ALL_TIERS = (_EXACT, _LSH, _SHORT, _SIM)


def _bucket_rows(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP,
    tiers=_ALL_TIERS,
) -> DataFrame:
    """The candidate bucket table: one ``(bkey, tier, doc_id)`` row per
    bucket a doc falls in, for each requested tier code. Every candidate
    source — the public pair generators below and the streaming
    increment — pairs these rows, so a bucket means the same thing on
    every path.

    ``bkey`` is ``xxhash64(tag, coords...)``; the tag keeps the tiers'
    key spaces apart, so every bucket holds rows of one tier:

    - exact: ``(text_hash, n_bytes)`` — same normalized text;
    - minhash_lsh: ``(band_id, band_key)`` over the main 32x4 bands;
    - minhash_lsh_short: ``(band_id + bands, band_key)`` over the tier-2
      short-doc bands (none when ``short_doc_max_bytes`` is 0);
    - simhash: ``(table, block key)`` over :func:`simhash_table_layout`
      — pigeonhole-complete within the Hamming ball, ~32-bit keys so
      chance buckets stay empty at web scale.

    One generator over the signature table, not one scan per tier.
    """
    keys = {
        _EXACT: F.array(F.xxhash64(F.lit("exact"), "text_hash", "n_bytes")),
        _LSH: F.transform(
            "band_keys", lambda k, i: F.xxhash64(F.lit("lsh"), i, k)),
        _SHORT: F.transform(
            "short_band_keys",
            lambda k, i: F.xxhash64(F.lit("lsh2"), i + cfg.bands, k)),
        _SIM: F.array(*[
            F.xxhash64(F.lit("simhash"), F.lit(t),
                       _simhash_key_col(F.col("simhash"), blocks))
            for t, blocks in enumerate(simhash_table_layout(cfg.hamming_max))
        ]),
    }
    rows = F.concat(*[
        F.transform(keys[t], lambda k: F.struct(
            k.alias("bkey"), F.lit(t).alias("tier")))
        for t in tiers if t != _SHORT or cfg.short_doc_max_bytes > 0
    ])
    return signatures.select(F.inline(rows), "doc_id")


def _tier_pairs(rows: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP) -> DataFrame:
    """Bucket rows -> ``(a, b, tier)``: each pair's highest-priority
    ACCEPTING tier code; pairs no tier accepts are dropped.

    One pairing shuffle (one row per (bucket, pair), the tier riding as
    the kernel payload) and one closing groupBy, which replaces
    dropDuplicates at the same shuffle cost. Because a bucket holds one
    tier, the tier-2 count is the pair's distinct-band collision count.
    This is the one place the tier-2 rule is written: r=2 bands are
    individually hot, so a pair with no exact or main-band collision
    needs >= ``short_min_bands`` tier-2 collisions; failing that it
    falls to ``simhash`` if a SimHash table collides, else it is
    dropped. The SimHash Hamming post-filter is the caller's.

    Rows with a boolean ``new`` column (an increment) also yield ``new``:
    whether either endpoint is a new doc. It rides the same payload
    (tier + 4 on a new doc's rows), so it costs no join.
    """
    incremental = "new" in rows.columns
    payload = F.col("tier")
    if incremental:
        payload = payload + F.when(F.col("new"), 4).otherwise(0)
    raw = pairs_from_buckets(
        rows.withColumn("_payload", payload), "bkey", cfg, payload="_payload")
    t = F.col("payload_a").bitwiseAND(3)
    aggs = [
        F.min(t).alias("_best"),
        F.sum((t == _SHORT).cast("long")).alias("_n2"),
        F.max(t == _SIM).alias("_sim"),
    ]
    if incremental:
        aggs.append(F.max(F.greatest("payload_a", "payload_b") >= 4).alias("new"))
    tier = (
        F.when(F.col("_best") <= _LSH, F.col("_best"))
        .when(F.col("_n2") >= cfg.short_min_bands, _SHORT)
        .when(F.col("_sim"), _SIM)
    )
    return (
        raw.groupBy("a", "b").agg(*aggs)
        .select("a", "b", tier.alias("tier"), *(["new"] if incremental else []))
        .filter(F.col("tier").isNotNull())
    )


def _with_hamming(pairs: DataFrame, signatures: DataFrame, cols=()) -> DataFrame:
    """Join both endpoints' ``simhash`` (and ``cols``) onto ``(a, b)``
    pairs as ``<col>_a``/``<col>_b`` and add their Hamming distance
    ``_ham`` — a few bytes per doc per side; text never shuffles."""
    s = signatures.select("doc_id", "simhash", *cols)
    for side in ("a", "b"):
        pairs = pairs.join(
            s.toDF(side, *[f"{c}_{side}" for c in ("simhash", *cols)]), side)
    return pairs.withColumn(
        "_ham", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))


def _gate_and_cap(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP,
) -> DataFrame:
    """The Hamming gate and per-doc degree cap every deduplicated
    candidate set passes (batch and increments): ``(a, b)`` ->
    ``(a, b, exact)``.

    Gate: keep a pair iff it is an exact dup (equal ``text_hash``, the
    ``exact`` tag verify_pairs reads), either doc is shorter than
    ``hamming_gate_min_bytes``, or its SimHash distance is within
    ``verify_hamming_reject``. This is the one place a pair is decided
    exact or Hamming-rejected, so SimHash chance collisions never reach
    a checkpoint or the text join (the candidate table is ~3x smaller).

    Cap (see DedupConfig.degree_cap): rank each doc's partners by
    (Hamming, partner id); an edge survives if EITHER endpoint ranks it
    within the cap.
    """
    gated = (
        _with_hamming(pairs, signatures, ("text_hash", "n_bytes"))
        .withColumn("exact", F.col("text_hash_a") == F.col("text_hash_b"))
        .filter(
            F.col("exact")
            | (F.least("n_bytes_a", "n_bytes_b") < cfg.hamming_gate_min_bytes)
            | (F.col("_ham") <= cfg.verify_hamming_reject)
        )
        .select("a", "b", "exact", "_ham")
    )
    gated = tracked_persist(gated)  # consumed twice by the union below;
    # released by the owning unit of work (util.release_tracked)
    both = gated.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "exact", "_ham"
    ).unionByName(
        gated.select(F.col("b").alias("u"), F.col("a").alias("v"), "exact", "_ham")
    )
    w = Window.partitionBy("u").orderBy(F.asc("_ham"), F.asc("v"))
    return (
        both.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cfg.degree_cap)
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"),
                "exact")
        .dropDuplicates(["a", "b"])
    )


def exact_hash_pairs(signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP) -> DataFrame:
    """Exact-duplicate edges: same (xxhash64(norm_text), n_bytes) bucket."""
    return _tier_pairs(_bucket_rows(signatures, cfg, (_EXACT,)), cfg).select("a", "b")


def lsh_band_pairs(signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP) -> DataFrame:
    """MinHash-LSH candidate edges: same (band_id, band_key) bucket.

    Two tiers share ONE pair-generation pass: the main 32x4 bands (every
    doc) and the tier-2 64x2 short-doc bands (see
    DedupConfig.short_doc_max_bytes), whose pairs must pass the
    ``short_min_bands`` multiplicity rule of :func:`_tier_pairs`."""
    return _tier_pairs(
        _bucket_rows(signatures, cfg, (_LSH, _SHORT)), cfg
    ).select("a", "b")


def minhash_jaccard_estimate(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP
) -> DataFrame:
    """Estimated Jaccard per LSH candidate pair from OPH slot agreement —
    rank/triage candidates WITHOUT touching text (the signature table is
    ~1 KB/doc vs the corpus's ~50 KB/doc, so at 100 TB this stage reads
    ~2% of the bytes the exact-Jaccard join would).

    Estimator: fraction of equal densified OPH slots, unbiased for
    Jaccard (Li et al., NIPS'12 one-permutation hashing; Shrivastava &
    Li, ICML'14 densification). ``signatures`` must carry the raw
    ``minhash`` column (``compute_signatures(keep_minhash=True)``).

    Plan shape: candidate pairs from band buckets (single shuffle), two
    equi-joins pull the 128-slot arrays, agreement is one
    ``zip_with``+``filter``+``size`` — pure Catalyst, no Python.

    Output: (a, b, est_jaccard).
    """
    pairs = lsh_band_pairs(signatures, cfg)
    sig = signatures.select("doc_id", "minhash")
    eq = F.size(F.filter(
        F.zip_with("_ma", "_mb", lambda x, y: x == y), lambda v: v
    ))
    return (
        pairs
        .join(sig.withColumnsRenamed({"doc_id": "a", "minhash": "_ma"}), "a")
        .join(sig.withColumnsRenamed({"doc_id": "b", "minhash": "_mb"}), "b")
        .select(
            "a", "b",
            F.round(eq / cfg.num_perm, 4).alias("est_jaccard"),
        )
    )


def unified_candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP,
    include_simhash: bool = True,
) -> DataFrame:
    """All candidate sources through ONE pair-generation pass.

    The exact-hash, MinHash-LSH-band, tier-2 short-doc-band and
    SimHash-table buckets (:func:`_bucket_rows`) are paired together, so
    the sizes/join/window machinery of pairs_from_buckets runs once
    instead of per source — ~3-4x fewer shuffles and scheduler stages
    than generating per-source pairs and unioning afterwards. The tier-2
    multiplicity rule is applied by the closing groupBy
    (:func:`_tier_pairs`); SimHash pairs are not filtered at
    ``hamming_max`` here but by the shared Hamming gate and degree cap
    (:func:`_gate_and_cap`).

    Output: ``(a, b, exact)`` with a < b; ``exact`` is the gate's tag
    (equal ``text_hash``), which :func:`verify_pairs` reads instead of
    deciding it again.
    """
    tiers = _ALL_TIERS if include_simhash else (_EXACT, _LSH, _SHORT)
    pairs = _tier_pairs(_bucket_rows(signatures, cfg, tiers), cfg)
    return _gate_and_cap(pairs.select("a", "b"), signatures, cfg)


def candidate_tier_attribution(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP,
) -> DataFrame:
    """Per candidate pair, the highest-priority tier that ACCEPTS it:
    ``exact`` (same normalized text) > ``minhash_lsh`` (main 32x4 band
    collision) > ``minhash_lsh_short`` (tier-2 short-doc bands, subject
    to the >= ``short_min_bands`` multiplicity rule) > ``simhash``
    (block-combination chunk collision within Hamming <=
    ``hamming_max``). The attribution answers the tiered-dedup tuning
    questions — "which tier is earning its keep?", "what would recall
    lose if tier X were disabled?" — directly from the signature table,
    without touching text.

    A pair appears iff at least one tier accepts it, so the output's
    pair SET is exactly ``exact_hash_pairs UNION lsh_band_pairs UNION
    simhash_pairs`` (the unified pipeline's pre-gate candidate set,
    minus the degree cap, which is a budget device rather than a tier).

    Plan shape (same as :func:`unified_candidate_pairs`): one pairing
    shuffle over all four bucket families, one closing groupBy, and one
    join against the 8-byte/doc simhash projection for the Hamming
    filter. Text never shuffles.

    Output: (a, b, tier) with a < b, tier in :data:`TIER_LABELS`.
    """
    return (
        _with_hamming(_tier_pairs(_bucket_rows(signatures, cfg), cfg), signatures)
        .filter((F.col("tier") != _SIM) | (F.col("_ham") <= cfg.hamming_max))
        .select("a", "b",
                F.array(*map(F.lit, TIER_LABELS))[F.col("tier")].alias("tier"))
    )


def simhash_table_layout(hamming_max: int) -> list[tuple[tuple[int, int], ...]]:
    """Block-combination SimHash table layout (Manku, Jain & Das Sarma,
    WWW'07 "Detecting near-duplicates for web crawling" — public
    algorithm): split the 64-bit fingerprint into ``m = hamming_max + 3``
    blocks and key one table on every 3-block combination.

    Guarantee (pigeonhole, like the reference's popcount-compared bitmask
    prefilter, /root/reference/src/prefilter/bitmask.rs:50-58): a pair
    within Hamming distance ``hamming_max`` differs in at most
    ``hamming_max`` blocks, so at least 3 blocks are intact and the table
    keyed on exactly those 3 collides — zero false negatives.

    Scale (the r2 gap this replaces): the old 4x16-bit chunks produced
    ~C(n,2)*4/2^17 chance pairs — quadratic noise once n >> 65k. Keys here
    are ~32 bits (3 blocks of ~11), so chance pairs are
    ~C(n,2)*C(m,3)/2^33: ~186 at n=400k for hamming_max=3 (measured in
    tests/test_dedup_pipeline.py), which is what makes SimHash viable as a
    candidate SOURCE rather than only a verify gate. C(hamming_max+3, 3)
    tables (20 for the default hamming_max=3).

    Returns one tuple of (bit_start, width) blocks per table.
    """
    from itertools import combinations

    m = hamming_max + 3
    base, rem = divmod(64, m)
    widths = [base + 1 if i < rem else base for i in range(m)]
    starts = [sum(widths[:i]) for i in range(m)]
    return [
        tuple((starts[i], widths[i]) for i in combo)
        for combo in combinations(range(m), 3)
    ]


def _simhash_key_col(sim_col, blocks):
    """Catalyst column packing the given (start, width) blocks of a
    simhash long into one big-endian key (JVM-side, codegen)."""
    key = None
    for start, width in blocks:
        b = F.shiftrightunsigned(sim_col, start).bitwiseAND(F.lit((1 << width) - 1))
        key = b if key is None else F.shiftleft(key, width).bitwiseOR(b)
    return key


def simhash_table_keys_np(sim: np.ndarray, hamming_max: int) -> np.ndarray:
    """(n_tables, n) int64 NumPy twin of :func:`_simhash_key_col` over
    :func:`simhash_table_layout` — used by the chance-rate and guarantee
    tests, and by anyone sizing bucket distributions offline."""
    u = sim.view(np.uint64) if sim.dtype == np.int64 else sim.astype(np.uint64)
    out = []
    for blocks in simhash_table_layout(hamming_max):
        key = np.zeros(u.shape, dtype=np.uint64)
        for start, width in blocks:
            key = (key << np.uint64(width)) | (
                (u >> np.uint64(start)) & np.uint64((1 << width) - 1)
            )
        out.append(key.view(np.int64))
    return np.stack(out)


def simhash_pairs(signatures: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP) -> DataFrame:
    """SimHash candidate edges: equal block-combination key in >= 1 of
    the C(hamming_max+3, 3) tables, then exact Hamming(sim) <= k.

    The table layout guarantees no false negatives within the Hamming
    ball (see :func:`simhash_table_layout`); the bit_count filter
    afterwards is exact and JVM-side (survey F7 — the reference's dormant
    bitmask prefilter, compared by popcount there too: bitmask.rs:50-58).
    """
    pairs = _tier_pairs(_bucket_rows(signatures, cfg, (_SIM,)), cfg)
    return (
        _with_hamming(pairs.select("a", "b"), signatures)
        .filter(F.col("_ham") <= cfg.hamming_max)
        .select("a", "b")
    )


def winnow_span_pairs(
    docs: DataFrame, cfg: DedupConfig = DEFAULT_DEDUP,
    id_col: str = "doc_id", text_col: str = "norm_text",
    keep_witness: bool = False,
) -> DataFrame:
    """Long-exact-span candidate pairs via winnowing fingerprints.

    The scalable stand-in for a suffix-array substring pass: any shared
    run >= (winnow_window + shingle_k - 1) bytes shares >= 1 fingerprint
    (winnowing guarantee); requiring `span_min_shared` shared fingerprints
    suppresses chance collisions. Only docs >= span_min_len enter (the
    cost-based routing precedent of one_shot/mod.rs:20-25).

    Each candidate pair is byte-verified: one
    shared fingerprint's ``span_shingle_k``-gram is compared
    byte-for-byte, closing the fingerprint-collision loophole — output
    gains a ``span_confirmed`` column. The winnow kernel emits each
    fingerprint's byte OFFSET, the pairing shuffle carries the offsets as
    payload, and the compare is a pure JVM ``substring(encode(text))``
    equality after broadcast-joining the (small) pair table against the
    corpus — no text shuffle, no re-shingling (replaced a Pandas-UDF
    confirm that re-hashed every hot doc per batch, ~420 core-s at 400k
    docs). A false negative needs a 64-bit rolling-hash collision between
    the two chosen grams (~2^-64) AND another genuinely shared gram — the
    same failure mode the old up-to-4-candidate intersect had.

    Span pairs are a standalone deliverable ("these documents share a
    long exact span") and are deliberately NOT fed into near-dup
    clustering: a shared boilerplate block does not make two documents
    near-duplicates (verify_pairs would correctly score them below the
    similarity threshold anyway).

    With ``keep_witness`` the output additionally
    carries the witness gram's 0-based byte offsets ``a_off``/``b_off``
    — the anchor :func:`span_extents` extends into the full shared-block
    report.
    """
    k, win = cfg.span_shingle_k, cfg.winnow_window
    work = docs.filter(F.octet_length(F.col(text_col)) >= cfg.span_min_len).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )

    def run(batches):
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf["_t"].tolist()]
            buf, starts = concat_docs(texts, min_len=k)
            sh, sst = char_shingle_hashes(buf, starts, k)
            fp, pos, fst = winnow_fingerprints(sh, sst, window=win)
            counts = np.diff(fst)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {"doc_id": np.repeat(ids, counts), "fp": fp.view(np.int64),
                 "pos": pos}
            )

    # persist: pairs_from_buckets scans its input from several plan
    # branches — without this the winnowing UDF re-executes per branch
    # (released by the owning unit of work via util.release_tracked)
    fps = tracked_persist(
        work.mapInPandas(run, schema="doc_id long, fp long, pos long")
    )
    # a pair co-occurring in m fingerprint buckets shares >= m
    # fingerprints; min(struct) keeps ONE coherent witness offset pair
    # (both offsets from the same fingerprint row) for the byte check
    pairs = (
        pairs_from_buckets(fps.select("fp", "doc_id", "pos"), "fp", cfg,
                           payload="pos")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("shared_fps"),
            F.min(F.struct("payload_a", "payload_b")).alias("_w"),
        )
        .filter(F.col("shared_fps") >= cfg.span_min_shared)
    )
    # byte-verify the witness gram JVM-side: substring on the utf-8 BYTES
    # (offsets are byte offsets), pair table broadcast against the corpus
    d = docs.select(F.col(id_col).alias("doc_id"),
                    F.encode(F.col(text_col), "utf-8").alias("_t"))
    wit = pairs.select(
        "a", "b", "shared_fps",
        (F.col("_w.payload_a") + 1).alias("_pa"),
        (F.col("_w.payload_b") + 1).alias("_pb"),
    )
    witness_cols = (
        [(F.col("_pa") - 1).alias("a_off"), (F.col("_pb") - 1).alias("b_off")]
        if keep_witness else []
    )
    return (
        wit.join(d.withColumnsRenamed({"doc_id": "a", "_t": "_ta"}), "a")
        .withColumn("_ga", F.col("_ta").substr(F.col("_pa"), F.lit(k)))
        .drop("_ta")
        .join(d.withColumnsRenamed({"doc_id": "b", "_t": "_tb"}), "b")
        .withColumn("_gb", F.col("_tb").substr(F.col("_pb"), F.lit(k)))
        .drop("_tb")
        .select(
            "a", "b", "shared_fps",
            (F.col("_ga") == F.col("_gb")).alias("span_confirmed"),
            *witness_cols,
        )
    )


def _binsearch_max_d(df: DataFrame, hi_col, cond_of_mid, out_col: str,
                     rounds: int = 21) -> DataFrame:
    """max d in [0, hi] such that the monotone predicate cond_of_mid(d)
    holds (cond(0) is vacuously true), as ``rounds`` unrolled binary-
    search steps of pure Catalyst columns — no UDF, no per-row Python.
    21 rounds resolve ranges up to 2M (far above any document length
    the span pass admits)."""
    df = df.withColumn("_lo", F.lit(0).cast("long")).withColumn(
        "_hi", hi_col.cast("long"))
    for _ in range(rounds):
        active = F.col("_lo") < F.col("_hi")
        mid = F.floor((F.col("_lo") + F.col("_hi") + 1) / 2).cast("long")
        ok = cond_of_mid(mid)
        df = (
            df.withColumn("_nlo", F.when(active & ok, mid).otherwise(F.col("_lo")))
            .withColumn("_nhi",
                        F.when(active & ~ok, mid - 1).otherwise(F.col("_hi")))
            .drop("_lo", "_hi")
            .withColumnsRenamed({"_nlo": "_lo", "_nhi": "_hi"})
        )
    return df.withColumn(out_col, F.col("_lo")).drop("_lo", "_hi")


def span_extents(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_DEDUP,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    span_pairs: DataFrame | None = None,
) -> DataFrame:
    """Shared-boilerplate block report: extend each confirmed span pair's
    witness gram to its maximal byte-identical extent in both documents.

    Output: (a, b, a_start, b_start, span_len) — 0-based byte offsets
    into each doc's normalized text and the length of the shared block
    containing the witness (>= span_shingle_k by construction; the block
    is maximal around the deterministic witness, i.e. a certified "these
    N bytes are byte-identical between the two pages" claim — the
    canonical boilerplate-extraction deliverable).

    Plan shape: the pair table (small) broadcast-joins the corpus text
    twice, then the left/right extensions run as two unrolled JVM binary
    searches over substring equality (:func:`_binsearch_max_d`) — O(log
    span) substring compares per pair, zero Python in the loop, no text
    shuffle beyond the pair lookup (the same discipline as the winnow
    confirm pass). The monotone predicate ("the d bytes before/after the
    witness match") makes binary search exact.
    """
    if span_pairs is None:
        span_pairs = winnow_span_pairs(docs, cfg, id_col, text_col,
                                       keep_witness=True)
    k = cfg.span_shingle_k
    pairs = span_pairs.filter("span_confirmed").select("a", "b", "a_off", "b_off")
    d = docs.select(F.col(id_col).alias("doc_id"),
                    F.encode(F.col(text_col), "utf-8").alias("_t"))
    j = (
        pairs.join(d.withColumnsRenamed({"doc_id": "a", "_t": "_ta"}), "a")
        .join(d.withColumnsRenamed({"doc_id": "b", "_t": "_tb"}), "b")
        .withColumn("_la", F.octet_length("_ta"))
        .withColumn("_lb", F.octet_length("_tb"))
    )

    def left_cond(mid):
        return (
            F.substring(F.col("_ta"), F.col("a_off") - mid + 1, mid)
            == F.substring(F.col("_tb"), F.col("b_off") - mid + 1, mid)
        )

    def right_cond(mid):
        return (
            F.substring(F.col("_ta"), F.col("a_off") + k + 1, mid)
            == F.substring(F.col("_tb"), F.col("b_off") + k + 1, mid)
        )

    j = _binsearch_max_d(j, F.least("a_off", "b_off"), left_cond, "_left")
    j = _binsearch_max_d(
        j,
        F.least(F.col("_la") - F.col("a_off"), F.col("_lb") - F.col("b_off"))
        - k,
        right_cond,
        "_right",
    )
    return j.select(
        "a", "b",
        (F.col("a_off") - F.col("_left")).alias("a_start"),
        (F.col("b_off") - F.col("_left")).alias("b_start"),
        (F.col("_left") + k + F.col("_right")).alias("span_len"),
    )


# ---------------------------------------------------------------------------
# verification — banded Smith-Waterman over candidate pairs
# ---------------------------------------------------------------------------

def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_DEDUP,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs -> (a, b, score, similarity, exact, verified).

    The reference's prefilter-then-verify discipline
    (/root/reference/README.md:49-52) applied to pair verification: the
    cheap gates ran in candidate generation (:func:`_gate_and_cap`), and
    verify does not work them out again. A pair tagged ``exact`` there
    is verified at similarity 1.0 with no text crossing a shuffle or
    entering the kernel: its text is blanked right after each text join
    (survey A4). A pairs frame with no ``exact`` column counts as
    untagged; exact duplicates among its pairs are still found by the
    JVM-side text hash.

    Every other pair runs the banded wavefront, sub-batched by the length
    ladder (survey B1/K1/K2). The text joins are AQE broadcast/sort-merge
    on the pair ids (never a null or constant key); at 10^12-doc scale
    they are storage-partitioned joins on Iceberg doc_id buckets.

    ``signatures`` is not read: the candidates carry the gate's tag. It
    stays so that callers that still pass it keep working.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("_h"),
    )
    tag = F.col("exact") if "exact" in pairs.columns else F.lit(False)

    def blank(c):
        return F.when(F.col("_tag"), F.lit("")).otherwise(F.col(c)).alias(c)

    joined = (
        pairs.select("a", "b", tag.alias("_tag"))
        .join(d.withColumnsRenamed({"doc_id": "a", "_t": "_ta", "_h": "_ha"}), "a")
        .select("a", "b", "_tag", "_ha", blank("_ta"))
        .join(d.withColumnsRenamed({"doc_id": "b", "_t": "_tb", "_h": "_hb"}), "b")
        .select("a", "b", "_ta", blank("_tb"),
                (F.col("_tag") | (F.col("_ha") == F.col("_hb"))).alias("_exact"))
    )

    radius, thresh = cfg.band_radius, cfg.sim_threshold

    def process(pdf):
        n = len(pdf)
        ta = [t.encode("utf-8") for t in pdf["_ta"].tolist()]
        tb = [t.encode("utf-8") for t in pdf["_tb"].tolist()]
        exact = pdf["_exact"].to_numpy(dtype=bool)
        scores = np.zeros(n, dtype=np.int64)
        sims = np.zeros(n, dtype=np.float64)
        sims[exact] = 1.0

        todo = np.flatnonzero(~exact)
        if todo.size:
            lens = np.array([max(len(ta[i]), len(tb[i])) for i in todo])
            order = todo[np.argsort(lens, kind="stable")]
            # length-ladder sub-batching: pad within a 1.25x length ribbon
            # (+256 floor). Tighter than the earlier 2x ribbon: the
            # wavefront pays n_max + w_max diagonals for every pair in the
            # sub-batch, so padded slack is pure waste — measured ~25%
            # fewer diagonal steps on the bench corpus at equal batch
            # occupancy.
            start = 0
            while start < order.size:
                w0 = max(len(ta[order[start]]), len(tb[order[start]]))
                stop = start + 1
                while stop < order.size:
                    w = max(len(ta[order[stop]]), len(tb[order[stop]]))
                    if w > w0 + max(256, w0 // 4) or stop - start >= 256:
                        break
                    stop += 1
                sel = order[start:stop]
                a_b = [ta[i] for i in sel]
                b_b = [tb[i] for i in sel]
                s = sw_score_banded(a_b, b_b, band_radius=radius)
                self_a = self_scores_batch(a_b)
                self_b = self_scores_batch(b_b)
                sims[sel] = normalized_similarity(s, self_a, self_b)
                scores[sel] = s
                start = stop

        out = pdf[["a", "b"]].copy()
        out["score"] = scores
        out["similarity"] = sims
        out["exact"] = exact
        out["verified"] = exact | (sims >= thresh)
        return out

    # coalesce Arrow batches to >= TARGET pairs before running the kernel:
    # the wavefront's per-diagonal dispatch overhead amortizes over the
    # sub-batch width, and small batches are 5x slower per pair (measured
    # 34 ms/pair at 8 rows vs 6.4 at 256+). This decouples kernel batch
    # size from however finely AQE split the join output.
    TARGET = 4096

    def run(batches):
        buf, rows = [], 0
        for pdf in batches:
            buf.append(pdf)
            rows += len(pdf)
            if rows >= TARGET:
                yield process(pd.concat(buf, ignore_index=True))
                buf, rows = [], 0
        if buf:
            yield process(pd.concat(buf, ignore_index=True))

    schema = "a long, b long, score long, similarity double, exact boolean, verified boolean"
    return joined.mapInPandas(run, schema=schema)


def explain_pair(
    docs: DataFrame,
    id_a: int,
    id_b: int,
    cfg: DedupConfig = DEFAULT_DEDUP,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> dict:
    """Single-pair alignment explain over the documents table (the
    doc-pair analog of the reference's deliberately-unoptimized
    ``match_indices`` debug path, src/one_shot/indices.rs:10-56 — call
    sparingly, e.g. for one flagged pair, never in a pipeline).

    Returns a dict with the full SW score, normalized similarity, typo
    count, the aligned positions of doc_a's bytes inside doc_b, and the
    verify verdict at the pipeline's threshold.
    """
    from ..functions.oracle import (
        indices_from_score_matrix, self_score, smith_waterman,
        typos_from_score_matrix,
    )

    rows = {
        r[id_col]: r[text_col]
        for r in docs.filter(F.col(id_col).isin([id_a, id_b]))
        .select(id_col, text_col).collect()
    }
    if id_a not in rows or id_b not in rows:
        raise KeyError(f"doc ids {id_a}/{id_b} not found")
    ta, tb = rows[id_a].encode("utf-8"), rows[id_b].encode("utf-8")
    score, matrix, exact = smith_waterman(ta, tb)
    sim = (
        1.0 if exact else
        2.0 * score / max(self_score(ta) + self_score(tb), 1)
    )
    return {
        "a": id_a,
        "b": id_b,
        "score": int(score),
        "similarity": round(float(min(sim, 1.0)), 4),
        "exact": bool(exact),
        "typos": int(typos_from_score_matrix(matrix)),
        "indices": indices_from_score_matrix(matrix),
        "verified": bool(exact or sim >= cfg.sim_threshold),
    }
