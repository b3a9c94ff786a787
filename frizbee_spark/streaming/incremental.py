"""Incremental / streaming ingest for the dedup pipeline.

The reference's incremental matcher pre-interleaves all haystacks once and
recomputes only what a new needle invalidates
(/root/reference/src/incremental/matcher.rs:13-118). Our distributed
analog: the signature table is the persisted "pre-interleaved" state; a
new crawl increment only computes signatures for NEW docs and pairs only
the buckets a new doc falls in — never recomputing old-vs-old. Like the
reference's incremental matcher, which decides a match exactly as its
one-shot matcher does, an increment uses the batch candidate rule: the
same bucket table, tier-2 multiplicity rule, Hamming gate and degree cap
as ``unified_candidate_pairs``.

Two surfaces:

- :func:`incremental_dedup_batch` — the core delta step, pure batch:
  (new_docs, existing_signatures) -> (new_signatures, new_edges). Drives
  both the resume path and the streaming path.
- :func:`dedup_stream` — Structured Streaming wrapper: readStream of new
  documents, `foreachBatch` applies the delta step and appends to the
  signature/edge tables. State (the signature index) lives in the table,
  not in Spark operator state, so a stream restart resumes from storage —
  same checkpoint discipline as the batch pipeline.

Scale note: the existing side of an increment is the historical bucket
table left-semi-joined on the increment's bucket keys (small), so only
buckets a new doc touches reach the pairing shuffle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import (
    DEFAULT_DEDUP,
    DedupConfig,
    _bucket_rows,
    _gate_and_cap,
    _tier_pairs,
    compute_signatures,
    verify_pairs,
)

log = logging.getLogger(__name__)


def _increment_pairs(
    new_sigs: DataFrame,
    existing_signatures: DataFrame | None,
    cfg: DedupConfig = DEFAULT_DEDUP,
) -> DataFrame:
    """An increment's candidate pairs before the gate and cap:
    ``(a, b, tier)`` for every pair with at least one new endpoint.

    The bucket rows of ``existing ∪ new`` are restricted to the buckets
    whose key a new doc has, then paired by the batch step
    (:func:`~frizbee_spark.operators.dedup._tier_pairs`). A kept bucket
    holds all its docs, so a pair touching a new doc sees every bucket it
    shares: its tier-2 count, and so its tier, equal the batch pipeline's.
    Old-vs-old pairs of those buckets see only part of their buckets and
    are dropped."""
    rows = _bucket_rows(new_sigs, cfg).withColumn("new", F.lit(True))
    if existing_signatures is not None:
        old = _bucket_rows(existing_signatures, cfg).join(
            rows.select("bkey"), "bkey", "left_semi")
        rows = rows.unionByName(old.withColumn("new", F.lit(False)))
    return _tier_pairs(rows, cfg).filter("new").drop("new")


def incremental_dedup_batch(
    new_docs: DataFrame,
    existing_signatures: DataFrame | None,
    cfg: DedupConfig = DEFAULT_DEDUP,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Delta step: returns (new_signatures, candidate_pairs, all_signatures).

    Candidates ``(a, b, exact)`` cover new-vs-new AND new-vs-existing
    pairs; existing-vs-existing is never recomputed (the
    incremental-matcher property). They pass the batch Hamming gate and
    degree cap over all signatures, which tags exact duplicates. Callers
    verify with :func:`verify_increment`.
    """
    new_sigs = compute_signatures(new_docs, cfg, id_col=id_col, text_col=text_col)
    all_sigs = (
        new_sigs if existing_signatures is None
        else existing_signatures.unionByName(new_sigs)
    )
    pairs = _increment_pairs(new_sigs, existing_signatures, cfg)
    return new_sigs, _gate_and_cap(pairs.select("a", "b"), all_sigs, cfg), all_sigs


def verify_increment(
    cand: DataFrame,
    docs_lookup: DataFrame,
    all_sigs: DataFrame | None = None,
    cfg: DedupConfig = DEFAULT_DEDUP,
    text_col: str = "norm_text",
) -> DataFrame:
    """Verify increment candidates against the full doc lookup table.
    ``all_sigs`` is not read (the candidates carry the gate's exact
    tag); it stays so that callers that still pass it keep working."""
    return verify_pairs(cand, docs_lookup, cfg, text_col=text_col) \
        .filter("verified").select("a", "b")


def _read_state(s, path: str, exclude_batch: int):
    """Union of committed (``_SUCCESS``-marked) per-batch state partitions
    STRICTLY BEFORE ``exclude_batch`` — batch N's state view is always
    "batches < N", so a replay reproduces the original computation exactly
    (never sees its own half-written first attempt, and never sees
    later-committed batches, which would re-discover cross-batch duplicate
    edges under a second batch_id and double-count them)."""
    import os

    if not os.path.isdir(path):
        return None
    subs = [
        d for d in os.listdir(path)
        if d.startswith("batch_id=")
        and os.path.exists(os.path.join(path, d, "_SUCCESS"))
        and int(d.split("=", 1)[1]) < exclude_batch
    ]
    if not subs:
        return None
    return s.read.parquet(*[os.path.join(path, d) for d in subs])


def make_batch_processor(spark, state_dir: str, cfg: DedupConfig = DEFAULT_DEDUP):
    """Build the ``foreachBatch`` callback for :func:`dedup_stream`.

    Module-level so the replay-idempotency contract is directly testable:
    calling the processor twice with the same ``batch_id`` (foreachBatch
    is at-least-once) must leave state identical to calling it once —
    every write is an overwrite of a per-batch subdirectory keyed by the
    stable batch_id, and prior-state reads exclude the current batch.
    """
    import json
    import os

    from ..operators.dedup import normalize_text, signature_meta, with_doc_id

    sig_path = os.path.join(state_dir, "signatures")
    docs_path = os.path.join(state_dir, "docs")
    edges_path = os.path.join(state_dir, "edges")
    meta_path = os.path.join(state_dir, "_sigmeta.json")

    def _check_or_stamp_family() -> None:
        """Persisted signature state carries its hash-family identity; a
        stream resumed under a different family/config would probe old
        band keys that never collide with new ones and silently lose all
        cross-batch near-dup recall — fail loudly instead (r2 advice)."""
        meta = signature_meta(cfg)
        if os.path.exists(meta_path):
            stored = json.load(open(meta_path))
            if stored != meta:
                raise RuntimeError(
                    f"streaming state at {state_dir} was written by an "
                    f"incompatible signature configuration:\n  stored:  "
                    f"{json.dumps(stored)}\n  current: {json.dumps(meta)}\n"
                    "Resuming would silently collapse cross-batch recall "
                    "to exact-hash only. Wipe the state dir or restore the "
                    "original config."
                )
            return
        if os.path.isdir(sig_path):
            log.warning("unstamped streaming state at %s (written before "
                        "config stamping) — cannot verify the signature "
                        "family matches", state_dir)
        os.makedirs(state_dir, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump(meta, f)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..util import release_tracked

        if batch_df.isEmpty():
            return
        _check_or_stamp_family()
        try:
            _process_batch_inner(batch_df, batch_id)
        finally:
            # the candidate gate persists its gated pairs per call; a
            # stream runs this every micro-batch, so without a per-batch
            # release the CacheManager grows unboundedly for the stream's
            # lifetime
            release_tracked()

    def _process_batch_inner(batch_df: DataFrame, batch_id: int) -> None:
        s = spark
        new_docs = with_doc_id(normalize_text(batch_df, "text"), "url").select(
            "doc_id", "url", "norm_text"
        )
        existing = _read_state(s, sig_path, batch_id)
        new_sigs, cand, _ = incremental_dedup_batch(new_docs, existing, cfg)

        old_docs = _read_state(s, docs_path, batch_id)
        lookup = new_docs.select("doc_id", "norm_text")
        if old_docs is not None:
            lookup = lookup.unionByName(old_docs.select("doc_id", "norm_text"))
        edges = verify_increment(cand, lookup, cfg=cfg)

        # idempotent per-batch overwrites (replay-safe, see docstring)
        sub = f"batch_id={batch_id}"
        edges.write.mode("overwrite").parquet(os.path.join(edges_path, sub))
        new_sigs.write.mode("overwrite").parquet(os.path.join(sig_path, sub))
        new_docs.select("doc_id", "norm_text").write.mode("overwrite").parquet(
            os.path.join(docs_path, sub)
        )

    return process_batch


def dedup_stream(
    spark,
    input_path: str,
    state_dir: str,
    cfg: DedupConfig = DEFAULT_DEDUP,
    checkpoint_dir: str | None = None,
):
    """Structured Streaming ingest: watch a directory of parquet document
    files; each micro-batch runs the delta step against the accumulated
    signature/doc state tables under ``state_dir``.

    Returns the StreamingQuery. State tables (each a dir of per-batch
    partitions ``batch_id=N``):
      state_dir/signatures   cumulative signature index
      state_dir/docs         cumulative (doc_id, norm_text) lookup
      state_dir/edges        cumulative verified duplicate edges

    Idempotency: ``foreachBatch`` is at-least-once, so every state write
    goes to a per-batch subdirectory with mode=overwrite keyed by the
    stable ``batch_id`` — a crash mid-batch or a batch replay rewrites the
    same subdirectories instead of appending duplicate rows. Reads of
    prior state exclude the current batch_id, so a replay never sees its
    own half-written first attempt. (On Iceberg this maps to
    overwrite-by-filter commits keyed on a batch_id column.)
    """
    import os

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    stream = spark.readStream.schema(schema).parquet(input_path)

    process_batch = make_batch_processor(spark, state_dir, cfg)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation",
                checkpoint_dir or os.path.join(state_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    return q
