"""End-to-end near-duplicate detection pipeline with resumable stages.

Stage graph (north-rule requirements in brackets):

    documents    source + extract + normalize + doc_id  [byte-identity]
    (gates)      opt-in curation gates, one GATES row each
    signatures   MinHash/band/SimHash per doc           [vectorized UDFs]
    candidates   exact ∪ LSH ∪ SimHash pairs            [salted groupBy]
    span_pairs   winnowing long-exact-span pairs        [substring pass]
    verified     banded SW similarity per pair          [SW verifier]
    edges        verified pairs only
    clusters     large-star/small-star CC               [explicit shuffle]
    canonical    earliest doc per cluster               [window]

Checkpointing is SELECTIVE: only the stages in
``PipelineConfig.checkpoint_stages`` write parquet under
``workdir/<stage>``; a completed stage (Spark `_SUCCESS` marker) is *read
back, not recomputed* on the next run — the resumable-stage-boundary
requirement. ``candidates`` and ``edges`` flow through by default: each is
consumed exactly once by the next stage, so persisting them would add a
write + read-back + an extra scheduler round-trip to the critical path for
zero resume value (wiping `verified` already recomputes them from the
`signatures` checkpoint). The storage layer is parquet in the sandbox; on
a real deployment each `write` maps to an Iceberg
`writeTo(...).createOrReplace()` and resume maps to reading the table's
last committed snapshot (same semantics: atomic visible-only-when-complete
commits). This mirrors the reference's incremental matcher, which persists
pre-interleaved buckets once and recomputes only what a new needle
invalidates (/root/reference/src/incremental/matcher.rs:13-118).

Metrics + lineage cost ZERO extra Spark jobs: per-partition row counts are
read driver-side from the parquet footers of each checkpoint's part files
(a part file is one write partition), and stage row totals are the footer
sums. Both are buffered and written once at the end of `run` to
``workdir/_metrics`` / ``workdir/_lineage`` — the per-partition
lineage+metrics rows the north rule names, without the per-stage
`collect()` jobs that serialized round 1's critical path (strong-scaling
efficiency was 0.232 with them, see BENCH.md history).
"""

from __future__ import annotations

import logging
import os
import time
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .operators.components import assign_clusters
from .operators.dedup import (
    DEFAULT_DEDUP,
    DedupConfig,
    candidate_tier_attribution,
    compute_signatures,
    extract_text,
    normalize_text,
    signature_meta,
    span_extents,
    unified_candidate_pairs,
    verify_pairs,
    winnow_span_pairs,
    with_doc_id,
)

log = logging.getLogger(__name__)

# stages whose output is consumed exactly once by the next stage — flowing
# them through keeps candidate generation + verification one Spark query
# (AQE plans the joins end-to-end) instead of three serialized jobs.
# perplexity IS checkpointed: its decision table costs a corpus-level
# model build (two aggregates + a model join), and the gated documents
# frame feeds several downstream consumers that would each re-train the
# model if it flowed through. filter/sample are cheap per-row Catalyst.
DEFAULT_CHECKPOINTS = (
    "documents", "perplexity", "dsir", "decontaminate", "budget",
    "signatures",
    "tier_report",
    "span_pairs", "span_report", "verified", "clusters", "canonical",
)


@dataclass
class PipelineConfig:
    workdir: str
    dedup: DedupConfig = field(default_factory=lambda: DEFAULT_DEDUP)
    resume: bool = True
    enable_simhash: bool = True  # SimHash as a candidate SOURCE (on top of
    # its verify-gate role). ON by default since the r3 move to
    # block-combination tables (simhash_table_layout): ~32-bit keys keep
    # chance pairs ~C(n,2)*20/2^33 (~186 at n=400k, measured), so the
    # source adds Hamming-ball recall without the quadratic birthday noise
    # the old 4x16-bit chunks produced at n >> 65k.
    enable_span: bool = True
    enable_tier_report: bool = False  # per-pair dedup-tier attribution
    # (exact > main LSH bands > tier-2 short-doc bands > SimHash) as a
    # checkpointed 'tier_report' stage — the tiered-dedup tuning table
    # ("which tier earns each candidate; what would recall lose if tier
    # X were off"). Off by default: it costs a second pairing-shuffle
    # pass over the signature buckets, pure analysis — the dedup result
    # itself never consumes it.
    filter_opts: dict | None = None  # kwargs for operators.textstats.
    # corpus_filter when the gate is on (thresholds, require_lang_signal)
    unicode_nfc: bool = False  # Unicode NFC normalization of the
    # extracted text BEFORE norm_text/signatures, so canonically-equal
    # but byte-different spellings (combining sequences vs precomposed)
    # become exact-hash duplicates instead of slipping past every
    # exact/near gate. Applied AFTER the byte-identity extraction check
    # (the raw 'text' column stays byte-identical to the source); only
    # norm_text — what signatures, spans, and verify consume — sees the
    # NFC form. Stamped into both the documents checkpoint meta and the
    # signatures meta: toggling it on a populated workdir fails the
    # resume loudly (the persisted norm_text was produced by the other
    # normalization). Off by default: the driver fixture is ASCII and
    # NFC is a no-op there.
    # -- curation gates: run in GATES order (url_dedup, blocklist,
    # domain_cap, filter, perplexity, dsir, decontaminate, sample, budget)
    # before any signature work. All off by default (dedup-everything is
    # this pipeline's contract); each writes its per-doc decision table as
    # the stage of the same name, and its config is stamped into the
    # signatures meta, so toggling or re-tuning a gate on one workdir
    # fails the resume loudly instead of silently mixing doc sets.
    enable_url_dedup: bool = False  # canonicalize_url (case/ports/
    # fragments/tracking params/param order), ONE doc per canonical URL —
    # earliest warc_ts, then min url (crawl convention: first capture
    # wins). Table (doc_id, canonical_url, keep). Cheapest gate: never
    # reads text. Requires a 'url' column (the driver tables have none).
    blocklist_domains: tuple | list | None = None  # UT1-style blocklist: a
    # doc drops when its host or ANY parent domain is listed (dot-suffix
    # equi-join in webnorm.url_blocklist, never a LIKE theta join). Table
    # (doc_id, host, matched_domain); the SORTED list is hashed into the
    # stamps. None = off; requires a 'url' column.
    domain_cap_n: int | None = None  # per-domain anti-domination cap
    # (Gopher/C4): each host keeps at most N docs ranked by md5(url), id
    # tie-break (deterministic, append-stable); url-less rows pass
    # uncapped. WindowGroupLimit pre-truncates hot hosts map-side. Table
    # (doc_id, host, domain_rank). None = off; requires a 'url' column.
    enable_filter: bool = False  # FineWeb/Gopher-style corpus_filter:
    # drop too-short/repetitive/language-less docs
    enable_perplexity: bool = False  # CCNet-style bigram-LM perplexity:
    # lm_perplexity scores every surviving doc under a model trained on
    # those same docs; rows outside [ppl_min, ppl_max] drop. Table keeps
    # the score and a keep column.
    perplexity_opts: dict | None = None  # {'ppl_min': 0.0, 'ppl_max':
    # float (required — the gate exists to cut the high-perplexity tail),
    # 'text_col'}. Docs with < 2 tokens have no bigrams, hence no score:
    # the gate DROPS them (same rows a CCNet band drops).
    enable_dsir: bool = False  # DSIR importance weights (Xie et al.
    # 2023): each surviving doc's hashed-bigram log-likelihood ratio under
    # a curated TARGET corpus vs the surviving corpus; docs below
    # min_avg_logratio drop (as do docs with < 2 tokens: no signal).
    # Table (doc_id, n_grams, log_weight, avg_logratio, keep).
    dsir_opts: dict | None = None  # {'target_path': str (required —
    # parquet with a 'text' column), 'min_avg_logratio': float
    # (required), 'n_buckets': 4096, 'alpha': 1.0, 'text_col'}
    enable_decontaminate: bool = False  # Bloom-filter benchmark
    # decontamination: each surviving doc is probed against an m-bit Bloom
    # bitmap of the benchmark's k-token grams; docs whose flagged-gram
    # ratio exceeds the bound drop. FPs only ever OVER-drop, never leak an
    # eval gram through. Table (doc_id, n_grams, n_flagged_grams,
    # flagged_ratio, keep), flagged docs only.
    decontaminate_opts: dict | None = None  # {'benchmark_path': str
    # (required — parquet with a 'text' column), 'k': 8,
    # 'm_bits': 1<<20, 'n_hashes': 5, 'max_flagged_ratio': 0.0,
    # 'text_col'}
    enable_sample: bool = False  # stratified corpus-mixing downsample
    # (textstats.stratified_sample): deterministic md5-per-id rates per
    # stratum. Table: kept ids + sample weight.
    sample_opts: dict | None = None  # kwargs for stratified_sample;
    # 'rates' is required, 'stratum_col' defaults to 'lang'
    enable_budget: bool = False  # token-budget cut (packing.
    # select_to_budget), the last gate: rank survivors by a weight and
    # keep the maximal prefix whose token sum fits the budget. Table
    # (doc_id, weight, cost, cum_cost, sel_rank).
    budget_opts: dict | None = None  # {'budget': int (required), 'weight':
    # 'chars' (doc char length, the default), 'dsir' (the dsir stage's
    # avg_logratio — requires enable_dsir: keep the best-N-tokens by
    # importance), 'neg_perplexity' (requires enable_perplexity), or any
    # numeric documents column; scores are scaled x1e6 to exact longs,
    # 'text_col'}. Every gate's 'text_col' defaults to 'text' if present,
    # else 'norm_text'.
    extractor: str = "shell"  # html -> extracted_text strategy when the
    # source has an 'html' column. "shell": the sandbox corpus's fixed
    # <html><body> shell is a substring slice (byte-identity with 'text'
    # asserted — the default). "wet": the full WET-style visible-text
    # chain (webnorm.html_visible_text — script/style/comment removal,
    # tag strip, entity decode, whitespace collapse), for real crawl
    # pages; identical expression to the oracle-checked html_extract
    # operator. The choice is stamped into the documents checkpoint
    # meta, so switching extractors on a populated workdir fails its
    # resume loudly instead of silently mixing extraction semantics.
    check_extraction: bool = True   # assert extracted_text == text per url
    check_id_collisions: bool = True
    checkpoint_stages: tuple = DEFAULT_CHECKPOINTS


class CheckpointStore:
    """Parquet-backed stage store (Iceberg-snapshot stand-in, see module doc).

    Plain paths use the local filesystem directly (os + pyarrow footer
    reads). Any URI workdir (``hdfs://``, ``s3a://``, also ``file://``)
    routes existence/delete through the Hadoop FileSystem API and skips
    the driver-side footer reads — r2 advice: ``os.listdir`` on a remote
    URI crashed metrics recording for exactly the deployments the module
    docstring contemplates. The ``file://`` scheme deliberately takes the
    Hadoop branch so the remote code path is exercised by local tests.
    """

    def __init__(self, root: str, spark: SparkSession | None = None):
        from urllib.parse import urlparse

        self.root = root
        self._spark = spark
        self.is_local = urlparse(root).scheme == ""
        if self.is_local:
            os.makedirs(root, exist_ok=True)

    def _fs(self, path: str):
        jvm = self._spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        return hpath.getFileSystem(self._spark._jsc.hadoopConfiguration()), hpath

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)  # posix join; URI-safe here

    def is_complete(self, stage: str) -> bool:
        marker = os.path.join(self.path(stage), "_SUCCESS")
        if self.is_local:
            return os.path.exists(marker)
        fs, p = self._fs(marker)
        return bool(fs.exists(p))

    def write(self, stage: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path(stage))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self.path(stage))

    def invalidate(self, stage: str) -> None:
        if self.is_local:
            import shutil

            shutil.rmtree(self.path(stage), ignore_errors=True)
            return
        fs, p = self._fs(self.path(stage))
        if fs.exists(p):
            fs.delete(p, True)

    def write_text(self, relpath: str, text: str) -> None:
        p = os.path.join(self.root, relpath)
        if self.is_local:
            with open(p, "w") as f:
                f.write(text)
            return
        fs, hp = self._fs(p)
        out = fs.create(hp, True)
        out.write(bytearray(text.encode("utf-8")))
        out.close()

    def read_text(self, relpath: str) -> str | None:
        p = os.path.join(self.root, relpath)
        if self.is_local:
            if not os.path.exists(p):
                return None
            with open(p) as f:
                return f.read()
        fs, hp = self._fs(p)
        if not fs.exists(hp):
            return None
        stream = fs.open(hp)
        try:
            return self._spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def footer_stats(self, stage: str) -> list[tuple[int, int, int]] | None:
        """(part_index, rows, bytes) per part file, from parquet footers —
        driver-side metadata reads, no Spark job. A part file corresponds
        to one write partition, so this doubles as per-partition lineage.
        Returns None for URI workdirs (the caller falls back to one
        Spark-side count; remote footer reads would need pyarrow.fs
        plumbing that buys nothing here)."""
        if not self.is_local:
            return None
        import pyarrow.parquet as pq

        out = []
        d = self.path(stage)
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        for i, f in enumerate(parts):
            fp = os.path.join(d, f)
            out.append((i, pq.read_metadata(fp).num_rows, os.path.getsize(fp)))
        return out


# -- curation gates ---------------------------------------------------------
#
# The opt-in gates between `documents` and `signatures`, in run order (see
# the PipelineConfig fields for what each one decides). A gate's
# ``prepare(spark, cfg, documents, out)`` returns None when the gate is
# off, else ``(compute, stage_meta, signature_stamp)``: the decision-table
# thunk for `_stage` (it closes over the documents frame the gate was
# handed, so each gate judges exactly the set its predecessors kept), the
# stage's own `_meta.json` stamp (None: unstamped), and the gate's entry in
# the signatures meta. A gate-off run stamps nothing, so its checkpoints
# stay byte-identical to ones written before the gate existed.


def _text_col(documents: DataFrame) -> str:
    # a gate must judge the text dedup actually consumes: an html-only
    # source has no raw 'text' column after the documents checkpoint
    # (only norm_text). The RESOLVED column is stamped, so two workdirs
    # whose gates read different columns are different families.
    return "text" if "text" in documents.columns else "norm_text"


def _require_url(documents: DataFrame, cfg_field: str) -> None:
    if "url" not in documents.columns:
        raise ValueError(
            f"{cfg_field} requires a 'url' column in the source (the gate "
            "is keyed on the url; the driver parquet tables have none — it "
            "is for crawl-shaped corpora)"
        )


def _gate_opts(cfg, cfg_field: str, opts_field: str, required: dict,
               defaults: dict) -> dict:
    """The gate's effective opts: ``cfg.<opts_field>`` with every
    ``required`` key present (value: why it is needed) and ``defaults``
    filled in."""
    opts = dict(getattr(cfg, opts_field) or {})
    for key, why in required.items():
        if key not in opts:
            raise ValueError(
                f"{cfg_field} requires {opts_field}[{key!r}] ({why})")
    for key, value in defaults.items():
        opts.setdefault(key, value)
    return opts


def _stamp(gate_id: str, opts: dict, keys: tuple) -> dict:
    return {"gate": gate_id, **{k: opts[k] for k in keys}}


def _url_dedup(spark, cfg, documents, out):
    # first: the window shuffles only (doc_id, url, warc_ts, canonical)
    # rows, and every content gate downstream sees one doc per URL
    if not cfg.enable_url_dedup:
        return None
    from .operators.webnorm import canonicalize_url

    _require_url(documents, "enable_url_dedup")
    ts = ["warc_ts"] if "warc_ts" in documents.columns else []

    def compute():
        c = canonicalize_url(documents.select("doc_id", "url", *ts))
        order = [F.col(k).asc() for k in (*ts, "url", "doc_id")]
        w = Window.partitionBy("canonical_url").orderBy(*order)
        return c.select(
            "doc_id", "canonical_url",
            (F.row_number().over(w) == 1).alias("keep"),
        )

    stamp = {"gate": "url-canonical-v1"}
    return compute, stamp, stamp


def _blocklist(spark, cfg, documents, out):
    # like url_dedup, only (doc_id, host, suffix) rows ever move; the
    # stage is the DROP table, so documents anti-join it
    if cfg.blocklist_domains is None:
        return None
    import hashlib

    from .operators.webnorm import url_blocklist

    _require_url(documents, "blocklist_domains")
    domains = sorted({str(x).lower().strip(".") for x in cfg.blocklist_domains})
    if not domains:
        raise ValueError("blocklist_domains must be non-empty "
                         "when set (use None to disable)")
    sha = hashlib.sha256("\n".join(domains).encode()).hexdigest()[:16]
    return (
        lambda: url_blocklist(documents.select("doc_id", "url"), domains),
        {"gate": "url-blocklist-suffix-v1", "n_domains": len(domains),
         "list_sha": sha},
        {"gate": "url-blocklist-suffix-v1", "list_sha": sha},
    )


def _domain_cap(spark, cfg, documents, out):
    if cfg.domain_cap_n is None:
        return None
    from .operators.webnorm import domain_cap

    _require_url(documents, "domain_cap_n")
    cap = int(cfg.domain_cap_n)
    stamp = {"gate": "domain-cap-md5-v1", "cap": cap}
    return (lambda: domain_cap(documents.select("doc_id", "url"), cap=cap),
            stamp, stamp)


def _filter(spark, cfg, documents, out):
    if not cfg.enable_filter:
        return None
    from .operators.textstats import corpus_filter

    opts = _gate_opts(cfg, "enable_filter", "filter_opts", {},
                      {"text_col": _text_col(documents)})
    return (lambda: corpus_filter(documents, **opts), None,
            {"gate": "corpus_filter-v1", **opts})


def _perplexity(spark, cfg, documents, out):
    if not cfg.enable_perplexity:
        return None
    from .operators.textstats import lm_perplexity

    opts = _gate_opts(
        cfg, "enable_perplexity", "perplexity_opts",
        {"ppl_max": "the gate exists to cut the high-perplexity tail"},
        {"ppl_min": 0.0, "text_col": _text_col(documents)},
    )
    lo, hi = float(opts["ppl_min"]), float(opts["ppl_max"])

    def compute():
        scored = lm_perplexity(documents, text_col=opts["text_col"])
        return scored.withColumn(
            "keep", (F.col("perplexity") >= lo) & (F.col("perplexity") <= hi))

    stamp = _stamp("lm-perplexity-bigram-laplace-v1", opts,
                   ("ppl_min", "ppl_max", "text_col"))
    return compute, stamp, stamp


def _dsir(spark, cfg, documents, out):
    if not cfg.enable_dsir:
        return None
    from .operators.textstats import dsir_weights

    opts = _gate_opts(
        cfg, "enable_dsir", "dsir_opts",
        {"target_path": "parquet with a 'text' column — the curated target "
                        "distribution to tilt toward",
         "min_avg_logratio": "the gate exists to cut the off-target tail"},
        {"n_buckets": 4096, "alpha": 1.0, "text_col": _text_col(documents)},
    )
    floor = float(opts["min_avg_logratio"])

    def compute():
        tgt = spark.read.parquet(opts["target_path"]).select(
            F.col("text").alias(opts["text_col"]))
        scored = dsir_weights(
            documents, tgt, n_buckets=int(opts["n_buckets"]),
            alpha=float(opts["alpha"]), text_col=opts["text_col"],
        )
        return scored.withColumn("keep", F.col("avg_logratio") >= F.lit(floor))

    stamp = _stamp("dsir-hashed-bigram-v1", opts,
                   ("target_path", "min_avg_logratio", "n_buckets", "alpha",
                    "text_col"))
    return compute, stamp, stamp


def _decontaminate(spark, cfg, documents, out):
    # zero joins, zero corpus text shuffle: the bitmap rides the plan as
    # one array literal. The table holds FLAGGED docs only, so the gate
    # anti-joins the over-threshold ids.
    if not cfg.enable_decontaminate:
        return None
    from .operators.textstats import bloom_decontaminate

    opts = _gate_opts(
        cfg, "enable_decontaminate", "decontaminate_opts",
        {"benchmark_path": "parquet with a 'text' column — the eval set to "
                           "scrub against"},
        {"k": 8, "m_bits": 1 << 20, "n_hashes": 5, "max_flagged_ratio": 0.0,
         "text_col": _text_col(documents)},
    )
    max_ratio = float(opts["max_flagged_ratio"])

    def compute():
        bench = spark.read.parquet(opts["benchmark_path"]).select(
            F.col("text").alias(opts["text_col"]))
        flagged = bloom_decontaminate(
            documents, bench, k=int(opts["k"]), m_bits=int(opts["m_bits"]),
            n_hashes=int(opts["n_hashes"]), text_col=opts["text_col"],
        )
        return flagged.withColumn(
            "keep", F.col("flagged_ratio") <= F.lit(max_ratio))

    stamp = _stamp("bloom-decontaminate-v1", opts,
                   ("benchmark_path", "k", "m_bits", "n_hashes",
                    "max_flagged_ratio", "text_col"))
    return compute, stamp, stamp


def _sample(spark, cfg, documents, out):
    # pure per-row Catalyst, zero shuffle
    if not cfg.enable_sample:
        return None
    from .operators.textstats import stratified_sample

    opts = _gate_opts(
        cfg, "enable_sample", "sample_opts",
        {"rates": "per-stratum keep rates for stratified_sample"},
        {"stratum_col": "lang"},
    )
    return (
        lambda: stratified_sample(
            documents.select("doc_id", opts["stratum_col"]), **opts,
        ).select("doc_id", "sample_u", "sample_weight"),
        None,
        {"gate": "stratified-md5-v1", **opts},
    )


def _budget(spark, cfg, documents, out):
    # the LAST gate: every upstream gate has shaped the pool, this one
    # sizes it (two-pass distributed prefix sum)
    if not cfg.enable_budget:
        return None
    from .operators.packing import select_to_budget

    opts = _gate_opts(
        cfg, "enable_budget", "budget_opts",
        {"budget": "the token budget the prefix must fit"},
        {"weight": "chars", "text_col": _text_col(documents)},
    )
    tcol, wspec = opts["text_col"], opts["weight"]
    if wspec == "dsir" and not cfg.enable_dsir:
        raise ValueError(
            "budget_opts weight='dsir' requires enable_dsir=True "
            "(the weight is the dsir stage's avg_logratio)"
        )
    if wspec == "neg_perplexity" and not cfg.enable_perplexity:
        raise ValueError(
            "budget_opts weight='neg_perplexity' requires "
            "enable_perplexity=True (the weight is the perplexity "
            "stage's score)"
        )
    # stage scores are rounded to <= 6 decimals, so the x1e6 long is
    # lossless — selection stays integer-exact
    scores = {"dsir": (out.get("dsir"), F.col("avg_logratio") * 1e6),
              "neg_perplexity": (out.get("perplexity"),
                                 -F.col("perplexity") * 1e6)}

    def compute():
        base = documents.select(
            "doc_id",
            F.size(F.split(F.trim(F.col(tcol)), r"\s+")).cast("long").alias("_c"),
            *([] if wspec in scores
              else [(F.length(F.col(tcol)) if wspec == "chars"
                     else F.col(wspec)).cast("long").alias("_w")]),
        )
        if wspec in scores:
            # inner join: docs the scorer could not score (no n-grams)
            # carry no signal and are excluded
            table, expr = scores[wspec]
            base = base.join(
                table.select("doc_id", F.round(expr, 0).cast("long").alias("_w")),
                "doc_id",
            )
        return select_to_budget(base, budget=int(opts["budget"]),
                                weight_col="_w", cost_col="_c")

    return (compute,
            _stamp("budget-prefix-sum-v1", opts, ("budget", "weight", "text_col")),
            {"gate": "budget-prefix-sum-v1", **opts})


class Gate(NamedTuple):
    name: str            # stage name: checkpoint dir, `out` key, run(until=)
    cfg_field: str       # PipelineConfig field that turns the gate on
    stamp_key: str       # the gate's key in the signatures meta
    prepare: Callable    # (spark, cfg, documents, out) -> None | (compute,
    #                      stage_meta, signature_stamp)
    rows: str | None     # decision rows driving the join (SQL; None: all)
    how: str             # "left_semi" keeps those docs, "left_anti" drops them


GATES = (
    Gate("url_dedup", "enable_url_dedup", "url_gate", _url_dedup,
         "keep", "left_semi"),
    Gate("blocklist", "blocklist_domains", "blocklist_gate", _blocklist,
         None, "left_anti"),
    Gate("domain_cap", "domain_cap_n", "domain_cap_gate", _domain_cap,
         None, "left_semi"),
    Gate("filter", "enable_filter", "input_gate", _filter,
         "keep", "left_semi"),
    Gate("perplexity", "enable_perplexity", "perplexity_gate", _perplexity,
         "keep", "left_semi"),
    Gate("dsir", "enable_dsir", "dsir_gate", _dsir,
         "keep", "left_semi"),
    Gate("decontaminate", "enable_decontaminate", "decontaminate_gate",
         _decontaminate, "NOT keep", "left_anti"),
    Gate("sample", "enable_sample", "sample_gate", _sample,
         None, "left_semi"),
    Gate("budget", "enable_budget", "budget_gate", _budget,
         None, "left_semi"),
)

STAGES = (
    "documents", *(g.name for g in GATES), "signatures",
    "candidates", "tier_report", "span_pairs", "span_report", "verified",
    "edges", "clusters", "canonical",
)


class NearDupPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.store = CheckpointStore(cfg.workdir, spark)
        self._metrics: list[tuple] = []
        self._lineage: list[tuple] = []

    # -- bookkeeping --------------------------------------------------------

    def _record_checkpointed(
        self, stage: str, wall_ms: float, resumed: bool, df: DataFrame | None = None
    ) -> int:
        """Metrics + per-partition lineage from parquet footers (no jobs).
        URI workdirs have no footer access (store.footer_stats -> None):
        fall back to ONE Spark count of the read-back for the row total
        and skip per-partition lineage — correct everywhere, costs one
        metadata-cheap job only on remote deployments (r2 advice)."""
        stats = self.store.footer_stats(stage)
        if stats is None:
            total = df.count() if df is not None else -1
            self._metrics.append((stage, int(total), float(wall_ms), bool(resumed)))
            return total
        self._lineage.extend((stage, pid, rows) for pid, rows, _ in stats)
        total = sum(rows for _, rows, _ in stats)
        self._metrics.append((stage, int(total), float(wall_ms), bool(resumed)))
        return total

    def _record_flowthrough(self, stage: str) -> None:
        # lazy stage: no materialization yet, so no row count (-1); its
        # cost lands in the wall of the consuming checkpointed stage
        self._metrics.append((stage, -1, 0.0, False))

    def flush_metrics(self) -> None:
        """Persist buffered metrics/lineage as parquet via pyarrow on the
        driver — the rows already live driver-side (footer sums), so
        spinning up Spark jobs to write a few hundred rows would put 2-4
        scheduler round-trips on the critical path for nothing. Spark
        reads the files fine (`metrics()` / `lineage()`). URI workdirs
        append through Spark instead (no local os access there)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        def _append(rows, names, subdir):
            d = os.path.join(self.cfg.workdir, subdir)
            if not self.store.is_local:
                schema = ", ".join(
                    f"{n} {'string' if isinstance(rows[0][i], str) else ('boolean' if isinstance(rows[0][i], bool) else ('double' if isinstance(rows[0][i], float) else 'long'))}"
                    for i, n in enumerate(names)
                )
                self.spark.createDataFrame(rows, schema).coalesce(1) \
                    .write.mode("append").parquet(d)
                return
            os.makedirs(d, exist_ok=True)
            cols = list(zip(*rows))
            tbl = pa.table({n: list(c) for n, c in zip(names, cols)})
            pq.write_table(tbl, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))

        if self._lineage:
            _append(self._lineage, ["stage", "partition_id", "rows_out"], "_lineage")
            self._lineage = []
        if self._metrics:
            _append(self._metrics, ["stage", "rows_out", "wall_ms", "resumed"], "_metrics")
            self._metrics = []

    def metrics(self) -> DataFrame:
        return self.store.read(self.spark, "_metrics")

    def lineage(self) -> DataFrame:
        return self.store.read(self.spark, "_lineage")

    def _stage(self, name: str, compute, meta: dict | None = None) -> DataFrame:
        """Run-or-resume one stage.

        Checkpointed stages return the read-back of the materialized
        table; flow-through stages return the lazy plan directly.

        ``meta`` stamps the stage with its producing configuration
        (``<stage>/_meta.json``, written right after the data — the
        overwrite wipes the stage dir, so the stamp cannot precede it)
        and FAILS the resume on mismatch: e.g. signatures from a
        different hash family/seed produce band keys that never collide
        with new ones, silently collapsing near-dup recall (r2 advice).
        A checkpoint with no stamp (pre-stamping workdir, or a crash in
        the instant between data and stamp) resumes with a warning.
        """
        import json

        if name not in self.cfg.checkpoint_stages:
            self._record_flowthrough(name)
            return compute()
        t0 = time.monotonic()
        resumed = self.cfg.resume and self.store.is_complete(name)
        if resumed and meta is not None:
            stored = self.store.read_text(f"{name}/_meta.json")
            if stored is not None and json.loads(stored) != meta:
                raise RuntimeError(
                    f"stage '{name}' checkpoint at {self.store.path(name)} was "
                    f"written by an incompatible configuration:\n  stored:  "
                    f"{stored}\n  current: {json.dumps(meta)}\nResuming would "
                    "silently lose recall (band keys from different hash "
                    "families never collide). Wipe the stage or restore the "
                    "original config."
                )
            if stored is None:
                log.warning(
                    "resuming unstamped '%s' checkpoint (written before "
                    "config stamping) — cannot verify the signature family "
                    "matches", name,
                )
        if not resumed:
            # job description is a thread-local Spark property, so the
            # concurrent span/check branches label their own jobs — event
            # logs then attribute every job to its pipeline stage
            sc = self.spark.sparkContext
            sc.setJobDescription(f"frizbee:{name}")
            try:
                self.store.write(name, compute())
            finally:
                sc.setJobDescription(None)
            if meta is not None:
                self.store.write_text(f"{name}/_meta.json", json.dumps(meta))
        out = self.store.read(self.spark, name)
        self._record_checkpointed(name, (time.monotonic() - t0) * 1e3, resumed,
                                  df=out)
        return out

    # -- stages -------------------------------------------------------------

    def run(
        self,
        docs: DataFrame | None = None,
        input_path: str | None = None,
        until: str = "canonical",
    ) -> dict[str, DataFrame]:
        """Execute stages up to `until` (inclusive); returns stage tables.

        Caches created by the operators (verify tag table, gated
        candidates, winnow fingerprints) are released in the ``finally``
        below — after every submission thread is joined — so back-to-back
        runs in one session never accumulate CacheManager blocks
        (round-2 advice). Flow-through stage frames in the returned dict
        recompute if re-used after the run; checkpointed stages are
        parquet read-backs and unaffected.
        """
        from .util import release_tracked

        if until not in STAGES:
            raise ValueError(
                f"run(until={until!r}): unknown stage (expected one of "
                f"{', '.join(STAGES)})"
            )
        if until == "tier_report" and not self.cfg.enable_tier_report:
            # a stage name implies its stage ran (same contract as an
            # off gate's name, checked in the gate loop)
            raise ValueError(
                "run(until='tier_report') requires "
                "cfg.enable_tier_report=True (the attribution pass is opt-in)"
            )
        try:
            return self._run(docs, input_path, until)
        finally:
            release_tracked()

    def _run(
        self,
        docs: DataFrame | None,
        input_path: str | None,
        until: str,
    ) -> dict[str, DataFrame]:
        cfg, d = self.cfg, self.cfg.dedup
        out: dict[str, DataFrame] = {}

        def s_documents():
            src = docs if docs is not None else self.spark.read.parquet(
                os.path.join(input_path, "documents.parquet")
            )
            has_html = "html" in src.columns
            if not has_html:
                work = src.withColumn("extracted_text", F.col("text"))
            elif cfg.extractor == "wet":
                from .operators.webnorm import html_visible_text

                work = src.withColumn(
                    "extracted_text",
                    html_visible_text(F.col("html").cast("string")),
                )
            elif cfg.extractor == "shell":
                work = extract_text(src)
            else:
                raise ValueError(
                    f"unknown extractor {cfg.extractor!r} "
                    "(expected 'shell' or 'wet')"
                )
            if cfg.check_extraction and "text" in src.columns and has_html:
                work = work.withColumn(
                    "_extract_ok", F.col("extracted_text") == F.col("text")
                )
            if cfg.unicode_nfc:
                # AFTER the byte-identity check binds (raw text stays
                # untouched), BEFORE norm_text derivation: only the
                # dedup-facing column sees the NFC form
                from .operators.webnorm import unicode_norm_udf

                work = work.withColumn(
                    "extracted_text",
                    unicode_norm_udf("NFC")(F.col("extracted_text")),
                )
            work = normalize_text(work, "extracted_text")
            id_src = "url" if "url" in src.columns else "doc_id"
            if id_src == "url":
                work = with_doc_id(work, "url")
            # norm_text IS persisted: signatures, the span pass, and both
            # sides of the verify text join consume it, and recomputing
            # the whitespace-collapse regex at read costs ~4 full
            # JVM-regex passes over the corpus per run (hundreds of
            # core-seconds at bench scale). Parquet column pruning keeps
            # each consumer's scan narrow, so the extra column costs only
            # its one write.
            keep = [c for c in ("url", "warc_ts", "text", "norm_text", "lang",
                                "_extract_ok") if c in work.columns]
            out_df = work.select("doc_id", *keep)
            # NO stage-boundary repartition: extract/normalize
            # is map-only, so writing in scan-split order avoids shuffling
            # the full corpus text (the single largest byte stream in the
            # pipeline — removing it cut ~0.5 GB of shuffle at 400k docs).
            # Task sizing comes from spark.sql.files.maxPartitionBytes on
            # both this scan and every downstream read-back (the reference
            # B5 per-thread volume heuristic, parallel/mod.rs:131-143,
            # expressed as split bytes); nothing downstream needs doc_id
            # hash distribution (candidates re-shuffle on bucket keys,
            # verify re-shuffles on pair keys).
            return out_df

        # the documents stamp always carries the extractor identity, so
        # an extractor switch on a populated workdir fails loudly in
        # EITHER direction (a None stamp would skip the compare and let
        # a wet->shell downgrade resume a wet-extracted checkpoint).
        # Pre-stamping workdirs (stored None) still resume with the
        # standard warning; an nfc toggle also fails here (text_norm key
        # present exactly when the gate is on) as well as at the
        # signatures meta check below.
        doc_meta = {"extractor": f"{cfg.extractor}-v1"}
        if cfg.unicode_nfc:
            doc_meta["text_norm"] = "unicode-nfc-v1"
        documents = self._stage("documents", s_documents, meta=doc_meta)
        # invariant checks run on the checkpointed (parallel) table — one
        # combined aggregation instead of serial scans of the raw input.
        # The agg is SUBMITTED on a side thread so it runs concurrently
        # with the signature chain (it only reads the checkpoint) and is
        # JOINED before any result is returned — a violation still aborts
        # the run before anything downstream becomes visible, it just no
        # longer serializes a full extra scan onto the critical path.
        check_future = None
        check_pool = None
        has_extract_col = "_extract_ok" in documents.columns
        if cfg.check_extraction or cfg.check_id_collisions:
            import concurrent.futures

            aggs = [F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")]
            if has_extract_col:
                aggs.append(
                    F.sum(F.when(~F.col("_extract_ok"), 1).otherwise(0)).alias("bad")
                )
            agg_df = documents.agg(*aggs)
            check_pool = concurrent.futures.ThreadPoolExecutor(1)

            def _run_check():
                self.spark.sparkContext.setJobDescription("frizbee:invariant_check")
                return agg_df.collect()[0]

            check_future = check_pool.submit(_run_check)
        if has_extract_col:
            documents = documents.drop("_extract_ok")
        if "norm_text" not in documents.columns:
            # resumed from a checkpoint written before norm_text was
            # persisted — recompute it as an expression
            documents = normalize_text(documents, "text")
        out["documents"] = documents

        def _join_check():
            nonlocal check_future
            if check_future is None:
                return
            c = check_future.result()
            check_pool.shutdown()
            check_future = None
            msg = None
            if has_extract_col and cfg.check_extraction and c["bad"]:
                msg = f"extraction broke byte-identity for {c['bad']} urls"
            elif cfg.check_id_collisions and c["n"] != c["d"]:
                msg = f"doc_id collision: {c['n']} rows, {c['d']} distinct ids"
            if msg is not None:
                # every checkpoint derived from the bad documents table
                # must go too, or a re-run would resume from stale stages
                for st in STAGES:
                    self.store.invalidate(st)
                raise AssertionError(msg)

        def stop():
            _join_check()
            self.flush_metrics()
            return out

        if until == "documents":
            return stop()

        # curation gates (GATES), in order: each one's decision table is a
        # first-class output, and `documents` is rebound to its survivors
        # before the next gate — and the span/signature closures below —
        # capture it. left-semi/anti joins: no column duplication, and AQE
        # broadcasts the id side when it is small relative to the corpus.
        gate_stamps: dict = {}
        for gate in GATES:
            prepared = gate.prepare(self.spark, cfg, documents, out)
            if prepared is None:
                if until == gate.name:
                    # a stage name implies its stage ran: returning
                    # without the gate's table would fail silently
                    raise ValueError(
                        f"run(until={gate.name!r}) requires cfg."
                        f"{gate.cfg_field} (the {gate.name} gate is opt-in)"
                    )
                continue
            compute, meta, gate_stamps[gate.stamp_key] = prepared
            decisions = out[gate.name] = self._stage(gate.name, compute, meta=meta)
            if gate.rows is not None:
                decisions = decisions.filter(gate.rows)
            documents = documents.join(
                decisions.select("doc_id"), "doc_id", gate.how)
            if until == gate.name:
                return stop()

        # span_pairs depends only on `documents` — launch it on a second
        # submission thread so Spark schedules it CONCURRENTLY with the
        # signatures -> candidates -> verify chain (independent DAG
        # branches; neither alone saturates the cluster at every moment).
        # Joined before clusters, and always before returning.
        span_future = None
        pool = None
        if cfg.enable_span and until not in ("documents", "signatures",
                                             "candidates", "tier_report",
                                             "span_pairs"):
            import concurrent.futures

            # span_report (the shared-boilerplate block report: witness
            # grams of confirmed span pairs extended to maximal
            # byte-identical extents; it stays out of clustering, like
            # span_pairs) depends only on (documents, span_pairs), so it
            # chains on the SAME side thread and overlaps the SW verify —
            # running it after `verified` on the main thread measured +9s
            # of serial wall at bench scale. Skipped when `until` stops
            # at `verified`; for every later `until` this chain is the
            # one place span_report is built.
            chain_report = until != "verified"

            def _span_chain():
                sp = self._stage(
                    "span_pairs",
                    lambda: winnow_span_pairs(documents, d, keep_witness=True),
                )
                rep = None
                if chain_report:
                    rep = self._stage(
                        "span_report",
                        lambda: span_extents(documents, d, span_pairs=sp),
                    )
                return sp, rep

            pool = concurrent.futures.ThreadPoolExecutor(1)
            span_future = pool.submit(_span_chain)

        def _join_span():
            if span_future is None:
                return
            import sys

            unwinding = sys.exc_info()[0] is not None
            try:
                sp, rep = span_future.result()
                out["span_pairs"] = sp
                if rep is not None:
                    out["span_report"] = rep
            except Exception:
                # when called from `finally` during another exception's
                # unwind, a span-branch failure (usually the same root
                # cause) must not REPLACE the primary traceback
                if not unwinding:
                    raise
            finally:
                pool.shutdown(wait=False)

        try:
            signatures = self._stage(
                "signatures", lambda: compute_signatures(documents, d),
                # a gate-off run stamps no gate key (see GATES), so any
                # on<->off toggle of one workdir mismatches
                meta={**signature_meta(d),
                      **({"unicode_gate": {"gate": "unicode-nfc-v1"}}
                         if cfg.unicode_nfc else {}),
                      **gate_stamps},
            )
            out["signatures"] = signatures
            if until == "signatures":
                return stop()

            candidates = self._stage(
                "candidates",
                lambda: unified_candidate_pairs(
                    signatures, d, include_simhash=cfg.enable_simhash
                ),
            )
            out["candidates"] = candidates
            if until == "candidates":
                return stop()

            # tier_report: per-pair tier attribution over the SAME
            # signature table (exact > LSH > tier-2 > SimHash) — pure
            # analysis deliverable, checkpointed, never consumed by the
            # dedup chain itself. Sequential on purpose: it is opt-in
            # and its one pairing shuffle would contend with the
            # candidates/verify chain if overlapped.
            if cfg.enable_tier_report:
                out["tier_report"] = self._stage(
                    "tier_report",
                    lambda: candidate_tier_attribution(signatures, d),
                )
            if until == "tier_report":
                return stop()

            if cfg.enable_span and span_future is None:
                out["span_pairs"] = self._stage(
                    "span_pairs",
                    lambda: winnow_span_pairs(documents, d, keep_witness=True),
                )
            if until == "span_pairs":
                return stop()

            verified = self._stage(
                "verified",
                lambda: verify_pairs(candidates, documents, d),
            )
            out["verified"] = verified
        finally:
            # always join the concurrent span branch (success or failure)
            _join_span()
            # and never leak the invariant-check thread on an error path
            # (shutdown(wait=False) is idempotent and does not cancel the
            # in-flight future, so the success path's _join_check below
            # still reads its result)
            if check_future is not None and check_pool is not None:
                check_pool.shutdown(wait=False)
        _join_check()
        if until == "verified":
            return stop()

        if until == "span_report":
            return stop()

        # virtual stage: a pure filter of the checkpointed `verified` table;
        # recomputing on resume is free, so no checkpoint of its own
        edges = verified.filter("verified").select("a", "b")
        out["edges"] = edges
        if until == "edges":
            return stop()

        clusters = self._stage(
            "clusters", lambda: assign_clusters(documents, edges)
        )
        out["clusters"] = clusters
        if until == "clusters":
            return stop()

        def s_canonical():
            joined = documents.join(clusters, "doc_id")
            order = [F.asc("warc_ts")] if "warc_ts" in documents.columns else []
            order += [F.asc("url")] if "url" in documents.columns else [F.asc("doc_id")]
            w = Window.partitionBy("cluster_id").orderBy(*order)
            return (
                joined.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "norm_text")
            )

        out["canonical"] = self._stage("canonical", s_canonical)
        return stop()
