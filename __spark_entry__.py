"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship: full near-dup detection + clustering over the
                    sf0.001 documents table.
queries()         — one entry per implemented operator (SURVEY.md §2).
oracle_sql()      — DuckDB-equivalent SQL for every SQL-expressible query;
                    only the SW-verify-dependent ops (banded wavefront
                    scoring) keep the rows-only check. The greedy fuzzy
                    matcher, media byte-stats, ANN top-k, embedding
                    near-dups, AND the full MinHash-LSH / SimHash candidate
                    pipelines have value-hash oracles (recursive-CTE scan
                    simulation / unnest histogram / brute-force cosine /
                    pure-SQL splitmix64+OPH+banding re-derivation in
                    frizbee_spark/functions/sql_oracles.py).

Column-name parity rule: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hash-compares values under
sorted column names).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

FUZZY_NEEDLE = "table value data"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _norm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frizbee_spark.operators.dedup import normalize_text

    return normalize_text(_docs(spark, sf_dir), "text")


def _dedup_cfg():
    from frizbee_spark.operators.dedup import DedupConfig

    # driver documents are short (~50-550 chars): short-span settings
    return DedupConfig(span_min_len=100, span_shingle_k=24, winnow_window=16)


def _pipeline_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Shared dedup dataflow for the pipeline-shaped queries: signatures
    -> unified candidates -> verify. One construction point so every
    driver query goes through the optimized path (single-pass candidate
    generation whose exact/Hamming gate tags the pairs verify reads)."""
    from frizbee_spark.operators.dedup import (
        compute_signatures, unified_candidate_pairs, verify_pairs,
    )

    cfg = _dedup_cfg()
    docs = _norm_docs(spark, sf_dir)
    sigs = compute_signatures(docs, cfg)
    # include_simhash=True: the block-combination SimHash source is the
    # pipeline default since r3 (scale-safe ~32-bit table keys); the SQL
    # oracle mirrors it via sql_oracles.simhash_chunks_cte
    cands = unified_candidate_pairs(sigs, cfg, include_simhash=True)
    verified = verify_pairs(cands, docs, cfg)
    return {"cfg": cfg, "docs": docs, "sigs": sigs, "cands": cands,
            "verified": verified}


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-dup clusters + sizes over sf0.001 documents (no checkpointing:
    the operators run directly; NearDupPipeline adds resumable stages)."""
    from frizbee_spark.operators.components import assign_clusters

    fr = _pipeline_frames(spark, SF_DEFAULT)
    edges = fr["verified"].filter("verified").select("a", "b")
    clusters = assign_clusters(fr["docs"], edges)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        clusters.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# queries — SQL-expressible (DuckDB-verified)
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark, sf_dir):
    from frizbee_spark.operators.textstats import exact_dup_groups

    return exact_dup_groups(_docs(spark, sf_dir))


def q_shingle_jaccard_pairs(spark, sf_dir):
    from frizbee_spark.operators.textstats import shingle_jaccard_pairs

    return shingle_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5,
                                 max_shingle_freq=1000)


def q_shingle_containment_pairs(spark, sf_dir):
    """Asymmetric containment pairs (|A∩B|/|A| per direction) — catches
    quote/superset near-dups that symmetric Jaccard dilutes."""
    from frizbee_spark.operators.textstats import shingle_containment_pairs

    return shingle_containment_pairs(_docs(spark, sf_dir), k=3,
                                     threshold=0.8, max_shingle_freq=1000)


def _near_dup_edges(spark, sf_dir):
    from frizbee_spark.operators.textstats import shingle_jaccard_pairs

    docs = _docs(spark, sf_dir)
    jacc = shingle_jaccard_pairs(docs, k=3, threshold=0.5,
                                 max_shingle_freq=1000).select("a", "b")
    same_md5 = (
        docs.select(F.md5("text").alias("m"), F.col("doc_id"))
        .alias("x")
        .join(docs.select(F.md5("text").alias("m"), F.col("doc_id").alias("doc_id2")).alias("y"), "m")
        .filter(F.col("doc_id") < F.col("doc_id2"))
        .select(F.col("doc_id").alias("a"), F.col("doc_id2").alias("b"))
    )
    return docs, jacc.unionByName(same_md5).dropDuplicates(["a", "b"])


def q_near_dup_clusters(spark, sf_dir):
    from frizbee_spark.operators.components import assign_clusters

    docs, edges = _near_dup_edges(spark, sf_dir)
    return assign_clusters(docs, edges)


def q_canonical_docs(spark, sf_dir):
    """One representative per near-dup cluster: the longest doc (ties ->
    smallest id) — the canonical-pick window operator (SURVEY.md §2.5) on
    an oracle-expressible cluster definition."""
    from pyspark.sql.window import Window

    from frizbee_spark.operators.components import assign_clusters

    docs, edges = _near_dup_edges(spark, sf_dir)
    clus = assign_clusters(docs, edges)
    joined = docs.select("doc_id", "n_chars").join(clus, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    sizes = clus.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(sizes, "cluster_id")
        .select("cluster_id", F.col("doc_id").alias("rep_doc_id"), "cluster_size")
    )


def q_cluster_stats(spark, sf_dir):
    """Per-cluster rollup report (size, total chars, language spread) —
    the dedup-reduction accounting a curation run ships with its output."""
    from frizbee_spark.operators.components import assign_clusters

    docs, edges = _near_dup_edges(spark, sf_dir)
    clus = assign_clusters(docs, edges)
    joined = clus.join(docs.select("doc_id", "n_chars", "lang"), "doc_id")
    return joined.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    ).orderBy("cluster_id")


CONTAM_K = 8          # decontamination gram width (tokens)
CONTAM_BENCH_MOD = 10  # benchmark set = doc_id % 10 == 0
BLOOM_M = 1 << 20      # bloom_decontaminate bitmap bits
BLOOM_HASHES = 5       # bloom_decontaminate hash functions
# non-NFC content planted on even doc_ids for normalize_unicode: NFD
# e+combining-acute, U+212B ANGSTROM SIGN, A+combining-ring — all
# canonically equal to precomposed forms but byte-different
UNICODE_PLANT = " cafe\u0301 \u212b A\u030aB"


def q_ngram_contamination(spark, sf_dir):
    """Benchmark decontamination over the documents table: the held-out
    'benchmark' is every 10th doc; corpus docs sharing any 8-token gram
    with it are flagged. The benchmark gram set is broadcast — the
    scale-correct plan when |benchmark| << |corpus|."""
    from frizbee_spark.operators.textstats import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return ngram_contamination(corpus, bench, k=CONTAM_K).orderBy("doc_id")


def q_bloom_decontaminate(spark, sf_dir):
    """Decontamination through a REAL Bloom filter (same bench/corpus
    split and gram width as ngram_contamination, m = 2^20 bits / 5
    hashes): positions are the portable md5->integer idiom, so the
    oracle recomputes the identical bitmap membership — the hash check
    covers true Bloom semantics, false positives included (at this fill
    factor the fixture outcome happens to be FP-free, which the
    tiny-m pytest complements by forcing FPs)."""
    from frizbee_spark.operators.textstats import bloom_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return bloom_decontaminate(
        corpus, bench, k=CONTAM_K, m_bits=BLOOM_M, n_hashes=BLOOM_HASHES
    ).orderBy("doc_id")


def q_dup_chunks(spark, sf_dir):
    """Chunk-level exact dedup (paragraph-dedup analog): 16-token
    non-overlapping chunks occurring in more than one doc."""
    from frizbee_spark.operators.textstats import dup_chunks

    return dup_chunks(_docs(spark, sf_dir), chunk_tokens=16).orderBy("chunk_md5")


def q_dedup_rewrite(spark, sf_dir):
    """Keep-first duplicate-span removal (Lee et al. 2022 rewrite step):
    every 16-token chunk whose exact text occurred earlier in the corpus
    is deleted; first occurrences and tail tokens survive. Oracle:
    window-ranked first-occurrence + list_where reassembly in SQL."""
    from frizbee_spark.operators.textstats import dedup_rewrite

    return dedup_rewrite(_docs(spark, sf_dir), chunk_tokens=16).orderBy("doc_id")


def q_url_dedup(spark, sf_dir):
    """URL-variant collapse (r5): deterministic crawl-style URL variants
    are synthesized per doc_id (case/port/tracking-param/fragment/
    trailing-slash decorations over a shared path family — pure doc_id
    arithmetic, same planted-fixture pattern as media_decode), then
    url_dedup canonicalizes and groups them. The oracle re-derives both
    the synthesis AND the full canonicalization (RFC-3986 split, default
    -port strip, tracking-param filter + lexicographic param sort) in
    DuckDB, so any rule drift hash-mismatches."""
    from frizbee_spark.operators.webnorm import url_dedup

    d = _docs(spark, sf_dir).select("doc_id")
    fam = (F.col("doc_id") % 97).cast("string")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("https://www.Example.COM/a/"), fam))
        .when(v == 1, F.concat(F.lit("https://www.example.com:443/a/"), fam,
                               F.lit("/")))
        .when(v == 2, F.concat(F.lit("HTTPS://www.example.com/a/"), fam,
                               F.lit("?utm_source=feed&fbclid=z"),
                               F.col("doc_id").cast("string")))
        .when(v == 3, F.concat(F.lit("https://www.example.com/a/"), fam,
                               F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("https://www.example.com/a/"), fam,
                            F.lit("?a=1&b=2&utm_campaign=x#frag")))
    )
    return (
        url_dedup(d.select("doc_id", url.alias("url")), id_col="doc_id")
        .orderBy("canonical_url")
    )


def q_pii_scrub(spark, sf_dir):
    """PII detection + masking (r5): emails / IPv4s / phone numbers are
    planted per doc_id onto a digit-stripped text prefix (so the only
    matches are the planted ones), then pii_scrub counts and masks them.
    The oracle replants identically and re-runs the same RE2/Java-common
    regexes in DuckDB — clean_text is compared byte-for-byte."""
    from frizbee_spark.operators.webnorm import pii_scrub

    d = _docs(spark, sf_dir)
    prefix = F.regexp_replace(F.substring(F.col("text"), 1, 40), "[0-9]", "")
    m = F.col("doc_id") % 4
    plant = (
        F.when(m == 0, F.concat(F.lit(" contact user"),
                                F.col("doc_id").cast("string"),
                                F.lit("@example.com")))
        .when(m == 1, F.concat(F.lit(" call +1 (555) 123-"),
                               F.lpad((F.col("doc_id") % 10000).cast("string"),
                                      4, "0")))
        .when(m == 2, F.concat(F.lit(" host 10.0."),
                               (F.col("doc_id") % 256).cast("string"),
                               F.lit("."),
                               ((F.col("doc_id") * 7) % 256).cast("string")))
        .otherwise(F.lit(""))
    )
    planted = d.select("doc_id", F.concat(prefix, plant).alias("text"))
    return pii_scrub(planted).orderBy("doc_id")


def _synth_hosted_urls(d):
    """Deterministic multi-host crawl fixture for the domain queries:
    7 hosts, a :8080 port decoration every 5th doc, and a non-URL row
    every 11th (the dirty-crawl case domain ops must pass through).
    Mirrored verbatim in the DuckDB oracles."""
    site = (F.col("doc_id") % 7).cast("string")
    port = F.when(F.col("doc_id") % 5 == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("not-a-url-"), F.col("doc_id").cast("string")),
    ).otherwise(F.concat(
        F.lit("https://site"), site, F.lit(".example.com"), port,
        F.lit("/p/"), F.col("doc_id").cast("string"),
    ))
    return d.select("doc_id", url.alias("url"))


_SYNTH_HOSTED_URLS_SQL = """
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0
                        THEN 'not-a-url-' || CAST(doc_id AS VARCHAR)
                        ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                             || '.example.com'
                             || CASE WHEN doc_id % 5 = 0 THEN ':8080'
                                     ELSE '' END
                             || '/p/' || CAST(doc_id AS VARCHAR)
                   END AS url
            FROM documents
"""

_HOST_SQL = """lower(regexp_extract(url,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$',
                 2))"""


def _synth_blocklist_urls(d):
    """Deterministic DEEP-host crawl fixture for the blocklist query:
    an optional subN. label (even ids), 7 siteN labels, 3 apex domains,
    and a non-URL row every 11th. Deeper than _synth_hosted_urls on
    purpose — suffix matching needs multi-level hosts to be exercised.
    Mirrored verbatim in the DuckDB oracle."""
    did = F.col("doc_id")
    sub = F.when(did % 2 == 0,
                 F.concat(F.lit("sub"), (did % 4).cast("string"),
                          F.lit("."))).otherwise(F.lit(""))
    apex = (F.when(did % 3 == 0, F.lit("badnet.org"))
            .when(did % 3 == 1, F.lit("goodnet.org"))
            .otherwise(F.lit("example.com")))
    url = F.when(
        did % 11 == 0,
        F.concat(F.lit("not-a-url-"), did.cast("string")),
    ).otherwise(F.concat(
        F.lit("https://"), sub,
        F.lit("site"), (did % 7).cast("string"), F.lit("."), apex,
        F.lit("/p/"), did.cast("string"),
    ))
    return d.select("doc_id", url.alias("url"))


# apex block (all subdomains), specific-host block (and its children),
# and one exact deep host — the three match shapes a real UT1-style
# list mixes. Shared by the Spark query and the DuckDB oracle.
BLOCKLIST_DOMAINS = ("badnet.org", "site3.example.com",
                     "sub2.site2.goodnet.org")

_SYNTH_BLOCKLIST_URLS_SQL = """
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0
                        THEN 'not-a-url-' || CAST(doc_id AS VARCHAR)
                        ELSE 'https://'
                             || CASE WHEN doc_id % 2 = 0
                                     THEN 'sub' || CAST(doc_id % 4 AS VARCHAR)
                                          || '.'
                                     ELSE '' END
                             || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.'
                             || CASE doc_id % 3 WHEN 0 THEN 'badnet.org'
                                     WHEN 1 THEN 'goodnet.org'
                                     ELSE 'example.com' END
                             || '/p/' || CAST(doc_id AS VARCHAR)
                   END AS url
            FROM documents
"""


def q_html_extract(spark, sf_dir):
    """HTML -> visible text extraction (WARC->WET stage) over a
    deterministic page fixture built from the docs table: every doc text
    is wrapped in a full page (title, style block, inline script with
    < > && inside, comment, entity-bearing heading/footer, and a second
    src-only script on every 3rd doc). The oracle builds the identical
    page in SQL and re-runs the same RE2/Java-common strip/decode chain
    in DuckDB — extracted_text is compared byte-for-byte, so a drift in
    any of the five spec steps (script/style/comment removal, tag
    stripping, entity decode order, whitespace collapse) hash-fails."""
    from frizbee_spark.operators.webnorm import html_extract

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><style type="text/css">p { color: red; }</style>'
              '<script>if (a < b && c > 0) { track("'), did,
        F.lit('"); }</script></head><body><!-- crawl '),
        (F.col("doc_id") * 17).cast("string"),
        F.lit(" --><h1>Q&amp;A "), did,
        F.lit("</h1><p>"), F.substring(F.col("text"), 1, 120),
        F.lit("&nbsp;&lt;EOF&gt;</p>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit('<script src="x.js"></script>')).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return html_extract(
        d.select("doc_id", html.alias("html"))
    ).orderBy("doc_id")


def q_normalize_unicode(spark, sf_dir):
    """Unicode NFC normalization over the docs table with deterministic
    non-NFC content planted on even doc_ids (the fixture itself is
    ASCII, which would make the pass a no-op): combining sequences and
    the ANGSTROM SIGN singleton all rewrite to precomposed NFC, odd
    docs pass through with changed=false. The kernel is pyarrow's C++
    utf8_normalize; the oracle is DuckDB's independent nfc_normalize —
    two implementations of Unicode NFC hash-compared byte-for-byte."""
    from frizbee_spark.operators.webnorm import normalize_unicode

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.col("text"), F.lit(UNICODE_PLANT)))
        .otherwise(F.col("text")).alias("text"),
    )
    return normalize_unicode(docs).orderBy("doc_id")


def q_url_blocklist(spark, sf_dir):
    """UT1-style domain-blocklist gate over the deep-host fixture:
    suffix matching as an equi-join (hosts exploded into dot-suffixes
    vs a broadcast blocklist), longest-match attribution. The fixture's
    three list entries exercise apex blocking (all subdomains of
    badnet.org), specific-host blocking (site3.example.com and its
    sub* children), and an exact deep host. Oracle re-derives the
    suffix expansion with generate_series + list slicing and the same
    max_by(length) attribution."""
    from frizbee_spark.operators.webnorm import url_blocklist

    urls = _synth_blocklist_urls(_docs(spark, sf_dir).select("doc_id"))
    return url_blocklist(urls, list(BLOCKLIST_DOMAINS)).orderBy("doc_id")


def q_domain_stats(spark, sf_dir):
    """Per-host corpus profile over the multi-host fixture (7 hosts +
    port decorations + non-URL rows under ''). Oracle re-derives host
    extraction (lowercase, port strip) and both counts in DuckDB."""
    from frizbee_spark.operators.webnorm import domain_stats

    urls = _synth_hosted_urls(_docs(spark, sf_dir).select("doc_id"))
    return domain_stats(urls).orderBy("host")


def q_domain_cap(spark, sf_dir):
    """C4/Gopher-style per-domain cap (10 docs/host) over the same
    fixture: within a host docs rank by md5(url) with id tie-break
    (deterministic pseudo-random sample); non-URL rows pass through
    uncapped at rank 1. WindowGroupLimit keeps hot hosts map-side-
    truncated (plan asserted in pytest). Oracle: the same row_number
    window in DuckDB (md5 hex is engine-identical)."""
    from frizbee_spark.operators.webnorm import domain_cap

    urls = _synth_hosted_urls(_docs(spark, sf_dir).select("doc_id"))
    return domain_cap(urls, cap=10).orderBy("host", "domain_rank", "doc_id")


def q_line_dedup(spark, sf_dir):
    """Line-level boilerplate removal (RefinedWeb/CCNet): a nav header +
    footer line planted on every doc and a promo line on every 3rd must
    vanish corpus-wide; each doc's unique middle line survives. Oracle:
    the same distinct-line count + correlated list_filter reassembly in
    DuckDB (md5 hex is engine-identical); cleaned_text byte-compared."""
    from frizbee_spark.operators.textstats import line_dedup

    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("NAV site menu\n"),
            F.substring(F.col("text"), 1, 50),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\nSHARED PROMO LINE")).otherwise(F.lit("")),
            F.lit("\nFOOTER contact us"),
        ).alias("text"),
    )
    return line_dedup(planted, min_docs=2).orderBy("doc_id")


def q_minhash_jaccard_est(spark, sf_dir):
    """OPH slot-agreement Jaccard estimates for the LSH candidate pairs —
    signature-only similarity triage (no text read). Oracle: the pure-SQL
    OPH re-derivation extended with a per-pair slot-equality count."""
    from frizbee_spark.operators.dedup import (
        compute_signatures, minhash_jaccard_estimate,
    )

    cfg = _dedup_cfg()
    sigs = compute_signatures(_norm_docs(spark, sf_dir), cfg, keep_minhash=True)
    return minhash_jaccard_estimate(sigs, cfg).orderBy("a", "b")


def q_token_stats(spark, sf_dir):
    from frizbee_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_bpe_token_stats(spark, sf_dir):
    from frizbee_spark.operators.textstats import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from frizbee_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition filter signals (top-unigram
    fraction, duplicated-3-gram coverage) — catches keyword-stuffed /
    template pages whose cross-doc signals look fine."""
    from frizbee_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), gram_k=3)


def q_length_profile(spark, sf_dir):
    """Power-of-two length histogram of the corpus (doc count + char mass
    per bucket) — the scan-bound profiling rollup used to size partitions
    and length cutoffs; reads a single pruned column."""
    from frizbee_spark.operators.textstats import length_profile

    return length_profile(_docs(spark, sf_dir))


def q_corpus_filter(spark, sf_dir):
    """FineWeb/Gopher-style keep/drop gate with precedence-ordered reason
    codes (too_short > repetitive_grams > repetitive_unigram >
    no_lang_signal) — the materialized curation decision. Thresholds are
    set where the fixture distribution actually splits (all four reasons
    fire at sf0.01), so the query is non-vacuous."""
    from frizbee_spark.operators.textstats import corpus_filter

    return corpus_filter(_docs(spark, sf_dir))


def q_cluster_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment: hash the near-dup CLUSTER
    id (not the row id), so every member of a duplicate cluster lands in
    one split and eval rows can never have train-set near-copies — the
    standard contamination failure of row-hash splits. Cluster definition
    is the oracle-expressible one shared with near_dup_clusters."""
    from frizbee_spark.operators.components import assign_clusters
    from frizbee_spark.operators.textstats import hash_split

    docs, edges = _near_dup_edges(spark, sf_dir)
    return hash_split(assign_clusters(docs, edges), "cluster_id").select(
        "doc_id", "cluster_id", "split_bucket", "split")


def q_tfidf_topterms(spark, sf_dir):
    """Top-3 terms per doc by smoothed TF-IDF (scikit-learn smoothing) —
    the per-doc keyword/topic signal for corpus mixing decisions."""
    from frizbee_spark.operators.textstats import tfidf_topterms

    return tfidf_topterms(_docs(spark, sf_dir), top_m=3)


def q_user_sessions(spark, sf_dir):
    """Gap sessionization (30-min timeout) of the events stream — one
    user-keyed shuffle shared by the lag window, the running session
    counter, and the session aggregate (operators/events.sessionize).
    Epoch-microsecond outputs keep the compare timezone-proof; decimal
    value sums keep it partition-order-proof."""
    from frizbee_spark.operators.events import sessionize

    return sessionize(_events(spark, sf_dir), gap_s=1800)


def q_event_rates(spark, sf_dir):
    """Tumbling 1-hour rollup per event type (batch form of a streaming
    window aggregation): one map-side-combined aggregate on time-bounded
    keys (operators/events.event_rates)."""
    from frizbee_spark.operators.events import event_rates

    return event_rates(_events(spark, sf_dir), window_s=3600)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling for corpus mixing (en
    halved, de kept, fr quartered, everything else — es/zh on the
    fixture — at the 10% default), with importance weights. md5-integer
    thresholding: engine-portable, append-stable, nested across rates."""
    from frizbee_spark.operators.textstats import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": 0.5, "de": 1.0, "fr": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang", "source", "sample_u", "sample_weight")


def q_source_overlap(spark, sf_dir):
    """Cross-source redundancy matrix over a planted recrawl: every 7th
    doc re-enters the corpus under source='recrawl' (new ids, same
    bytes), so each original source shows its exact share of
    recrawl-duplicated mass. The oracle rebuilds the identical union and
    derives the matrix via the classic (fp, source) self-join — an
    independent formulation of the operator's array-pair expansion."""
    from frizbee_spark.operators.textstats import source_overlap

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    recrawl = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("recrawl").alias("source"),
        F.col("text"),
    )
    return source_overlap(d.unionByName(recrawl)).orderBy(
        "source_a", "source_b"
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: every-10th doc plays the high-quality
    target set, the rest are the raw corpus scored by their
    hashed-bigram (4096 buckets) log-likelihood ratio under the two
    Laplace-smoothed bucket multinomials. Same 6-decimal/decimal-sum
    determinism discipline as lm_perplexity."""
    from frizbee_spark.operators.textstats import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n_buckets=4096,
    ).orderBy("doc_id")


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail: per-language perplexity terciles under
    the corpus-trained bigram LM; NTILE over the (perplexity, doc_id)
    total order — both engines share the standard remainder rule, so
    bucket assignment hash-matches."""
    from frizbee_spark.operators.textstats import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir)).orderBy("doc_id")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk training-sequence packing manifest (seq_len=256,
    4 shards): per doc, the shard-local sequence range its tokens span
    and the offset of its first token. All-integer arithmetic (md5 shard
    hash, running sum, DIV/%), so the oracle reproduces the manifest
    bit-for-bit."""
    from frizbee_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), seq_len=256, n_shards=4
    ).orderBy("doc_id")


def q_budget_select(spark, sf_dir):
    """Greedy token-budget selection: rank docs by n_chars DESC (id
    tiebreak — char-length ties are common, so the tiebreak binds) and
    keep the maximal prefix whose whitespace-token running sum stays
    within 12k tokens (~40% of the fixture's mass, so the cut lands
    mid-corpus at every SF). The operator is the two-pass distributed
    prefix sum (range shuffle + driver offsets + Arrow carry pass) —
    the oracle is the single global window it replaces, so any drift in
    partition offsets, batch carry, or the strict-prefix stop rule
    hash-fails. All-integer arithmetic."""
    from frizbee_spark.operators.packing import select_to_budget

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("n_tokens"),
    )
    return (
        select_to_budget(
            base, budget=12_000, weight_col="n_chars", cost_col="n_tokens"
        )
        .withColumnRenamed("weight", "n_chars")
        .withColumnRenamed("cost", "n_tokens")
        .orderBy("sel_rank")
    )


def q_extract_links(spark, sf_dir):
    """Outlink extraction over a deterministic anchor fixture built from
    the docs table: each doc page carries an absolute https link (host
    h{doc_id%23}.example with a port to strip and mixed-case authority),
    a relative href (host must come back ''), a mixed-case <A HREF>
    every 2nd doc, and a non-link <a name=...> decoy. The oracle runs
    the identical regexp_extract_all in DuckDB and zips parallel unnests
    for the 1-based link ordinal — drift in the anchor regex, ordinal
    numbering, or host lowering/port-stripping hash-fails."""
    from frizbee_spark.operators.webnorm import extract_links

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    host_n = (F.col("doc_id") % 23).cast("string")
    html = F.concat(
        F.lit('<p>see <a href="https://H'), host_n,
        F.lit(".Example:8443/p/"), did, F.lit('?q=1">x</a> and '),
        F.lit('<a name="anchor-'), did, F.lit('">decoy</a> '),
        F.lit('<a class="m" href="/rel/'), did, F.lit('">rel</a>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<A HREF="http://mirror-'), host_n,
                     F.lit('.example/m">m</A>')),
        ).otherwise(F.lit("")),
        F.lit("</p>"),
    )
    return extract_links(
        d.select("doc_id", html.alias("html"))
    ).orderBy("doc_id", "link_n")


_HLL_COLS = ("doc_id", "lang", "source", "text")


def _hll_oracle_sql(p: int = 10) -> str:
    """Per-column twin of operators/sketches.hll_distinct: the portable
    md5-long bucket/rho registers, the exact integer scaled sum
    (1 << (41-M), order-independent), and the one-double-expression
    estimate with the SAME alpha*m^2*2^41 numerator constant injected
    verbatim from Python (no cross-engine float-order question)."""
    from frizbee_spark.operators.sketches import hll_alpha_numerator

    m = 1 << p
    k = hll_alpha_numerator(p)
    blocks = []
    for c in _HLL_COLS:
        blocks.append(f"""
            SELECT '{c}' AS col_name, CAST({m} AS BIGINT) AS m,
                   n_filled, scaled_sum,
                   round(CASE WHEN {k!r} / scaled_sum <= {2.5 * m}
                              AND n_filled < {m}
                         THEN {float(m)} * ln({float(m)}
                                              / ({m} - n_filled))
                         ELSE {k!r} / scaled_sum END, 4) AS distinct_est,
                   CASE WHEN {k!r} / scaled_sum <= {2.5 * m}
                             AND n_filled < {m}
                        THEN 'linear' ELSE 'raw' END AS method,
                   (SELECT count(DISTINCT {c})::BIGINT FROM documents)
                       AS exact_distinct
            FROM (
                SELECT count(*)::BIGINT AS n_filled,
                       (COALESCE(SUM(1::BIGINT << (41 - M)), 0)
                        + ({m} - count(*)) * (1::BIGINT << 41))::BIGINT
                           AS scaled_sum
                FROM (
                    SELECT v % {m} AS bucket,
                           max(CASE WHEN w = 0 THEN 41
                               ELSE 41 - length(bin(w)) END) AS M
                    FROM (SELECT v, (v // {m}) % (1::BIGINT << 40) AS w
                          FROM (SELECT (('0x' || substr(md5(
                                    CAST({c} AS VARCHAR)), 1, 15))
                                    ::UBIGINT)::BIGINT AS v
                                FROM documents
                                WHERE {c} IS NOT NULL) t0) t1
                    GROUP BY 1) t2) t3
        """)
    return ("SELECT * FROM (" + " UNION ALL ".join(blocks)
            + ") ORDER BY col_name")


def q_hll_profile(spark, sf_dir):
    """Portable-hash HyperLogLog distinct-count profile over four
    columns spanning both estimator branches (doc_id/text: raw HLL;
    lang/source: linear counting). Exact-checkable where Spark's and
    DuckDB's own approx_count_distinct never could be: fixed md5
    bucketing, string-length-of-bin zero counts, integer power-of-two
    register sums — the only float is one shared-constant expression,
    rounded to 4 decimals. include_exact adds the true counts so the
    profile doubles as an error report on the fixture."""
    from frizbee_spark.operators.sketches import hll_distinct

    return hll_distinct(_docs(spark, sf_dir), list(_HLL_COLS),
                        include_exact=True).orderBy("col_name")


def q_cm_freq(spark, sf_dir):
    """Count-Min frequency sketch + point estimates: the sketch's
    integer cells are order-independent sums on portable md5 addresses,
    so the whole estimate table (min over depth rows, absent cells = 0)
    is hash-exact cross-engine — the reason CM was chosen over
    Misra-Gries, whose merge result depends on partition order. Probes
    are the distinct tokens of every 50th doc; the true count rides
    along so the result doubles as a never-underestimates certificate
    (est >= exact for every row, equality wherever no row collides)."""
    from frizbee_spark.operators.sketches import cm_estimate, cm_sketch

    docs = _docs(spark, sf_dir).filter("text IS NOT NULL")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    sk = cm_sketch(toks, "token")
    probes = (docs.filter("doc_id % 50 = 0")
              .select(F.explode(F.split(F.trim("text"), r"\s+"))
                      .alias("token")).distinct())
    est = cm_estimate(sk, probes)
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    return est.join(exact, "token").orderBy("token")


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016): 10
    count-argmax-merge iterations over the vocabulary table — the
    corpus is scanned once (pre-tokenize + word count, map-side
    combine) and never re-touched; each iteration is an adjacent-pair
    aggregate plus a top-1 TakeOrdered plus one literal replace, all
    over word TYPES. The oracle unrolls the same 10 steps as chained
    materialized CTEs (overlapping pair counts, (freq DESC, a, b)
    tiebreak, sentinel-framed non-overlapping merge — bit-identical
    semantics), so a drifted tiebreak, wrong merge greediness, or
    missed end-of-word marker hash-mismatches."""
    from frizbee_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=10)


def q_bpe_doc_tokens(spark, sf_dir):
    """Per-doc token counts under the corpus-trained BPE (10 merges):
    encoding is a broadcast join of the doc word stream against the
    trained vocabulary's final segmentation — text is scanned, never
    shuffled. Oracle: the same unrolled training chain, final words
    table joined back to the exploded corpus."""
    from frizbee_spark.operators.bpe import bpe_doc_tokens

    return bpe_doc_tokens(_docs(spark, sf_dir), n_merges=10).orderBy("doc_id")


def q_host_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank (10 iterations, d=0.85, mass scale
    10^12) over a deterministic host graph derived from doc_ids: doc i
    contributes edges h(i%23) -> h((7i+3)%23) and h(i%23) -> h((3i+11)%23),
    deduplicated, self-loops dropped. Every step is long arithmetic
    (DIV/*/+; order-independent sums), so a 10-step iterative algorithm
    has an exact value-hash oracle: the SQL unrolls the ten updates as
    chained CTEs with the same dangling-mass redistribution. Catches
    drift in the update rule, dangling handling, degree computation, or
    integer-division semantics."""
    from frizbee_spark.operators.graph import host_pagerank

    d = _docs(spark, sf_dir)
    src = F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string"))
    e1 = d.select(
        src.alias("src"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 7 + 3) % 23).cast("string"))
            .alias("dst"),
    )
    e2 = d.select(
        src.alias("src"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 3 + 11) % 23).cast("string"))
            .alias("dst"),
    )
    return host_pagerank(e1.unionByName(e2), n_iter=10).orderBy("host")


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: top-50 verbatim whitespace tokens by
    occurrence count with document frequency and dense rank (total
    order: count DESC, token ASC — the boundary is deterministic).
    Spark computes the cut with distributed TakeOrdered, the oracle with
    a global window + rank filter — same total order, so a drift in
    tie-breaking or the boundary hash-fails."""
    from frizbee_spark.operators.textstats import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=50).orderBy("rank")


def q_ngram_novelty(spark, sf_dir):
    """Per-doc marginal-contribution score: fraction of the doc's
    distinct 8-token grams first seen (min doc_id) in this doc. Shares
    the k-gram spec with ngram_contamination and the md5->long
    fingerprint idiom with doc_fingerprint, so the oracle replicates
    BOTH (gram text -> same 60-bit fp -> same min/join/fraction);
    restating-earlier-content docs score near 0 without any single span
    tripping span dedup."""
    from frizbee_spark.operators.textstats import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), k=8).orderBy("doc_id")


def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM cross-entropy/perplexity per doc under a Laplace-smoothed
    model trained on the corpus itself — the CCNet/Gopher-style
    perplexity filter signal. Per-bigram log-probs round to 6 decimals
    and sum as DECIMAL, so the 4-decimal outputs are partition-order- and
    engine-independent (see textstats.lm_perplexity)."""
    from frizbee_spark.operators.textstats import lm_perplexity

    return lm_perplexity(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    from frizbee_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    from frizbee_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def q_embedding_topk(spark, sf_dir):
    from frizbee_spark.operators.similarity import brute_force_topk

    return brute_force_topk(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5)


ANN_PROTO_MOD = 16     # clusters in the derived ANN corpus
ANN_PROTO_SCALE = 12.0  # proto weight: intra-cluster cos ~0.993, inter ~0.5


def _clustered_emb(spark, sf_dir) -> DataFrame:
    return _clustered_emb_with_protos(spark, sf_dir)[0]


# session-scoped cache of the derived clustered corpus: ann_topk and
# ivf_topk both consume it, and repeated driver/bench invocations within
# one session re-derive nothing. Deliberately NOT tracked_persist — the
# frame outlives a single query's unit of work by design (2000 rows) —
# but it IS registered via util.session_persist so session owners can
# drain it (release_clustered_cache / util.release_session_persisted).
_CLUSTERED_CACHE: dict = {}


def release_clustered_cache() -> int:
    """Drop the session-scoped derived ANN corpus (both the persist and
    the memo entries). Called by scripts/check_oracles.py at
    session end and by the cache-lifecycle tests."""
    from frizbee_spark.util import release_session_persisted

    _CLUSTERED_CACHE.clear()
    return release_session_persisted()


def _read_emb_local(sf_dir: str):
    """The fixture embeddings via a driver-side pyarrow read when the
    fixture is a local path — collecting them through a Spark job costs
    ~4s of first-action latency in a cold session for ~2000 tiny rows.
    Returns (vec_id int64 array sorted ascending, float64 matrix in that
    order) or None when the path is not a local file (real deployments)."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    # footer-only row-count guard: this branch materializes the table on
    # the driver, which is only sane for fixture-sized files. A large
    # local embeddings file takes the distributed mapInPandas branch.
    if pq.read_metadata(path).num_rows > 250_000:
        return None
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    M = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(vid, kind="stable")
    vid, M = vid[order], M[order]
    # prototypes are vec_id 0..MOD-1; bail to the distributed branch if
    # the fixture is missing any of them
    if len(vid) < ANN_PROTO_MOD or not (vid[:ANN_PROTO_MOD] == np.arange(ANN_PROTO_MOD)).all():
        return None
    return vid, M


def _clustered_emb_with_protos(spark, sf_dir):
    """Deterministic CLUSTERED corpus derived from the fixture embeddings:
    vector i = 12 * embedding[i % 16] + embedding[i]. Sign-LSH and IVF are
    sublinear only on data with neighborhood structure (the raw fixture is
    near-orthogonal: max pairwise cos ~0.5, where no sublinear method
    works and the honest plan is brute force / blocked Gram — see
    embedding_near_dups). This derivation gives the ANN operators their
    actual operating regime while staying a pure function of the
    registered table, so the DuckDB oracle reproduces it exactly
    (list_zip + list_transform)."""
    import numpy as np

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CLUSTERED_CACHE:
        return _CLUSTERED_CACHE[key]

    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # the 16 prototype rows are tiny and deterministic: read them once
    # (driver-side pyarrow for local fixtures — a Spark collect of the
    # same rows costs ~4s of cold first-action latency) and apply the
    # derivation in one narrow Arrow pass (a broadcast-join + zip_with
    # formulation computes identical doubles but pays ~2s of
    # codegen+broadcast latency per cold session — measured)
    local = _read_emb_local(sf_dir)
    if local is not None:
        # The fixture is a local file and tiny (~2000 rows): derive
        # entirely driver-side (identical float64 math) and hand Spark
        # the finished frame via one Arrow createDataFrame — zero Spark
        # jobs, no cold Python-worker spin-up (~4s saved per fresh
        # session, measured). A real corpus takes the distributed
        # branch below; this helper is the fixture-shaped driver
        # query, not the operator.
        import pandas as pd

        vid, M = local
        P = M[:ANN_PROTO_MOD]
        V = ANN_PROTO_SCALE * P[vid % ANN_PROTO_MOD] + M
        # .tolist() (nested Python floats/ints), NOT list(V): under a
        # vanilla SparkSession (no Arrow — the driver harness's config)
        # createDataFrame's _createFromLocal type verifier rejects
        # numpy.float64 inside array<double>. The Arrow-schema'd
        # mapInPandas branch below is unaffected (Arrow coerces ndarray
        # cells), but this frame must survive any session config.
        from frizbee_spark.util import session_persist

        cb = session_persist(spark.createDataFrame(
            pd.DataFrame({"vec_id": vid.tolist(), "embedding": V.tolist()}),
            schema="vec_id long, embedding array<double>",
        ).coalesce(8))
        _CLUSTERED_CACHE[key] = (cb, P)
        return cb, P

    protos = {
        int(r["vec_id"]): np.asarray(r["vec"], dtype=np.float64)
        for r in e.filter(F.col("vec_id") < ANN_PROTO_MOD).collect()
    }
    P = np.stack([protos[i] for i in range(ANN_PROTO_MOD)])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            M = np.array(pdf["vec"].tolist(), dtype=np.float64)
            vid = pdf["vec_id"].to_numpy()
            V = ANN_PROTO_SCALE * P[vid % ANN_PROTO_MOD] + M
            # list(V) of ndarray cells is safe HERE: mapInPandas output
            # always crosses an Arrow schema, which coerces ndarray ->
            # list<double> regardless of session config (unlike the
            # driver-side createDataFrame above).
            yield pd.DataFrame({"vec_id": vid, "embedding": list(V)})

    # coalesce(8): Spark splits the tiny fixture file to
    # defaultParallelism (32) scan partitions, and every downstream
    # Arrow UDF then pays its ~0.4 core-s fixed task cost 32x for
    # ~62 rows each. 8 tasks is plenty for <= 2000 vectors; a real
    # corpus would keep its natural split count (this helper is the
    # fixture-shaped driver query, not the operator).
    from frizbee_spark.util import session_persist

    cb = session_persist(e.coalesce(8).mapInPandas(
        run, schema="vec_id long, embedding array<double>"
    ))  # session-scoped (see _CLUSTERED_CACHE), shared by
    # ann_topk + ivf_topk + their query collects
    _CLUSTERED_CACHE[key] = (cb, P)
    return cb, P


_ANN_CB_CTE = f"""
cb AS (
    SELECT e.vec_id,
           list_transform(list_zip(p.embedding::DOUBLE[], e.embedding::DOUBLE[]),
                          x -> {ANN_PROTO_SCALE} * x[1] + x[2]) AS v
    FROM embeddings e JOIN embeddings p ON p.vec_id = e.vec_id % {ANN_PROTO_MOD}
)"""


def _ann_brute_oracle(qids: str) -> str:
    return f"""
        WITH {_ANN_CB_CTE.lstrip()},
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM cb
            WHERE vec_id IN ({qids})
        ),
        s AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qvec, e.v), 4) AS cosine
            FROM q, cb e
            WHERE e.vec_id != q.query_id
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rn
            FROM s
        )
        SELECT query_id, neighbor_id, cosine FROM r WHERE rn <= 5
    """


def q_ann_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN at a scale-sane config (12 planes x 8 tables
    -> cluster-sized candidate sets, ~6% of N at sf0.01) over the derived
    clustered corpus (_clustered_emb). Candidate recall is exactly 1.0
    there (deterministic hyperplanes; asserted at sf0.001/0.01/0.1 by
    tests/test_similarity.py), so the brute-force SQL is a valid oracle —
    this replaces r2's planes=4/tables=32 config whose candidate union
    exceeded brute force (VERDICT r2 'What's wrong' #1)."""
    from frizbee_spark.operators.similarity import ann_topk

    cb, P = _clustered_emb_with_protos(spark, sf_dir)
    qids = [0, 1, 2, 3, 4]
    # query ids are all < ANN_PROTO_MOD, so their raw rows ARE proto rows:
    # derived query vector = SCALE*P[q%MOD] + P[q] — no extra collect
    qvecs = {q: ANN_PROTO_SCALE * P[q % ANN_PROTO_MOD] + P[q] for q in qids}
    return ann_topk(cb, query_ids=qids, k=5, n_planes=12, n_tables=8,
                    query_vecs=qvecs)


def q_ivf_topk(spark, sf_dir):
    """IVF top-k with exactness certification (ball-tree bound over list
    angular radii — similarity.ivf_topk): the brute-force oracle is valid
    BY CONSTRUCTION on any input. Run on the clustered corpus where the
    bound actually prunes (probes ~nprobe of the 24 lists)."""
    from frizbee_spark.operators.similarity import ivf_topk

    cb, P = _clustered_emb_with_protos(spark, sf_dir)
    qids = [5, 6, 7, 8, 9]
    qvecs = {q: ANN_PROTO_SCALE * P[q % ANN_PROTO_MOD] + P[q] for q in qids}
    return ivf_topk(cb, query_ids=qids, k=5, n_centroids=24, nprobe=4,
                    certify=True, query_vecs=qvecs)


def q_embedding_near_dups(spark, sf_dir):
    """Embedding near-dup pairs at the fixture's actual cosine scale
    (threshold 0.45 -> 14 pairs at sf0.01; 0.9 returns nothing — the
    fixture has no planted duplicates). Oracle = brute-force all-pairs."""
    from frizbee_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=32
    ).orderBy("a", "b")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic pruning at the fixture's actual cosine
    scale (threshold 0.45 — the same edge set as embedding_near_dups, so
    the dense n_planes=4/n_tables=32 config routes to the exact blocked
    Gram kernel and the candidate set matches the oracle by
    construction). Oracle = brute-force cosine edges + recursive-CTE
    connected components + min-id representative, mirroring the
    near_dup_clusters oracle shape on the embeddings table."""
    from frizbee_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=32
    ).orderBy("vec_id")


def q_media_stats(spark, sf_dir):
    """Byte-level media stats over the docs' utf-8 payloads. The compared
    columns (size, Shannon entropy) are DuckDB-expressible; the operator's
    content_hash column is excluded from the contract query (custom 64-bit
    family, still pytest-covered)."""
    from frizbee_spark.operators.multimodal import media_stats

    media = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    return media_stats(media, binary_col="media").select(
        "doc_id", "n_bytes", F.round("entropy", 4).alias("entropy")
    ).orderBy("doc_id")


def q_media_decode(spark, sf_dir):
    """REAL media decode (r4; PNG + GIF added r5): deterministic
    BMP/WAV/PPM/PNG/GIF blobs are synthesized per doc_id
    (multimodal.synth_media_blob — pure function of the id), then
    decode_media parses the actual bytes back in pure NumPy (stdlib zlib
    inflate + all-5-filter unfiltering for PNG; variable-width LZW +
    interlace reorder for GIF). The oracle recomputes the planted dims /
    duration / fill from doc_id arithmetic, so a mis-parsed header
    field, botched BMP row padding, wrong PCM sample width, broken PNG
    unfilter, or desynced LZW code width hash-mismatches. mean_value is NOT
    rounded: BMP/WAV/PPM plant integers and the PNG mean is one exact
    integer-sum / n division that both engines evaluate to the
    bit-identical double — rounding would instead hit the documented
    .xx5 cross-engine tie (measured on 15/2000 ids). The decoder column
    (always 'numpy' here) is asserted in pytest and excluded from the
    contract projection."""
    from frizbee_spark.operators.multimodal import decode_media, synth_media

    blobs = synth_media(_docs(spark, sf_dir).select("doc_id"))
    return decode_media(blobs).select(
        "doc_id", "media_type", "width", "height", "n_channels",
        "sample_rate",
        F.round("duration_s", 4).alias("duration_s"),
        "mean_value",
    ).orderBy("doc_id")


def q_container_meta(spark, sf_dir):
    """REAL container-metadata parse: deterministic MP4 (ISO-BMFF box
    tree — ftyp/free/moov/mvhd/trak/mdia/hdlr/mdat, 64-bit largesize,
    v0+v1 mvhd, faststart AND streaming layouts) and MPEG-1 Layer III
    MP3 blobs (CBR frame chains with per-frame padding bits, ID3v2
    prefixes, ID3v1 trailers) are synthesized per doc_id
    (multimodal.synth_container_blob — pure function of the id), then
    container_meta walks the actual bytes back: box-size arithmetic,
    mvhd version dispatch, per-trak handler types, mdat byte totals,
    frame-length stepping (144*bitrate/samplerate + padding). The
    oracle recomputes the planted duration/timescale/stream-count/
    bitrate from doc_id arithmetic — every column is an integer, so a
    mis-walked box, skipped-wrong ID3 tag, or off-by-padding frame
    length hash-mismatches exactly."""
    from frizbee_spark.operators.multimodal import (
        container_meta, synth_container)

    blobs = synth_container(_docs(spark, sf_dir).select("doc_id"))
    return container_meta(blobs).orderBy("doc_id")


def q_greedy_match(spark, sf_dir):
    """The greedy long-document matcher path, forced for every row
    (route="greedy") so the whole result is oracle-checkable: the oracle
    is a 16-step recursive CTE simulating the first-match-wins scan
    (valid because the fixture text is all-lowercase, starts with a
    non-delimiter, and the only delimiter present is the space)."""
    from frizbee_spark.constants import MatchConfig
    from frizbee_spark.operators.fuzzy import fuzzy_match

    return fuzzy_match(
        _docs(spark, sf_dir), needle=FUZZY_NEEDLE,
        text_col="text", id_cols=["doc_id"],
        config=MatchConfig(max_typos=None), limit=100, route="greedy",
    )


def q_minhash_lsh_candidates(spark, sf_dir):
    """Full MinHash-LSH candidate pipeline (normalize -> rolling k-gram
    hash -> OPH signature -> band keys -> bucket pairs). Oracle: the
    pure-SQL re-derivation in sql_oracles.minhash_lsh_sql (splitmix64
    via HUGEINT half-multiplies; validated byte-identical at two SFs)."""
    from frizbee_spark.operators.dedup import compute_signatures, lsh_band_pairs

    cfg = _dedup_cfg()
    sigs = compute_signatures(_norm_docs(spark, sf_dir), cfg)
    return lsh_band_pairs(sigs, cfg).orderBy("a", "b")


def q_simhash_pairs(spark, sf_dir):
    """SimHash chunk-bucket candidates + Hamming filter. Oracle: the
    pure-SQL bit-majority SimHash in sql_oracles.simhash_pairs_sql."""
    from frizbee_spark.operators.dedup import compute_signatures, simhash_pairs

    cfg = _dedup_cfg()
    sigs = compute_signatures(_norm_docs(spark, sf_dir), cfg)
    return simhash_pairs(sigs, cfg).orderBy("a", "b")


def q_curation_rollup(spark, sf_dir):
    """Per-(source, lang) curation report: doc counts, global exact-dup
    doc counts, corpus_filter keep/drop-reason counts, char/token
    volume — every column a count or integer sum, so the oracle compare
    is exact. Oracle: the corpus_filter SQL nested as a CTE plus a
    window-counted md5 dup flag."""
    from frizbee_spark.operators.textstats import curation_rollup

    return curation_rollup(_docs(spark, sf_dir)).orderBy("source", "lang")


def q_candidate_tiers(spark, sf_dir):
    """Per candidate pair, the highest-priority tier that accepts it
    (exact > main LSH bands > tier-2 short-doc bands > SimHash) — the
    tiered-dedup tuning view. Oracle: sql_oracles.tier_attribution_sql,
    the same single-pass bucket-union + payload pair generation in pure
    SQL."""
    from frizbee_spark.operators.dedup import (
        candidate_tier_attribution, compute_signatures)

    cfg = _dedup_cfg()
    sigs = compute_signatures(_norm_docs(spark, sf_dir), cfg)
    return candidate_tier_attribution(sigs, cfg).orderBy("a", "b")


# ---------------------------------------------------------------------------
# queries — non-SQL-expressible (rows-only check)
# ---------------------------------------------------------------------------


def q_sw_verified_pairs(spark, sf_dir):
    return _pipeline_frames(spark, sf_dir)["verified"].orderBy("a", "b")


def q_dedup_clusters(spark, sf_dir):
    from frizbee_spark.operators.components import assign_clusters

    fr = _pipeline_frames(spark, sf_dir)
    edges = fr["verified"].filter("verified").select("a", "b")
    return assign_clusters(fr["docs"], edges).orderBy("doc_id")


def q_winnow_span_pairs(spark, sf_dir):
    """Winnowing span-candidate pairs + byte confirm. Oracle: window-frame
    sliding-min + DISTINCT in sql_oracles.winnow_span_sql (the kernel's
    consecutive-dedup + per-(doc,value) unique reduce to exactly that)."""
    from frizbee_spark.operators.dedup import winnow_span_pairs

    return winnow_span_pairs(_norm_docs(spark, sf_dir), _dedup_cfg()).orderBy("a", "b")


SPAN_EXACT_K = 32


def q_span_exact_pairs(spark, sf_dir):
    """The winnowing span machinery in its densest (degenerate) setting —
    window=1 keeps EVERY shingle hash, min_shared=1 keeps every pair — so
    the operator computes exactly "pairs of docs (len >= 100) sharing at
    least one 32-byte substring, with the count of distinct shared
    32-grams". That semantic IS ANSI-SQL-expressible, giving the
    winnowing kernel + CSR plumbing + fingerprint-bucket pair generation
    a full value-hash oracle (the production window=16 configuration
    keeps the rows-only check in q_winnow_span_pairs)."""
    from frizbee_spark.operators.dedup import DedupConfig, winnow_span_pairs

    cfg = DedupConfig(span_min_len=100, span_shingle_k=SPAN_EXACT_K,
                      winnow_window=1, span_min_shared=1)
    return (
        winnow_span_pairs(_docs(spark, sf_dir), cfg, text_col="text")
        .select("a", "b", "shared_fps")
        .orderBy("a", "b")
    )


def q_span_extents(spark, sf_dir):
    """Shared-boilerplate block report: each confirmed span pair's witness
    gram extended to its maximal byte-identical extent (offsets + length).
    Oracle: sql_oracles.span_extents_sql — the full witness-selection +
    binary-search-extension semantics re-derived in SQL."""
    from frizbee_spark.operators.dedup import span_extents

    return span_extents(_norm_docs(spark, sf_dir), _dedup_cfg()).orderBy("a", "b")


# fuzzy-join needle dictionary: ids are stable handles, strings are
# in-distribution phrases of different lengths/routes
FUZZY_JOIN_NEEDLES = [(1, FUZZY_NEEDLE), (2, "spark query"), (3, "merge batch")]


def q_fuzzy_join(spark, sf_dir):
    """Dictionary-vs-corpus fuzzy join (operators/fuzzy.fuzzy_join): the
    3-needle set broadcast, documents scanned once, per-needle top-50 via
    WindowGroupLimit. Typo budget = longest needle length — non-binding
    (a needle's traceback count never exceeds its own length), it only
    forces real typo counts, mirroring q_fuzzy_match."""
    from frizbee_spark.constants import MatchConfig
    from frizbee_spark.operators.fuzzy import fuzzy_join

    max_len = max(len(ns) for _, ns in FUZZY_JOIN_NEEDLES)
    return fuzzy_join(
        _docs(spark, sf_dir), FUZZY_JOIN_NEEDLES,
        text_col="text", id_cols=["doc_id"],
        config=MatchConfig(max_typos=max_len), per_needle_limit=50,
    )


def q_fuzzy_match(spark, sf_dir):
    """Needle search over documents. The typo budget is non-binding
    (= needle length, the traceback's upper bound), so no row is ever
    filtered by it — it exists solely to make the kernel run the typo
    traceback and emit real counts instead of -1, which is what the
    DuckDB oracle (sql_oracles.fuzzy_match_sql) verifies."""
    from frizbee_spark.constants import MatchConfig
    from frizbee_spark.operators.fuzzy import fuzzy_match

    return fuzzy_match(
        _docs(spark, sf_dir), needle=FUZZY_NEEDLE,
        text_col="text", id_cols=["doc_id"],
        config=MatchConfig(max_typos=len(FUZZY_NEEDLE)), limit=100,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "shingle_jaccard_pairs": q_shingle_jaccard_pairs,
        "shingle_containment_pairs": q_shingle_containment_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "canonical_docs": q_canonical_docs,
        "cluster_stats": q_cluster_stats,
        "ngram_contamination": q_ngram_contamination,
        "bloom_decontaminate": q_bloom_decontaminate,
        "dup_chunks": q_dup_chunks,
        "dedup_rewrite": q_dedup_rewrite,
        "url_dedup": q_url_dedup,
        "pii_scrub": q_pii_scrub,
        "html_extract": q_html_extract,
        "normalize_unicode": q_normalize_unicode,
        "domain_stats": q_domain_stats,
        "domain_cap": q_domain_cap,
        "url_blocklist": q_url_blocklist,
        "line_dedup": q_line_dedup,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "token_stats": q_token_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "quality_score": q_quality_score,
        "repetition_stats": q_repetition_stats,
        "length_profile": q_length_profile,
        "corpus_filter": q_corpus_filter,
        "cluster_split": q_cluster_split,
        "tfidf_topterms": q_tfidf_topterms,
        "lm_perplexity": q_lm_perplexity,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "budget_select": q_budget_select,
        "extract_links": q_extract_links,
        "host_pagerank": q_host_pagerank,
        "vocab_topk": q_vocab_topk,
        "ngram_novelty": q_ngram_novelty,
        "bpe_merges": q_bpe_merges,
        "bpe_doc_tokens": q_bpe_doc_tokens,
        "hll_profile": q_hll_profile,
        "cm_freq": q_cm_freq,
        "dsir_weights": q_dsir_weights,
        "source_overlap": q_source_overlap,
        "perplexity_buckets": q_perplexity_buckets,
        "user_sessions": q_user_sessions,
        "event_rates": q_event_rates,
        "language_id": q_language_id,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_topk": q_embedding_topk,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "semantic_dedup": q_semantic_dedup,
        "media_stats": q_media_stats,
        "media_decode": q_media_decode,
        "container_meta": q_container_meta,
        "greedy_match": q_greedy_match,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "simhash_pairs": q_simhash_pairs,
        "candidate_tiers": q_candidate_tiers,
        "curation_rollup": q_curation_rollup,
        "sw_verified_pairs": q_sw_verified_pairs,
        "dedup_clusters": q_dedup_clusters,
        "winnow_span_pairs": q_winnow_span_pairs,
        "span_exact_pairs": q_span_exact_pairs,
        "span_extents": q_span_extents,
        "fuzzy_match": q_fuzzy_match,
        "fuzzy_join": q_fuzzy_join,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh
    FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT sh AS rsh FROM sh GROUP BY sh HAVING count(*) <= 1000),
capped AS (SELECT doc_id, sh FROM sh JOIN rare ON sh = rsh),
inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
    FROM capped x JOIN capped y ON x.sh = y.sh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT a, b, round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.a = sa.doc_id
    JOIN sizes sb ON inter.b = sb.doc_id
)
"""

# shared recursive-CTE block: near-dup clusters over jaccard>=0.5 + md5 edges
_CLUSTER_CTE = f"""
{_SHINGLE_CTE},
epairs AS (
    SELECT x.doc_id AS a, y.doc_id AS b
    FROM documents x JOIN documents y
      ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id
),
edges AS (
    SELECT a, b FROM jpairs WHERE jaccard >= 0.5
    UNION SELECT a, b FROM epairs
),
bidir AS (
    SELECT a AS u, b AS v FROM edges
    UNION SELECT b AS u, a AS v FROM edges
),
reach(u, v) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.u, d.v FROM reach r JOIN bidir d ON r.v = d.u
),
clusters AS (
    SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
)
"""

# recursive-CTE simulation of the greedy first-match-wins scan
# (frizbee_spark/functions/oracle.py:match_greedy, reference semantics
# greedy.rs:9-103) for the pinned all-lowercase needle. Valid because the
# fixture text is lowercase ASCII, starts with a non-delimiter, and the
# only delimiter present is ' ' — so the path-dependent flags collapse to
# position predicates (same argument as the vectorized greedy kernel).
_GREEDY_CTE = f"""
WITH RECURSIVE gm(doc_id, l, txt, k, h, score, failed) AS (
    SELECT doc_id, length(text), text, 0, 0, 0, length(text) < 16
    FROM documents
    UNION ALL
    SELECT doc_id, l, txt, k + 1,
           CASE WHEN ok THEN p + 1 ELSE h END,
           CASE WHEN ok THEN
               greatest(score + 12
                        - CASE WHEN p > h AND k > 0
                               THEN 5 + (p - h - 1) ELSE 0 END, 0)
               + 4
               + CASE WHEN p = 0 THEN 12 ELSE 0 END
               + CASE WHEN p > 0 AND substr(txt, p, 1) = ' '
                           AND nc <> ' ' THEN 4 ELSE 0 END
           ELSE score END,
           failed OR NOT ok
    FROM (
        SELECT *,
               CASE WHEN pos1 > 0 AND NOT failed THEN true ELSE false END AS ok,
               h + pos1 - 1 AS p
        FROM (
            SELECT *,
                   CASE WHEN win_len > 0 AND NOT failed
                        THEN strpos(substr(txt, h + 1, win_len), nc)
                        ELSE 0 END AS pos1
            FROM (
                SELECT *,
                       substr('{FUZZY_NEEDLE}', k + 1, 1) AS nc,
                       (l - 16 + k) - h + 1 AS win_len
                FROM gm WHERE k < 16
            )
        )
    )
)
"""


def _sql_oracles():
    from frizbee_spark.functions import sql_oracles

    return sql_oracles


def _pagerank_oracle_sql(n_iter: int = 10, scale: int = 10**12,
                         d: int = 85) -> str:
    """Unrolled-CTE twin of q_host_pagerank: the same fixed-point integer
    update chained ``n_iter`` times. Possible only because every step is
    long arithmetic — order-independent sums make an iterative algorithm
    value-hash checkable."""
    head = f"""
        WITH raw AS MATERIALIZED (
            SELECT 'h' || (doc_id % 23)::VARCHAR AS src,
                   'h' || ((doc_id * 7 + 3) % 23)::VARCHAR AS dst
            FROM documents
            UNION ALL
            SELECT 'h' || (doc_id % 23)::VARCHAR,
                   'h' || ((doc_id * 3 + 11) % 23)::VARCHAR
            FROM documents
        ),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst
                               FROM raw WHERE src <> dst),
        nodes AS MATERIALIZED (SELECT src AS h FROM edges UNION SELECT dst FROM edges),
        nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nodes),
        deg AS MATERIALIZED (SELECT src AS h, count(*)::BIGINT AS od
                FROM edges GROUP BY src),
        r0 AS MATERIALIZED (SELECT nodes.h,
                      (CAST({scale} AS BIGINT) // nn.n)::BIGINT AS r
               FROM nodes, nn)"""
    iters = []
    for i in range(1, n_iter + 1):
        p = i - 1
        iters.append(f"""
        dang{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r.r), 0)::BIGINT AS dm
            FROM r{p} r LEFT JOIN deg ON r.h = deg.h
            WHERE deg.h IS NULL
        ),
        inc{i} AS MATERIALIZED (
            SELECT e.dst AS h, SUM(r.r // deg.od)::BIGINT AS s
            FROM edges e
            JOIN r{p} r ON e.src = r.h
            JOIN deg ON deg.h = e.src
            GROUP BY e.dst
        ),
        r{i} AS MATERIALIZED (
            SELECT n.h,
                   (({100 - d}) * (CAST({scale} AS BIGINT) // nn.n)
                    + {d} * (COALESCE(i.s, 0) + dang{i}.dm // nn.n)
                   ) // 100 AS r
            FROM nodes n CROSS JOIN nn CROSS JOIN dang{i}
            LEFT JOIN inc{i} i ON n.h = i.h
        )""")
    return (head + "," + ",".join(iters)
            + f"\n        SELECT h AS host, r AS rank_u"
              f" FROM r{n_iter} ORDER BY host")


def _bpe_oracle_cte(n_merges: int) -> str:
    """Unrolled-CTE twin of operators/bpe.bpe_train: the same K
    count-argmax-merge steps chained as materialized CTEs. Checkable
    because each step is deterministic — overlapping adjacent-pair
    counts, (freq DESC, a, b) tiebreak, and the sentinel-framed
    left-to-right non-overlapping replace are replicated exactly."""
    head = """
        WITH words0 AS MATERIALIZED (
            SELECT w AS word, count(*)::BIGINT AS cnt,
                   chr(31) || array_to_string(
                       list_append(string_split(w, ''), '</w>'),
                       chr(31)||chr(31)) || chr(31) AS s
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                      AS w
                  FROM documents)
            GROUP BY w
        )"""
    iters = []
    for k in range(1, n_merges + 1):
        p = k - 1
        iters.append(f"""
        stats{k} AS MATERIALIZED (
            SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt)::BIGINT AS freq
            FROM (SELECT cnt,
                         string_split(trim(s, chr(31)),
                                      chr(31)||chr(31)) AS syms
                  FROM words{p}),
                 unnest(generate_series(1, len(syms)-1)) t(i)
            GROUP BY 1, 2
        ),
        best{k} AS MATERIALIZED (
            SELECT a, b, freq FROM stats{k}
            ORDER BY freq DESC, a, b LIMIT 1
        ),
        words{k} AS MATERIALIZED (
            SELECT word, cnt,
                   replace(s, chr(31)||a||chr(31)||chr(31)||b||chr(31),
                           chr(31)||a||b||chr(31)) AS s
            FROM words{p} CROSS JOIN best{k}
        )""")
    return head + "," + ",".join(iters)


def _bpe_merges_oracle_sql(n_merges: int = 10) -> str:
    rows = " UNION ALL ".join(
        f"SELECT {k} AS rank, a AS left_sym, b AS right_sym, "
        f"a||b AS merged, freq FROM best{k}"
        for k in range(1, n_merges + 1))
    return (_bpe_oracle_cte(n_merges)
            + f"\n        SELECT * FROM ({rows}) ORDER BY rank")


def _bpe_doc_tokens_oracle_sql(n_merges: int = 10) -> str:
    return _bpe_oracle_cte(n_merges) + f"""
        SELECT d.doc_id,
               count(*)::BIGINT AS n_words,
               SUM(len(string_split(trim(w.s, chr(31)),
                                    chr(31)||chr(31))))::BIGINT
                   AS n_subwords
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+'))
                         AS word
              FROM documents) d
        JOIN words{n_merges} w USING (word)
        GROUP BY d.doc_id ORDER BY d.doc_id"""


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in
                          ("the", "a", "of", "and", "to", "in", "table", "row", "data", "value"))
    en = ", ".join(f"'{w}'" for w in ("the", "and", "of", "with", "for"))
    de = ", ".join(f"'{w}'" for w in ("der", "die", "das", "und", "mit"))
    fr = ", ".join(f"'{w}'" for w in ("le", "la", "les", "et", "avec"))
    d = {
        "exact_dup_groups": """
            SELECT md5(text) AS text_md5,
                   count(*) AS dup_count,
                   min(doc_id) AS rep_doc_id
            FROM documents GROUP BY 1
        """,
        "shingle_jaccard_pairs": f"""
            WITH {_SHINGLE_CTE}
            SELECT a, b, jaccard FROM jpairs WHERE jaccard >= 0.5
        """,
        "shingle_containment_pairs": f"""
            WITH {_SHINGLE_CTE}
            SELECT a, b,
                   round(i * 1.0 / sa.n_sh, 4) AS contain_a_in_b,
                   round(i * 1.0 / sb.n_sh, 4) AS contain_b_in_a
            FROM inter
            JOIN sizes sa ON inter.a = sa.doc_id
            JOIN sizes sb ON inter.b = sb.doc_id
            WHERE greatest(round(i * 1.0 / sa.n_sh, 4),
                           round(i * 1.0 / sb.n_sh, 4)) >= 0.8
        """,
        "near_dup_clusters": f"""
            WITH RECURSIVE {_CLUSTER_CTE.lstrip()}
            SELECT doc_id, cluster_id FROM clusters
        """,
        "canonical_docs": f"""
            WITH RECURSIVE {_CLUSTER_CTE.lstrip()},
            joined AS (
                SELECT c.cluster_id, c.doc_id, d.n_chars,
                       row_number() OVER (
                           PARTITION BY c.cluster_id
                           ORDER BY d.n_chars DESC, c.doc_id ASC
                       ) AS rn,
                       count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
                FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
            )
            SELECT cluster_id, doc_id AS rep_doc_id, cluster_size
            FROM joined WHERE rn = 1
        """,
        "cluster_stats": f"""
            WITH RECURSIVE {_CLUSTER_CTE.lstrip()}
            SELECT c.cluster_id,
                   count(*) AS cluster_size,
                   sum(d.n_chars)::BIGINT AS total_chars,
                   count(DISTINCT d.lang) AS n_langs
            FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
            GROUP BY 1
        """,
        "ngram_contamination": f"""
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(CONTAM_K))}) AS gr
                FROM toks,
                     unnest(generate_series(1, greatest(len(w) - {CONTAM_K - 1}, 1))) AS t(i)
            ),
            bench AS (
                SELECT DISTINCT gr FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0
            ),
            perdoc AS (
                SELECT g.doc_id, count(*) AS n_grams,
                       count(b.gr) AS n_contaminated_grams
                FROM g LEFT JOIN bench b ON g.gr = b.gr
                WHERE g.doc_id % {CONTAM_BENCH_MOD} != 0
                GROUP BY 1
            )
            SELECT doc_id, n_grams, n_contaminated_grams,
                   round(n_contaminated_grams * 1.0 / n_grams, 4)
                       AS contamination_ratio
            FROM perdoc WHERE n_contaminated_grams > 0
        """,
        # true Bloom semantics re-derived: identical md5 positions,
        # set-bit membership == bitmap lookup by construction — any FP
        # the Spark bitmap produces, this produces too
        "bloom_decontaminate": f"""
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(CONTAM_K))}) AS gr
                FROM toks,
                     unnest(generate_series(1, greatest(len(w) - {CONTAM_K - 1}, 1))) AS t(i)
            ),
            bits AS (
                SELECT DISTINCT
                       (('0x' || substr(md5('bloom' || j::VARCHAR || ':' || gr),
                                        1, 15))::UBIGINT)::BIGINT
                           % {BLOOM_M} AS pos
                FROM (SELECT DISTINCT gr FROM g
                      WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
                     range({BLOOM_HASHES}) t(j)
            ),
            probe AS (
                SELECT g.doc_id, g.gr,
                       bool_and(
                           (('0x' || substr(md5('bloom' || j::VARCHAR || ':'
                                                || g.gr), 1, 15))::UBIGINT)::BIGINT
                               % {BLOOM_M} IN (SELECT pos FROM bits)
                       ) AS hit
                FROM g, range({BLOOM_HASHES}) t(j)
                WHERE g.doc_id % {CONTAM_BENCH_MOD} != 0
                GROUP BY g.doc_id, g.gr
            ),
            perdoc AS (
                SELECT doc_id, count(*) AS n_grams,
                       sum(hit::INT)::BIGINT AS n_flagged_grams
                FROM probe GROUP BY 1
            )
            SELECT doc_id, n_grams, n_flagged_grams,
                   round(n_flagged_grams * 1.0 / n_grams, 4) AS flagged_ratio
            FROM perdoc WHERE n_flagged_grams > 0
        """,
        "dup_chunks": """
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
            ),
            ch AS (
                SELECT doc_id,
                       md5(array_to_string(list_slice(w, (c-1)*16 + 1, c*16), ' '))
                           AS chunk_md5
                FROM toks, unnest(generate_series(1, len(w) // 16)) AS t(c)
            )
            SELECT chunk_md5,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences,
                   min(doc_id) AS rep_doc_id
            FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        """,
        "dedup_rewrite": r"""
            WITH toks AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
                FROM documents
            ),
            chunks AS (
                SELECT doc_id, c.c AS idx,
                       array_to_string(ts[(c.c-1)*16+1 : c.c*16], ' ') AS cstr
                FROM toks,
                     UNNEST(range(1, CAST(len(ts)//16 AS BIGINT) + 1)) AS c(c)
            ),
            rem AS (
                SELECT doc_id, idx FROM chunks
                QUALIFY row_number() OVER (
                    PARTITION BY cstr ORDER BY doc_id, idx) > 1
            ),
            perdoc AS (
                SELECT doc_id, list(idx ORDER BY idx) AS rix
                FROM rem GROUP BY doc_id
            ),
            outv AS (
                SELECT t.doc_id,
                       CAST(len(ts)//16 AS BIGINT) AS n_chunks,
                       CAST(coalesce(len(rix), 0) AS BIGINT) AS n_removed,
                       list_where(ts, list_transform(range(1, len(ts)+1),
                           j -> ((j-1)//16)+1 > len(ts)//16
                                OR NOT list_contains(coalesce(rix, []),
                                                     ((j-1)//16)+1))) AS kept
                FROM toks t LEFT JOIN perdoc p ON t.doc_id = p.doc_id
            )
            SELECT doc_id, n_chunks, n_removed,
                   CAST(len(kept) AS BIGINT) AS cleaned_tokens,
                   coalesce(array_to_string(kept, ' '), '') AS cleaned_text
            FROM outv ORDER BY doc_id
        """,
        "url_dedup": r"""
            WITH urls AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 0 THEN 'https://www.Example.COM/a/'
                                     || CAST(doc_id % 97 AS VARCHAR)
                         WHEN 1 THEN 'https://www.example.com:443/a/'
                                     || CAST(doc_id % 97 AS VARCHAR) || '/'
                         WHEN 2 THEN 'HTTPS://www.example.com/a/'
                                     || CAST(doc_id % 97 AS VARCHAR)
                                     || '?utm_source=feed&fbclid=z'
                                     || CAST(doc_id AS VARCHAR)
                         WHEN 3 THEN 'https://www.example.com/a/'
                                     || CAST(doc_id % 97 AS VARCHAR) || '?b=2&a=1'
                         ELSE 'https://www.example.com/a/'
                              || CAST(doc_id % 97 AS VARCHAR)
                              || '?a=1&b=2&utm_campaign=x#frag'
                       END AS url
                FROM documents
            ),
            parsed AS (
                SELECT doc_id, url,
                    lower(regexp_extract(url,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
                    lower(regexp_extract(url,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 2)) AS auth,
                    regexp_extract(url,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS raw_path,
                    regexp_replace(regexp_extract(url,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 4),
                      '^\?', '') AS rawq
                FROM urls
            ),
            qf AS (
                SELECT *, list_sort(list_filter(string_split(rawq, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                      '^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=')))
                    AS qp
                FROM parsed
            ),
            canon AS (
                SELECT doc_id, url,
                    CASE WHEN scheme = '' THEN url ELSE
                      scheme || '://' ||
                      CASE WHEN scheme = 'http'
                             THEN regexp_replace(auth, ':80$', '')
                           WHEN scheme = 'https'
                             THEN regexp_replace(auth, ':443$', '')
                           ELSE auth END ||
                      CASE WHEN regexp_replace(raw_path, '/+$', '') = ''
                             THEN '/'
                           ELSE regexp_replace(raw_path, '/+$', '') END ||
                      CASE WHEN len(qp) > 0
                             THEN '?' || array_to_string(qp, '&')
                           ELSE '' END
                    END AS canonical_url
                FROM qf
            )
            SELECT canonical_url,
                   count(*) AS n_variants,
                   count(DISTINCT url) AS n_distinct_urls,
                   min(url) AS rep_url,
                   min(doc_id) AS rep_id
            FROM canon GROUP BY canonical_url ORDER BY canonical_url
        """,
        # identical page fixture + the same RE2/Java-common strip/decode
        # chain re-run in DuckDB; extracted_text compared byte-for-byte
        "html_extract": r"""
            WITH pages AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                       || '</title><style type="text/css">p { color: red; }</style>'
                       || '<script>if (a < b && c > 0) { track("'
                       || CAST(doc_id AS VARCHAR)
                       || '"); }</script></head><body><!-- crawl '
                       || CAST(doc_id * 17 AS VARCHAR)
                       || ' --><h1>Q&amp;A ' || CAST(doc_id AS VARCHAR)
                       || '</h1><p>' || substring(text, 1, 120)
                       || '&nbsp;&lt;EOF&gt;</p>'
                       || CASE WHEN doc_id % 3 = 0
                               THEN '<script src="x.js"></script>'
                               ELSE '' END
                       || '</body></html>' AS html
                FROM documents
            ),
            stripped AS (
                SELECT doc_id, html,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(html,
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                               '(?s)<!--.*?-->', ' ', 'g'),
                               '<[^>]*>', ' ', 'g') AS t
                FROM pages
            ),
            decoded AS (
                -- same entity order as the operator: &amp; LAST
                SELECT doc_id, html,
                       trim(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               replace(t,
                               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                               '&#39;', ''''), '&apos;', ''''),
                               '&nbsp;', ' '), '&amp;', '&'),
                           '[ \t\n\r\f]+', ' ', 'g')) AS extracted_text
                FROM stripped
            )
            SELECT doc_id, extracted_text,
                   CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT)
                       AS n_tags,
                   round(length(extracted_text) * 1.0
                         / greatest(length(html), 1), 4) AS text_ratio
            FROM decoded ORDER BY doc_id
        """,
        # DuckDB's nfc_normalize is an INDEPENDENT NFC implementation
        # from the pyarrow kernel the operator uses — the hash compare
        # cross-checks two Unicode libraries byte-for-byte
        "normalize_unicode": f"""
            WITH p AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0
                            THEN text || '{UNICODE_PLANT}'
                            ELSE text END AS t
                FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(t) AS norm_text,
                   nfc_normalize(t) != t AS changed
            FROM p
        """,
        "pii_scrub": r"""
            WITH planted AS (
                SELECT doc_id,
                       regexp_replace(substring(text, 1, 40), '[0-9]', '', 'g')
                       || CASE doc_id % 4
                            WHEN 0 THEN ' contact user'
                                        || CAST(doc_id AS VARCHAR)
                                        || '@example.com'
                            WHEN 1 THEN ' call +1 (555) 123-'
                                        || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                                4, '0')
                            WHEN 2 THEN ' host 10.0.'
                                        || CAST(doc_id % 256 AS VARCHAR) || '.'
                                        || CAST((doc_id * 7) % 256 AS VARCHAR)
                            ELSE ''
                          END AS text
                FROM documents
            )
            , masked AS (
                -- counts are sequential, like the operator: each class
                -- counted on the text with higher-precedence classes
                -- already masked
                SELECT doc_id, text,
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g') AS after_email
                FROM planted
            ), masked2 AS (
                SELECT *, regexp_replace(after_email,
                         '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
                         AS after_ip
                FROM masked
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(after_email,
                     '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(after_ip,
                     '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
                   regexp_replace(after_ip,
                     '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
            FROM masked2 ORDER BY doc_id
        """,
        "url_blocklist": f"""
            WITH urls AS ({_SYNTH_BLOCKLIST_URLS_SQL}),
            hosts AS (
                SELECT doc_id,
                       regexp_replace({_HOST_SQL}, ':[0-9]+$', '') AS host
                FROM urls
            ),
            bl(domain) AS (VALUES {", ".join(f"('{d}')"
                                             for d in BLOCKLIST_DOMAINS)}),
            sfx AS (
                SELECT doc_id, host, array_to_string(parts[i:], '.') AS sfx
                FROM (SELECT doc_id, host, string_split(host, '.') AS parts
                      FROM hosts WHERE host <> ''),
                     unnest(generate_series(1, len(parts))) t(i)
            )
            SELECT s.doc_id, max(s.host) AS host,
                   max_by(s.sfx, length(s.sfx)) AS matched_domain
            FROM sfx s JOIN bl ON s.sfx = bl.domain
            GROUP BY s.doc_id ORDER BY s.doc_id
        """,
        "domain_stats": f"""
            WITH urls AS ({_SYNTH_HOSTED_URLS_SQL}),
            hosts AS (
                SELECT doc_id, url,
                       regexp_replace({_HOST_SQL}, ':[0-9]+$', '') AS host
                FROM urls
            )
            SELECT host, count(*) AS n_docs, count(DISTINCT url) AS n_urls
            FROM hosts GROUP BY host ORDER BY host
        """,
        "domain_cap": f"""
            WITH urls AS ({_SYNTH_HOSTED_URLS_SQL}),
            hosts AS (
                SELECT doc_id, url,
                       regexp_replace({_HOST_SQL}, ':[0-9]+$', '') AS host
                FROM urls
            ),
            ranked AS (
                SELECT doc_id, host,
                       row_number() OVER (
                           PARTITION BY host ORDER BY md5(url), doc_id) AS rn
                FROM hosts
            )
            SELECT doc_id, host,
                   CASE WHEN host = '' THEN 1 ELSE rn END AS domain_rank
            FROM ranked WHERE host = '' OR rn <= 10
            ORDER BY host, domain_rank, doc_id
        """,
        "line_dedup": r"""
            WITH planted AS (
                SELECT doc_id,
                       'NAV site menu' || chr(10) || substring(text, 1, 50)
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || 'SHARED PROMO LINE'
                               ELSE '' END
                       || chr(10) || 'FOOTER contact us' AS text
                FROM documents
            ),
            ls AS (
                SELECT doc_id, string_split(text, chr(10)) AS ln
                FROM planted
            ),
            ch AS (
                SELECT DISTINCT doc_id, md5(l) AS h
                FROM ls, UNNEST(list_filter(ln, x -> trim(x) <> '')) AS t(l)
            ),
            boiler AS (
                SELECT h FROM ch GROUP BY h HAVING count(*) >= 2
            ),
            rmv AS (
                SELECT doc_id, list(h) AS rs
                FROM ch JOIN boiler USING (h) GROUP BY doc_id
            ),
            outv AS (
                SELECT l.doc_id, ln,
                       list_filter(ln, x -> trim(x) = ''
                           OR NOT list_contains(coalesce(rs, []), md5(x)))
                           AS kept
                FROM ls l LEFT JOIN rmv r ON l.doc_id = r.doc_id
            )
            SELECT doc_id,
                   CAST(len(ln) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(ln, x -> trim(x) <> ''))
                        - len(list_filter(kept, x -> trim(x) <> ''))
                        AS BIGINT) AS n_removed,
                   coalesce(array_to_string(kept, chr(10)), '')
                       AS cleaned_text
            FROM outv ORDER BY doc_id
        """,
        "minhash_jaccard_est": _sql_oracles().minhash_jaccard_estimate_sql(
            _dedup_cfg()),
        "token_stats": """
            WITH t AS (SELECT doc_id, trim(text) AS tt,
                              string_split(trim(text), ' ') AS w
                       FROM documents)
            SELECT doc_id,
                   len(w) AS n_tokens,
                   len(list_distinct(w)) AS n_distinct_tokens,
                   round((length(tt) - len(w) + 1) * 1.0 / len(w), 4) AS avg_token_len
            FROM t
        """,
        "bpe_token_stats": """
            WITH t AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +'))
                           AS n_bpe_tokens,
                       len(string_split(trim(text), ' ')) AS n_ws_tokens
                FROM documents
            )
            SELECT doc_id, n_bpe_tokens, n_ws_tokens,
                   round(n_bpe_tokens * 1.0 / n_ws_tokens, 4) AS tokens_per_word
            FROM t
        """,
        "repetition_stats": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                       FROM documents),
            ucnt AS (
                SELECT doc_id, u, count(*) AS c
                FROM t, unnest(w) AS s(u) GROUP BY 1, 2
            ),
            uni AS (
                SELECT doc_id, sum(c) AS n_tokens, max(c) AS top
                FROM ucnt GROUP BY 1
            ),
            g AS (
                SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
                FROM t,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS s(i)
            ),
            gcnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
            gr AS (
                SELECT doc_id, sum(c) AS n_grams,
                       sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
                FROM gcnt GROUP BY 1
            )
            SELECT u.doc_id,
                   u.n_tokens::BIGINT AS n_tokens,
                   round(u.top * 1.0 / u.n_tokens, 4) AS top_unigram_frac,
                   round(gr.dup * 1.0 / gr.n_grams, 4) AS dup_gram_frac
            FROM uni u JOIN gr ON u.doc_id = gr.doc_id
        """,
        "length_profile": """
            WITH t AS (
                SELECT floor(log2(greatest(length(text), 1)))::INT AS len_bucket,
                       length(text) AS n
                FROM documents
            )
            SELECT len_bucket,
                   count(*) AS n_docs,
                   sum(n)::BIGINT AS total_chars,
                   min(n)::BIGINT AS min_chars,
                   max(n)::BIGINT AS max_chars
            FROM t GROUP BY 1
        """,
        "corpus_filter": f"""
            WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w
                       FROM documents),
            ucnt AS (
                SELECT doc_id, u, count(*) AS c
                FROM t, unnest(w) AS s(u) GROUP BY 1, 2
            ),
            uni AS (
                SELECT doc_id, sum(c) AS n_tokens, max(c) AS top
                FROM ucnt GROUP BY 1
            ),
            g AS (
                SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
                FROM t,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS s(i)
            ),
            gcnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
            gr AS (
                SELECT doc_id, sum(c) AS n_grams,
                       sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
                FROM gcnt GROUP BY 1
            ),
            lang AS (
                SELECT doc_id,
                       len(list_intersect(lw, [{en}])) AS he,
                       len(list_intersect(lw, [{de}])) AS hd,
                       len(list_intersect(lw, [{fr}])) AS hf
                FROM (SELECT doc_id,
                             list_distinct(string_split(lower(trim(text)), ' ')) AS lw
                      FROM documents)
            ),
            sig AS (
                SELECT t.doc_id,
                       length(t.text)::BIGINT AS n_chars,
                       u.n_tokens::BIGINT AS n_tokens,
                       round(u.top * 1.0 / u.n_tokens, 4) AS top_unigram_frac,
                       round(gr.dup * 1.0 / gr.n_grams, 4) AS dup_gram_frac,
                       CASE WHEN greatest(he, hd, hf) = 0 THEN 'und'
                            WHEN he = greatest(he, hd, hf) THEN 'en'
                            WHEN hd = greatest(he, hd, hf) THEN 'de'
                            ELSE 'fr' END AS lang_pred
                FROM t JOIN uni u USING (doc_id) JOIN gr USING (doc_id)
                       JOIN lang USING (doc_id)
            )
            SELECT doc_id, n_chars, n_tokens, top_unigram_frac,
                   dup_gram_frac, lang_pred, (reason = 'ok') AS keep, reason
            FROM (
                SELECT *,
                       CASE WHEN n_chars < 50 OR n_tokens < 10 THEN 'too_short'
                            WHEN dup_gram_frac > 0.05 THEN 'repetitive_grams'
                            WHEN top_unigram_frac > 0.125 THEN 'repetitive_unigram'
                            WHEN lang_pred = 'und' THEN 'no_lang_signal'
                            ELSE 'ok' END AS reason
                FROM sig
            )
        """,
        "cluster_split": f"""
            WITH RECURSIVE {_CLUSTER_CTE.lstrip()},
            b AS (
                SELECT doc_id, cluster_id,
                       ((('0x' || substr(md5('split:' || cluster_id::VARCHAR),
                                         1, 15))::UBIGINT)::BIGINT % 10)
                           AS split_bucket
                FROM clusters
            )
            SELECT doc_id, cluster_id, split_bucket,
                   CASE WHEN split_bucket < 8 THEN 'train'
                        WHEN split_bucket < 9 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "tfidf_topterms": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                       FROM documents),
            tf AS (
                SELECT doc_id, u AS term, count(*) AS tf
                FROM t, unnest(w) AS s(u) GROUP BY 1, 2
            ),
            dfreq AS (SELECT term, count(*) AS dfr FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS nd FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * (ln((nd + 1) * 1.0 / (dfr + 1)) + 1), 4)
                           AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                ) AS rank
                FROM scored
            )
            SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
        """,
        "user_sessions": """
            WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(round(value, 2) AS DECIMAL(18,2)) AS val
                FROM events
            ),
            l AS (
                SELECT *, lag(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                ) AS prev
                FROM e
            ),
            f AS (
                SELECT *, CASE WHEN prev IS NULL
                                 OR us - prev > 1800 * 1000000
                               THEN 1 ELSE 0 END AS is_new
                FROM l
            ),
            s AS (
                SELECT *, sum(is_new) OVER (
                    PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING
                )::BIGINT AS session_n
                FROM f
            )
            SELECT user_id, session_n,
                   min(us) AS session_start_us,
                   max(us) AS session_end_us,
                   count(*)::BIGINT AS n_events,
                   round(CAST(sum(val) AS DOUBLE), 2) AS total_value
            FROM s GROUP BY 1, 2
        """,
        "event_rates": """
            SELECT epoch_us(ts) - epoch_us(ts) % (3600::BIGINT * 1000000)
                       AS window_start_us,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   round(CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
                              AS DOUBLE), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "stratified_sample": """
            WITH s AS (
                SELECT doc_id, lang, source,
                       ((('0x' || substr(md5('sample:' || doc_id::VARCHAR),
                                         1, 15))::UBIGINT)::BIGINT
                        % 1000000) AS u,
                       CASE lang WHEN 'en' THEN 500000
                                 WHEN 'de' THEN 1000000
                                 WHEN 'fr' THEN 250000
                                 ELSE 100000 END AS thr
                FROM documents
            )
            SELECT doc_id, lang, source,
                   round(u / 1000000.0, 6) AS sample_u,
                   round(1000000.0 / thr, 6) AS sample_weight
            FROM s WHERE u < thr
        """,
        # identical planted-recrawl union; matrix derived via the classic
        # (fp, source) self-join instead of the operator's array pairs
        "source_overlap": """
            WITH corpus AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, 'recrawl', text
                FROM documents WHERE doc_id % 7 = 0
            ),
            per AS (
                SELECT (('0x' || substr(md5(text), 1, 15))::UBIGINT)::BIGINT
                           AS fp,
                       source AS src, count(*)::BIGINT AS n
                FROM corpus GROUP BY 1, 2
            ),
            tot AS (SELECT source AS src, count(*)::BIGINT AS total
                    FROM corpus GROUP BY 1),
            pairs AS (
                SELECT a.src AS source_a, b.src AS source_b,
                       count(*)::BIGINT AS shared_fingerprints,
                       sum(a.n)::BIGINT AS docs_a_in_b,
                       sum(b.n)::BIGINT AS docs_b_in_a
                FROM per a JOIN per b ON a.fp = b.fp AND a.src < b.src
                GROUP BY 1, 2
            )
            SELECT source_a, source_b, shared_fingerprints,
                   docs_a_in_b, docs_b_in_a,
                   round(docs_a_in_b * 1.0 / ta.total, 6) AS frac_a,
                   round(docs_b_in_a * 1.0 / tb.total, 6) AS frac_b
            FROM pairs
            JOIN tot ta ON ta.src = source_a
            JOIN tot tb ON tb.src = source_b
            ORDER BY source_a, source_b
        """,
        # same hashed-bigram buckets, Laplace multinomials, and
        # 6-decimal/decimal-sum discipline re-derived in DuckDB
        "dsir_weights": """
            WITH rawd AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                          FROM documents WHERE doc_id % 10 <> 0),
            tgtd AS (SELECT string_split(trim(text), ' ') AS w
                     FROM documents WHERE doc_id % 10 = 0),
            rawb AS (
                SELECT doc_id,
                       ((('0x' || substr(md5('dsir:' ||
                                             (w[i] || ' ' || w[i + 1])),
                                         1, 15))::UBIGINT)::BIGINT
                        % 4096) AS b
                FROM rawd, unnest(generate_series(1, len(w) - 1)) AS s(i)
            ),
            tgtb AS (
                SELECT ((('0x' || substr(md5('dsir:' ||
                                             (w[i] || ' ' || w[i + 1])),
                                         1, 15))::UBIGINT)::BIGINT
                        % 4096) AS b
                FROM tgtd, unnest(generate_series(1, len(w) - 1)) AS s(i)
            ),
            rm AS (SELECT b, count(*)::BIGINT AS c_raw FROM rawb GROUP BY b),
            tm AS (SELECT b, count(*)::BIGINT AS c_tgt FROM tgtb GROUP BY b),
            tot AS (SELECT (SELECT sum(c_raw) FROM rm) AS tr,
                           (SELECT sum(c_tgt) FROM tm) AS tt),
            model AS (
                SELECT rm.b,
                       CAST(round(
                           (log2(COALESCE(tm.c_tgt, 0) + 1.0)
                            - log2(tot.tt + 4096.0))
                           - (log2(rm.c_raw + 1.0)
                              - log2(tot.tr + 4096.0)), 6)
                           AS DECIMAL(20,6)) AS lr
                FROM rm LEFT JOIN tm USING (b), tot
            ),
            sc AS (
                SELECT doc_id, count(*)::BIGINT AS n_grams,
                       sum(lr) AS slr
                FROM rawb JOIN model USING (b) GROUP BY doc_id
            )
            SELECT doc_id, n_grams,
                   CAST(round(slr, 4) AS DOUBLE) AS log_weight,
                   round(CAST(slr AS DOUBLE) / n_grams, 4) AS avg_logratio
            FROM sc ORDER BY doc_id
        """,
        # same md5 shard hash, running sum, and integer DIV/% — the
        # manifest must match bit-for-bit
        # the two-pass distributed prefix sum vs the single global
        # window it replaces — same total order, same strict-prefix rule
        "budget_select": """
            WITH t AS (
                SELECT doc_id, n_chars::BIGINT AS n_chars,
                       len(string_split(trim(text), ' '))::BIGINT AS n_tokens
                FROM documents WHERE text IS NOT NULL
            ),
            w AS (
                SELECT doc_id, n_chars, n_tokens,
                       SUM(n_tokens) OVER (
                           ORDER BY n_chars DESC, doc_id)::BIGINT AS cum_cost,
                       ROW_NUMBER() OVER (
                           ORDER BY n_chars DESC, doc_id)::BIGINT AS sel_rank
                FROM t
            )
            SELECT doc_id, n_chars, n_tokens, cum_cost, sel_rank
            FROM w WHERE cum_cost <= 12000 ORDER BY sel_rank
        """,
        # identical anchor regex + parallel-unnest zip for the ordinal;
        # host lowering/port-strip shares the domain operators' regex
        "extract_links": r"""
            WITH pages AS (
                SELECT doc_id,
                    '<p>see <a href="https://H' || (doc_id % 23)::VARCHAR
                    || '.Example:8443/p/' || doc_id::VARCHAR
                    || '?q=1">x</a> and '
                    || '<a name="anchor-' || doc_id::VARCHAR
                    || '">decoy</a> '
                    || '<a class="m" href="/rel/' || doc_id::VARCHAR
                    || '">rel</a>'
                    || CASE WHEN doc_id % 2 = 0
                            THEN '<A HREF="http://mirror-'
                                 || (doc_id % 23)::VARCHAR
                                 || '.example/m">m</A>'
                            ELSE '' END
                    || '</p>' AS html
                FROM documents
            ),
            l AS (
                SELECT doc_id,
                       regexp_extract_all(html,
                           '(?i)<a\s[^>]*href\s*=\s*"([^"]*)"', 1) AS ls
                FROM pages
            ),
            x AS (
                SELECT doc_id,
                       unnest(range(1, len(ls) + 1))::BIGINT AS link_n,
                       unnest(ls) AS href
                FROM l
            )
            SELECT doc_id, link_n, href,
                   regexp_replace(lower(regexp_extract(href,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
                       2)), ':[0-9]+$', '') AS host
            FROM x ORDER BY doc_id, link_n
        """,
        "host_pagerank": _pagerank_oracle_sql(),
        "bpe_merges": _bpe_merges_oracle_sql(),
        "bpe_doc_tokens": _bpe_doc_tokens_oracle_sql(),
        "hll_profile": _hll_oracle_sql(),
        "cm_freq": """
            -- Count-Min twin: same md5 cell addresses ('cm<row>:' ||
            -- token % width), same integer cell sums, min over the 4
            -- rows with missing cells read as 0. Tokenization mirrors
            -- vocab_topk's fixture contract (single-space corpus).
            WITH toks AS (
                SELECT unnest(string_split(trim(text), ' ')) AS token
                FROM documents WHERE text IS NOT NULL
            ),
            cells AS (
                SELECT r,
                       (('0x' || substr(md5('cm' || r::VARCHAR || ':'
                            || token), 1, 15))::UBIGINT)::BIGINT
                           % 2048 AS cell,
                       count(*)::BIGINT AS cnt
                FROM toks, unnest([0, 1, 2, 3]) t(r)
                GROUP BY 1, 2
            ),
            probes AS (
                SELECT DISTINCT unnest(string_split(trim(text), ' '))
                    AS token
                FROM documents
                WHERE doc_id % 50 = 0 AND text IS NOT NULL
            ),
            addr AS (
                SELECT p.token, t.r,
                       (('0x' || substr(md5('cm' || t.r::VARCHAR || ':'
                            || p.token), 1, 15))::UBIGINT)::BIGINT
                           % 2048 AS cell
                FROM probes p, unnest([0, 1, 2, 3]) t(r)
            ),
            est AS (
                SELECT a.token, min(COALESCE(c.cnt, 0))::BIGINT AS est
                FROM addr a LEFT JOIN cells c
                    ON a.r = c.r AND a.cell = c.cell
                GROUP BY a.token
            )
            SELECT e.token, e.est, x.exact_count
            FROM est e
            JOIN (SELECT token, count(*)::BIGINT AS exact_count
                  FROM toks GROUP BY token) x USING (token)
            ORDER BY e.token
        """,
        "vocab_topk": """
            WITH t AS (
                SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
                FROM documents WHERE text IS NOT NULL
            ),
            c AS (
                SELECT token, count(*)::BIGINT AS n_occurrences,
                       count(DISTINCT doc_id)::BIGINT AS n_docs
                FROM t GROUP BY token
            ),
            r AS (
                SELECT token, n_occurrences, n_docs,
                       row_number() OVER (
                           ORDER BY n_occurrences DESC, token ASC
                       )::BIGINT AS rank
                FROM c
            )
            SELECT token, n_occurrences, n_docs, rank
            FROM r WHERE rank <= 50 ORDER BY rank
        """,
        # same k-gram spec as ngram_contamination, same md5->60-bit-long
        # fingerprint as doc_fingerprint — a fp collision (merging two
        # grams) reproduces identically on both sides by construction
        "ngram_novelty": f"""
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w
                FROM documents WHERE text IS NOT NULL
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(8))}) AS gr
                FROM toks,
                     unnest(generate_series(1, greatest(len(w) - 7, 1))) AS t(i)
            ),
            fps AS (
                SELECT doc_id,
                       (('0x' || substr(md5(gr), 1, 15))::UBIGINT)::BIGINT AS fp
                FROM g
            ),
            first AS (
                SELECT fp, min(doc_id) AS first_doc FROM fps GROUP BY fp
            ),
            perdoc AS (
                SELECT fps.doc_id,
                       count(*)::BIGINT AS n_grams,
                       SUM(CASE WHEN first.first_doc = fps.doc_id
                                THEN 1 ELSE 0 END)::BIGINT AS n_novel
                FROM fps JOIN first ON fps.fp = first.fp
                GROUP BY fps.doc_id
            )
            SELECT doc_id, n_grams, n_novel,
                   round(n_novel * 1.0 / n_grams, 4) AS novelty_frac
            FROM perdoc ORDER BY doc_id
        """,
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       len(string_split(trim(text), ' '))::BIGINT AS n_tokens,
                       ((('0x' || substr(md5('pack:' || doc_id::VARCHAR),
                                         1, 15))::UBIGINT)::BIGINT
                        % 4) AS shard
                FROM documents WHERE text IS NOT NULL
            ),
            c AS (
                SELECT doc_id, shard, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)::BIGINT AS tok_offset
                FROM t
            )
            SELECT doc_id, shard, n_tokens, tok_offset,
                   tok_offset // 256 AS seq_first,
                   (tok_offset + n_tokens - 1) // 256 AS seq_last,
                   tok_offset % 256 AS seq_offset
            FROM c ORDER BY doc_id
        """,
        # lm_perplexity's oracle nested as a CTE + the same NTILE over
        # (perplexity, doc_id) — bucket rule is the shared SQL standard
        "perplexity_buckets": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                       FROM documents),
            big AS (
                SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
                FROM t, unnest(generate_series(1, len(w) - 1)) AS s(i)
            ),
            uni AS (
                SELECT u AS w1, count(*)::BIGINT AS c1
                FROM t, unnest(w) AS s(u) GROUP BY 1
            ),
            v AS (SELECT count(*)::BIGINT AS vsz FROM uni),
            model AS (
                SELECT bgc.bg,
                       CAST(round(log2(bgc.c12 + 1) - log2(uni.c1 + v.vsz), 6)
                            AS DECIMAL(20,6)) AS lp
                FROM (SELECT bg, count(*)::BIGINT AS c12 FROM big GROUP BY 1) bgc
                JOIN uni ON uni.w1 = split_part(bgc.bg, ' ', 1)
                CROSS JOIN v
            ),
            scored AS (
                SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
                       round(pow(2.0, round(-CAST(sum(m.lp) AS DOUBLE)
                                            / count(*), 4)), 4) AS perplexity
                FROM big b JOIN model m USING (bg)
                GROUP BY 1
            ),
            ranked AS (
                SELECT s.doc_id, d.lang, s.n_bigrams, s.perplexity,
                       ntile(3) OVER (PARTITION BY d.lang
                                      ORDER BY s.perplexity, s.doc_id)
                           ::BIGINT AS ppl_bucket
                FROM scored s JOIN documents d USING (doc_id)
            )
            SELECT doc_id, lang, n_bigrams, perplexity, ppl_bucket,
                   CASE ppl_bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS ppl_tier
            FROM ranked ORDER BY doc_id
        """,
        "lm_perplexity": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                       FROM documents),
            big AS (
                SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
                FROM t, unnest(generate_series(1, len(w) - 1)) AS s(i)
            ),
            uni AS (
                SELECT u AS w1, count(*)::BIGINT AS c1
                FROM t, unnest(w) AS s(u) GROUP BY 1
            ),
            v AS (SELECT count(*)::BIGINT AS vsz FROM uni),
            model AS (
                SELECT bgc.bg,
                       CAST(round(log2(bgc.c12 + 1) - log2(uni.c1 + v.vsz), 6)
                            AS DECIMAL(20,6)) AS lp
                FROM (SELECT bg, count(*)::BIGINT AS c12 FROM big GROUP BY 1) bgc
                JOIN uni ON uni.w1 = split_part(bgc.bg, ' ', 1)
                CROSS JOIN v
            ),
            scored AS (
                SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
                       sum(m.lp) AS slp
                FROM big b JOIN model m USING (bg)
                GROUP BY 1
            )
            SELECT doc_id, n_bigrams,
                   round(-CAST(slp AS DOUBLE) / n_bigrams, 4) AS cross_entropy,
                   round(pow(2.0, round(-CAST(slp AS DOUBLE) / n_bigrams, 4)),
                         4) AS perplexity
            FROM scored
        """,
        "quality_score": f"""
            WITH t AS (
                SELECT doc_id, text,
                       length(text) * 1.0 AS n,
                       string_split(trim(text), ' ') AS w
                FROM documents
            )
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(w) AS n_tokens,
                   round((n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n, 4)
                       AS digit_ratio,
                   round((n - length(regexp_replace(text, ' ', '', 'g'))) / n, 4)
                       AS space_ratio,
                   round(len(list_intersect(list_distinct(w), [{stop_list}])) * 1.0
                         / len(list_distinct(w)), 4) AS stopword_ratio,
                   (length(text) >= 50
                    AND (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n < 0.3
                    AND len(w) >= 10) AS passes_quality
            FROM t
        """,
        "language_id": f"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(string_split(lower(trim(text)), ' ')) AS w
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       len(list_intersect(w, [{en}])) AS hits_en,
                       len(list_intersect(w, [{de}])) AS hits_de,
                       len(list_intersect(w, [{fr}])) AS hits_fr
                FROM t
            )
            SELECT doc_id,
                   CASE WHEN greatest(hits_en, hits_de, hits_fr) = 0 THEN 'und'
                        WHEN hits_en = greatest(hits_en, hits_de, hits_fr) THEN 'en'
                        WHEN hits_de = greatest(hits_en, hits_de, hits_fr) THEN 'de'
                        ELSE 'fr' END AS lang_pred,
                   hits_en, hits_de, hits_fr
            FROM h
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   (('0x' || substr(md5(text), 1, 15))::UBIGINT)::BIGINT AS fingerprint
            FROM documents
        """,
        "embedding_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
            ),
            s AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]), 4)
                           AS cosine
                FROM q, embeddings e
                WHERE e.vec_id != q.query_id
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
                ) AS rn
                FROM s
            )
            SELECT query_id, neighbor_id, cosine FROM r WHERE rn <= 5
        """,
        # both ANN oracles are brute force over the derived clustered
        # corpus: ann_topk's candidate recall is 1.0 there (deterministic
        # hyperplanes, asserted in tests); ivf_topk is exact BY
        # CONSTRUCTION (certified ball-tree bound)
        "ann_topk": _ann_brute_oracle("0, 1, 2, 3, 4"),
        "ivf_topk": _ann_brute_oracle("5, 6, 7, 8, 9"),
        "embedding_near_dups": """
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_cosine_similarity(
                       x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) AS cosine
            FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
            WHERE round(list_cosine_similarity(
                      x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) >= 0.45
        """,
        "semantic_dedup": """
            WITH RECURSIVE edges AS (
                SELECT x.vec_id AS a, y.vec_id AS b
                FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
                WHERE round(list_cosine_similarity(
                          x.embedding::DOUBLE[], y.embedding::DOUBLE[]),
                          4) >= 0.45
            ),
            bidir AS (
                SELECT a AS u, b AS v FROM edges
                UNION SELECT b AS u, a AS v FROM edges
            ),
            reach(u, v) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT r.u, d.v FROM reach r JOIN bidir d ON r.v = d.u
            ),
            clusters AS (
                SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u
            )
            SELECT vec_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
                   vec_id = cluster_id AS keep
            FROM clusters
        """,
        "media_stats": """
            WITH n AS (
                SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
            ),
            c AS (
                SELECT doc_id, ch, count(*) AS cnt
                FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                      FROM documents)
                GROUP BY doc_id, ch
            ),
            e AS (
                SELECT c.doc_id,
                       -sum((cnt * 1.0 / n.n_bytes) * log2(cnt * 1.0 / n.n_bytes))
                           AS ent
                FROM c JOIN n ON c.doc_id = n.doc_id
                GROUP BY c.doc_id
            )
            SELECT n.doc_id, n.n_bytes,
                   round(coalesce(e.ent, 0.0), 4) AS entropy
            FROM n LEFT JOIN e ON n.doc_id = e.doc_id
        """,
        "media_decode": """
            -- planted-value recomputation: the Spark side decodes real
            -- bytes; the oracle knows the answers by construction
            -- (synth_media_blob is a pure function of doc_id).
            -- n_frames is a multiple of 16 at sr=8000, so duration
            -- terminates within 3 decimals (no round-half ambiguity).
            -- PNG (doc_id % 4 = 3): pixel j = (doc_id + j) % 251; the
            -- mean is the exact integer sum / n division (bit-identical
            -- double on both engines; NOT rounded — see q_media_decode).
            -- GIF (doc_id % 8 = 6): grayscale palette, index j =
            -- (doc_id + j) % 253 -> the channel mean equals the index
            -- mean, again one exact integer-sum division.
            WITH base AS (
                SELECT doc_id,
                       (doc_id % 8 = 6) AS is_gif,
                       (doc_id % 4 = 3) AS is_png,
                       4 + doc_id % 21 AS pw,
                       2 + doc_id % 13 AS ph,
                       (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                                        ELSE 4 END)::BIGINT AS pch,
                       3 + doc_id % 19 AS gw,
                       2 + doc_id % 7 AS gh
                FROM documents
            ),
            png AS (
                SELECT b.doc_id,
                       sum((b.doc_id + t.j) % 251)::DOUBLE
                           / (b.pw * b.ph * b.pch) AS png_mean
                FROM base b,
                     unnest(generate_series(0, b.pw * b.ph * b.pch - 1))
                         AS t(j)
                WHERE b.is_png
                GROUP BY b.doc_id, b.pw, b.ph, b.pch
            ),
            gif AS (
                SELECT b.doc_id,
                       sum((b.doc_id + t.j) % 253)::DOUBLE
                           / (b.gw * b.gh) AS gif_mean
                FROM base b,
                     unnest(generate_series(0, b.gw * b.gh - 1)) AS t(j)
                WHERE b.is_gif
                GROUP BY b.doc_id, b.gw, b.gh
            )
            SELECT b.doc_id,
                   CASE WHEN b.is_gif THEN 'image/gif'
                        WHEN b.is_png THEN 'image/png'
                        ELSE CASE b.doc_id % 3 WHEN 0 THEN 'image/bmp'
                                               WHEN 1 THEN 'audio/wav'
                                               ELSE 'image/ppm' END
                   END AS media_type,
                   CASE WHEN b.is_gif THEN b.gw
                        WHEN b.is_png THEN b.pw
                        ELSE CASE b.doc_id % 3 WHEN 0 THEN 4 + b.doc_id % 29
                                               WHEN 1 THEN 0
                                               ELSE 5 + b.doc_id % 23 END
                   END AS width,
                   CASE WHEN b.is_gif THEN b.gh
                        WHEN b.is_png THEN b.ph
                        ELSE CASE b.doc_id % 3 WHEN 0 THEN 3 + b.doc_id % 17
                                               WHEN 1 THEN 0
                                               ELSE 2 + b.doc_id % 11 END
                   END AS height,
                   CASE WHEN b.is_gif THEN 3::BIGINT
                        WHEN b.is_png THEN b.pch
                        ELSE (CASE b.doc_id % 3 WHEN 1 THEN 1 + b.doc_id % 2
                                                ELSE 3 END)::BIGINT
                   END AS n_channels,
                   (CASE WHEN NOT b.is_gif AND NOT b.is_png
                              AND b.doc_id % 3 = 1 THEN 8000
                         ELSE 0 END)::BIGINT AS sample_rate,
                   CASE WHEN NOT b.is_gif AND NOT b.is_png
                             AND b.doc_id % 3 = 1
                        THEN round((400 + (b.doc_id % 37) * 16) / 8000.0, 4)
                        ELSE 0.0 END AS duration_s,
                   CASE WHEN b.is_gif THEN g.gif_mean
                        WHEN b.is_png THEN p.png_mean
                        ELSE CASE b.doc_id % 3
                                  WHEN 0 THEN (b.doc_id % 251)::DOUBLE
                                  WHEN 1 THEN (b.doc_id % 1000 - 500)::DOUBLE
                                  ELSE (b.doc_id % 256)::DOUBLE END
                   END AS mean_value
            FROM base b LEFT JOIN png p ON p.doc_id = b.doc_id
                        LEFT JOIN gif g ON g.doc_id = b.doc_id
            ORDER BY b.doc_id
        """,
        "container_meta": """
            -- planted-value recomputation (same pattern as media_decode):
            -- the Spark side walks real MP4 box trees / MP3 frame chains;
            -- the oracle knows every field by construction
            -- (synth_container_blob is a pure function of doc_id).
            -- All columns are integers -> exact cross-engine compare.
            -- MP4 (even ids): mvhd duration = ts*(1+id%29)+id%97, so
            -- duration_ms = dur*1000 // ts; bit_rate = mdat_bytes*8*ts
            -- // dur; traks alternate vide/soun starting at vide (id
            -- even) -> n_video = ceil(n/2). MP3 (odd ids): CBR at
            -- kbps[5+id%9], duration_ms = frames*1152*1000 // sr.
            WITH base AS (
                SELECT doc_id,
                       doc_id % 2 = 0 AS is_mp4,
                       (CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                             WHEN 2 THEN 90000 ELSE 44100 END)::BIGINT AS ts,
                       (1 + doc_id % 3)::BIGINT AS n_tracks,
                       (32 + doc_id % 211)::BIGINT AS mdat_n,
                       (CASE 5 + doc_id % 9
                             WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96
                             WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160
                             WHEN 11 THEN 192 WHEN 12 THEN 224
                             ELSE 256 END)::BIGINT AS kbps,
                       (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                             ELSE 32000 END)::BIGINT AS sr,
                       (4 + doc_id % 23)::BIGINT AS n_frames
                FROM documents
            ),
            calc AS (
                SELECT *, ts * (1 + doc_id % 29) + doc_id % 97 AS dur
                FROM base
            )
            SELECT doc_id,
                   CASE WHEN is_mp4 THEN 'video/mp4'
                        ELSE 'audio/mpeg' END AS container,
                   CASE WHEN is_mp4 THEN (dur * 1000) // ts
                        ELSE (n_frames * 1152 * 1000) // sr
                   END AS duration_ms,
                   CASE WHEN is_mp4 THEN ts ELSE sr END AS time_base,
                   CASE WHEN is_mp4 THEN n_tracks ELSE 1 END AS n_streams,
                   CASE WHEN is_mp4 THEN (n_tracks + 1) // 2
                        ELSE 0 END AS n_video,
                   CASE WHEN is_mp4 THEN n_tracks // 2
                        ELSE 1 END AS n_audio,
                   CASE WHEN is_mp4 THEN (mdat_n * 8 * ts) // dur
                        ELSE kbps * 1000 END AS bit_rate
            FROM calc ORDER BY doc_id
        """,
        "span_exact_pairs": f"""
            WITH g AS (
                SELECT DISTINCT doc_id,
                       substr(text, i, {SPAN_EXACT_K}) AS gram
                FROM documents,
                     unnest(generate_series(1, length(text) - {SPAN_EXACT_K} + 1)) AS t(i)
                WHERE length(text) >= 100
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   count(DISTINCT x.gram) AS shared_fps
            FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        """,
        "minhash_lsh_candidates": _sql_oracles().minhash_lsh_sql(_dedup_cfg()),
        "simhash_pairs": _sql_oracles().simhash_pairs_sql(_dedup_cfg()),
        "candidate_tiers": _sql_oracles().tier_attribution_sql(_dedup_cfg()),
        "winnow_span_pairs": _sql_oracles().winnow_span_sql(_dedup_cfg()),
        "span_extents": _sql_oracles().span_extents_sql(_dedup_cfg()),
        "sw_verified_pairs": _sql_oracles().sw_verified_pairs_sql(_dedup_cfg()),
        "dedup_clusters": _sql_oracles().dedup_clusters_sql(_dedup_cfg()),
        "fuzzy_match": _sql_oracles().fuzzy_match_sql(FUZZY_NEEDLE, limit=100),
        # per-needle oracles composed by UNION ALL: each subquery is the
        # single-needle wavefront oracle scoped to its own CTE namespace
        "fuzzy_join": " UNION ALL ".join(
            f"SELECT CAST({nid} AS BIGINT) AS needle_id, doc_id, score, "
            f"typos, exact FROM ({_sql_oracles().fuzzy_match_sql(ns, limit=50)})"
            for nid, ns in FUZZY_JOIN_NEEDLES
        ),
        "greedy_match": f"""
            {_GREEDY_CTE}
            SELECT doc_id,
                   CASE WHEN failed THEN 0 ELSE score END AS score,
                   0 AS typos,
                   false AS exact
            FROM gm WHERE k = 16
            ORDER BY score DESC, doc_id ASC
            LIMIT 100
        """,
    }
    # slice rollup wraps the corpus_filter oracle as a nested CTE so the
    # gate semantics can never drift between the two oracles
    d["curation_rollup"] = f"""
        WITH filt AS ({d["corpus_filter"]}),
        dup AS (
            SELECT doc_id,
                   count(*) OVER (PARTITION BY md5(text)) > 1 AS isdup,
                   source, lang
            FROM documents
        )
        SELECT dup.source, dup.lang,
               count(*) AS n_docs,
               sum(CASE WHEN dup.isdup THEN 1 ELSE 0 END)::BIGINT
                   AS n_exact_dup_docs,
               sum(CASE WHEN f.keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               sum(CASE WHEN f.reason = 'too_short' THEN 1 ELSE 0 END)::BIGINT
                   AS n_too_short,
               sum(CASE WHEN f.reason = 'repetitive_grams' THEN 1 ELSE 0 END)::BIGINT
                   AS n_repetitive_grams,
               sum(CASE WHEN f.reason = 'repetitive_unigram' THEN 1 ELSE 0 END)::BIGINT
                   AS n_repetitive_unigram,
               sum(CASE WHEN f.reason = 'no_lang_signal' THEN 1 ELSE 0 END)::BIGINT
                   AS n_no_lang_signal,
               sum(f.n_chars)::BIGINT AS sum_chars,
               sum(f.n_tokens)::BIGINT AS sum_tokens
        FROM dup JOIN filt f USING (doc_id)
        GROUP BY 1, 2
    """
    return d
