"""Web-corpus normalization operators — URL canonicalization/dedup and
PII scrubbing, all Catalyst.

The first pass any Common-Crawl-style pipeline runs is URL-level: the
same page is crawled under scheme/case/port/tracking-param/fragment
variants, and collapsing those is orders of magnitude cheaper than
content dedup (no text is read — echoing the reference's "cheapest
filter first" prefilter discipline, reference src/prefilter/mod.rs:1-12,
promoted to the URL column). PII scrubbing is the standard pre-training
redaction pass (emails / phone numbers / IPv4 literals masked with typed
placeholders).

Every expression here compiles to built-in Spark SQL (JVM-side,
whole-stage codegen, zero Python), restricted to the regex subset Java
(Spark) and RE2 (DuckDB) interpret identically — same discipline as
``BPE_PRETOKEN_RE`` in textstats.py — so each operator has an exact
ANSI-SQL oracle in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# RFC-3986-ish splitter: scheme :// authority path [?query] [#fragment].
# Group numbers are shared with the DuckDB oracles verbatim.
URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"

# tracking params dropped during canonicalization (anchored key match)
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="


def canonicalize_url(df: DataFrame, url_col: str = "url",
                     out_col: str = "canonical_url") -> DataFrame:
    """Append ``out_col``: the canonical form of ``url_col``.

    Rules (the common subset of the Google/Safe-Browsing and CC-index
    canonicalizations — deterministic, order-insensitive):
      1. scheme and host lowercased;
      2. default port stripped (``:80`` for http, ``:443`` for https);
      3. fragment dropped;
      4. trailing slashes stripped from the path; empty path -> ``/``;
      5. tracking params (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``,
         ``ref``, ``mc_cid``, ``mc_eid``) removed, remaining params
         sorted lexicographically; empty query dropped.

    Non-URL strings (no ``scheme://``) pass through unchanged — the
    operator never destroys a key.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, URL_RE, 1))
    auth = F.lower(F.regexp_extract(u, URL_RE, 2))
    host = F.when(scheme == "http", F.regexp_replace(auth, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(auth, ":443$", "")) \
        .otherwise(auth)
    raw_path = F.regexp_extract(u, URL_RE, 3)
    path = F.when(F.regexp_replace(raw_path, "/+$", "") == "", F.lit("/")) \
        .otherwise(F.regexp_replace(raw_path, "/+$", ""))
    # query group includes the leading '?': strip it, split, drop
    # tracking keys and empty fragments, sort, rejoin
    qparams = F.array_sort(F.filter(
        F.split(F.regexp_replace(F.regexp_extract(u, URL_RE, 4), r"^\?", ""), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    ))
    query = F.when(F.size(qparams) > 0,
                   F.concat(F.lit("?"), F.array_join(qparams, "&"))) \
        .otherwise(F.lit(""))
    canon = F.when(scheme == "", u) \
        .otherwise(F.concat(scheme, F.lit("://"), host, path, query))
    return df.withColumn(out_col, canon)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str | None = None) -> DataFrame:
    """Collapse URL variants: one row per canonical URL with the variant
    count, distinct-raw-url count, and a deterministic representative
    (lexicographic min raw URL; min id when ``id_col`` is given).

    Plan shape: canonicalization is a per-row projection fused into the
    scan. The countDistinct makes Catalyst plan a two-phase aggregate
    (verified with .explain): exchange 1 is keyed on
    (canonical_url, url) AFTER a map-side partial aggregate — repeat
    crawls of the same raw URL (the hot case at 10^12 rows) collapse to
    counters before anything ships — and exchange 2 rolls the
    already-distinct (canonical, url) rows up to one row per canonical
    URL. Raw crawl rows never cross the wire, so no salting is needed:
    the combiner IS the skew handling.

    Output: (canonical_url, n_variants, n_distinct_urls, rep_url
    [, rep_id]).
    """
    work = canonicalize_url(df, url_col)
    aggs = [
        F.count("*").alias("n_variants"),
        F.countDistinct(F.col(url_col)).alias("n_distinct_urls"),
        F.min(F.col(url_col)).alias("rep_url"),
    ]
    if id_col is not None:
        aggs.append(F.min(F.col(id_col)).alias("rep_id"))
    return work.groupBy("canonical_url").agg(*aggs)


def host_of(url_col: str = "url"):
    """Expression: lowercase host of a URL, port stripped; '' when the
    string has no ``scheme://`` authority. Label-level only (no public-
    suffix list in-container, so eTLD+1 grouping is out of scope —
    grouping by full host is the conservative choice: it only ever
    OVER-splits domains, never merges two)."""
    return F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), URL_RE, 2)), ":[0-9]+$", "")


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host corpus profile: row count and distinct-URL count — the
    table a curation pipeline reads to find over-represented hosts
    before capping them. Rows without a parseable host group under ''.

    One map-side-combined aggregate; hot hosts collapse to counters
    before the shuffle. Output: (host, n_docs, n_urls).
    """
    return (
        df.select(host_of(url_col).alias("host"), F.col(url_col).alias("_u"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("_u").alias("n_urls"))
    )


def domain_cap(df: DataFrame, cap: int, url_col: str = "url",
               id_col: str = "doc_id") -> DataFrame:
    """Cap each host at ``cap`` docs (C4/Gopher-style anti-domination:
    no single domain may flood the training mix). Deterministic and
    position-free: within a host, docs rank by ``md5(url)`` (id
    tie-break), so the kept set is a stable pseudo-random sample —
    append-stable under corpus growth for the docs that stay in rank,
    unlike first-N-by-crawl-order.

    Rows without a parseable host are NOT a domain and pass through
    uncapped: they get a per-row salted partition key, so the billion
    url-less rows a dirty crawl carries never pile into one window
    partition. Scale: Spark plans row_number<=k as WindowGroupLimit
    (asserted in tests) — every map task pre-truncates to ``cap`` rows
    per host BEFORE the exchange, so a 10^9-doc hot domain ships ``cap``
    rows per task, not 10^9, and the reduce-side sort is bounded.

    Output: the input row's id plus (host, domain_rank), only rows that
    survive the cap.
    """
    if cap < 1:
        raise ValueError(f"domain_cap needs cap >= 1, got {cap}")
    host = host_of(url_col)
    part = F.when(
        host == "", F.concat(F.lit("\x00nohost\x00"),
                             F.col(id_col).cast("string"))
    ).otherwise(host)
    w = Window.partitionBy(part).orderBy(F.md5(F.col(url_col)), F.col(id_col))
    return (
        df.select(F.col(id_col), F.col(url_col), host.alias("host"))
        .withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= cap)
        .drop(url_col)
    )


# HTML extraction patterns — RE2/Java-identical subset: inline (?is)
# flags and non-greedy .*? are interpreted identically by Java
# (Spark regexp_replace) and RE2 (DuckDB with the 'g' option); no
# lookaround, no backreferences. Whitespace is the explicit class both
# engines share (Java's \s additionally matches \x0B, RE2's does not).
HTML_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"<[^>]*>"
HTML_WS_RE = "[ \t\n\r\f]+"

# the named/numeric entities a WET-style extractor decodes; &amp; MUST
# be last so double-escaped text ('&amp;lt;' meaning the literal string
# '&lt;') decodes one level only — exactly like html.unescape applied
# once
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_visible_text(h):
    """The html->visible-text Column expression behind
    :func:`html_extract` — exposed so the pipeline's opt-in WET
    extractor applies the IDENTICAL chain (the oracle checks the
    operator; the pipeline must not drift from it)."""
    t = F.regexp_replace(h, HTML_SCRIPT_RE, " ")
    t = F.regexp_replace(t, HTML_STYLE_RE, " ")
    t = F.regexp_replace(t, HTML_COMMENT_RE, " ")
    t = F.regexp_replace(t, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, HTML_WS_RE, " "))


def html_extract(df: DataFrame, id_col: str = "doc_id",
                 html_col: str = "html") -> DataFrame:
    """HTML -> visible text extraction — the WARC->WET stage every
    web-corpus pipeline runs before any content operator sees a byte
    (Common Crawl ships WET files produced by exactly this class of
    pass). Deterministic spec, applied in order:

      1. ``<script ...>...</script>`` and ``<style ...>...</style>``
         blocks replaced whole with ONE space (case-insensitive, spans
         newlines, non-greedy so adjacent blocks don't merge);
      2. ``<!-- ... -->`` comments replaced with one space;
      3. every remaining tag replaced with ONE space (block boundaries
         must separate words: ``</p><p>`` between sentences cannot glue
         them);
      4. common entities decoded (&lt; &gt; &quot; &#39; &apos; &nbsp;
         then &amp; last — one unescape level, so entities that were
         themselves escaped stay literal text, and a decoded ``&lt;b&gt;``
         stays visible text rather than becoming a strippable tag,
         because tag stripping already happened);
      5. whitespace runs collapsed to one space, ends trimmed.

    Non-HTML input (no tags, no entities) passes through modulo the
    whitespace collapse, so the operator is safe to run unconditionally
    on a mixed crawl column.

    Output: (id, extracted_text, n_tags, text_ratio) — n_tags counts
    ``<...>`` groups in the RAW input (markup density, the classic
    boilerplate signal) and text_ratio is extracted/raw char length
    rounded to 4 places: the two columns a quality gate thresholds on to
    drop nav-chrome-only pages before dedup.

    Zero shuffle: a per-row projection fused into the scan — at 100 TB
    this runs at parquet-read speed, same plan shape as
    :func:`pii_scrub`. Every step is built-in Spark SQL (JVM-side,
    whole-stage codegen, zero Python) restricted to the RE2/Java-common
    regex subset, so the operator has an exact DuckDB oracle.
    """
    h = F.col(html_col)
    n_tags = F.size(
        F.regexp_extract_all(h, F.lit(HTML_TAG_RE), F.lit(0))
    ).cast("long")
    t = html_visible_text(h)
    return df.select(
        F.col(id_col),
        t.alias("extracted_text"),
        n_tags.alias("n_tags"),
        F.round(F.length(t) / F.greatest(F.length(h), F.lit(1)), 4)
            .alias("text_ratio"),
    )


# PII patterns — RE2/Java-identical subset: no lookaround, no
# backreferences; \b is the ASCII word boundary both engines share.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Detect and mask PII literals: emails -> ``<EMAIL>``, IPv4
    addresses -> ``<IP>``, phone-number-shaped digit runs -> ``<PHONE>``.

    Masking order is email, then IPv4, then phone: emails and IPs both
    contain digit runs long enough to satisfy the looser phone pattern,
    so each class is counted AND masked on the text with all
    higher-precedence classes already replaced — every literal is
    attributed to exactly one class (an 11-digit email local part is an
    email, not also a phone).

    Zero shuffle: pure per-row projection, fused into the scan; at
    100 TB this runs at parquet-read speed alongside the quality gates.
    Output: (id, n_emails, n_ipv4, n_phones, clean_text).
    """
    t = F.col(text_col)
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phones.cast("long").alias("n_phones"),
        clean.alias("clean_text"),
    )


def normalize_unicode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC by default) — the standard
    pre-tokenization cleanup every web-text pipeline runs: a crawl mixes
    precomposed and combining-sequence spellings of the same grapheme
    (``e`` + U+0301 vs ``é``, U+212B ANGSTROM SIGN vs ``Å``), which
    otherwise defeats exact-hash dedup, shingle matching, and token
    statistics for byte-different-but-canonically-equal text. Run it
    BEFORE signatures/dedup so canonical equivalence becomes byte
    equality.

    Spark has no built-in normalizer, and pyarrow's ``utf8_normalize``
    is NOT usable: in the pinned pyarrow (16.1.0) every form parameter
    returns canonical DEcomposition — ``NFC`` never composes (verified
    codepoint-level; pinned by the composition regression test). The
    kernel is therefore a two-tier batch pass inside a scalar
    pandas_udf: a vectorized Arrow ``string_is_ascii`` sieve first
    (ASCII is NFC-invariant and dominates web text, so the common case
    costs one C++ scan), then CPython's ``unicodedata.normalize`` —
    the reference-grade UAX#15 implementation, one C call per
    SURVIVING string — on the non-ASCII minority. Work is proportional
    to non-ASCII content, the same accepted cost shape as
    ``decode_media``'s per-blob dispatch. Zero shuffle — a per-row
    projection fused into the scan, same plan as :func:`pii_scrub`.

    Output: (id, norm_text, changed). ``changed`` marks rows the pass
    actually rewrote — the crawl-ops metric (a spike in ``changed``
    fraction usually means an encoding regression upstream). Exact
    oracle: DuckDB ``nfc_normalize`` (NFC only — the other forms are
    pytest-covered).
    """
    _norm = unicode_norm_udf(form)
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        _norm(t).alias("norm_text"),
        (_norm(t) != t).alias("changed"),
    )


def unicode_norm_udf(form: str = "NFC"):
    """The normalization kernel as a reusable column function (shared by
    :func:`normalize_unicode` and the pipeline's opt-in ``unicode_nfc``
    gate — one kernel, so the standalone operator and the pipeline stage
    cannot drift). See :func:`normalize_unicode` for the design notes
    (ASCII sieve + unicodedata, pyarrow breakage pin)."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and the pandas_udf inferrer can't resolve the strings
    @pandas_udf("string", PandasUDFType.SCALAR)
    def _norm(s):
        import unicodedata

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        # type=string(): an all-null batch otherwise infers the null
        # type, for which string_is_ascii has no kernel
        arr = pa.Array.from_pandas(s, type=pa.string())
        # nulls pass through untouched (fill_null(True) keeps them out
        # of the normalize set)
        non_ascii = pc.invert(
            pc.fill_null(pc.string_is_ascii(arr), True)
        ).to_numpy(zero_copy_only=False).astype(bool)
        vals = s.to_numpy(dtype=object, copy=True)
        for i in np.nonzero(non_ascii)[0]:
            vals[i] = unicodedata.normalize(form, vals[i])
        return pd.Series(vals)

    return _norm


# anchor-tag href extractor — (?i) inline flag and the [^>"]-free body are
# in the Java/RE2-common subset; group 1 is the quoted href value. Shared
# verbatim with the DuckDB oracle.
ANCHOR_HREF_RE = r'(?i)<a\s[^>]*href\s*=\s*"([^"]*)"'


def extract_links(df: DataFrame, id_col: str = "doc_id",
                  html_col: str = "html") -> DataFrame:
    """Outlink extraction — the other half of the WARC stage next to
    :func:`html_extract`: every crawl pipeline that ranks hosts (URL
    frontier priority, spam/host-quality priors like Common Crawl's
    harmonic-centrality lists) starts from the anchor ``href`` values of
    each page.

    Emits one row per ``<a href="...">`` occurrence, in document order:
    (id, link_n 1-based, href verbatim, host) — ``host`` is the
    lowercased, port-stripped authority when the href is absolute
    (same :func:`host_of` expression the domain operators use) and ``''``
    for relative/other hrefs (no base-URL resolution: the crawler knows
    the base; a corpus-side operator must not guess — documented, and
    '' rows are what a host-graph builder drops).

    Zero shuffle: regexp_extract_all + posexplode is a per-row generator
    fused into the scan; at 100 TB this runs at parquet-read speed and
    the output is (id, small strings) — the html column never moves.
    Built-in Spark SQL only (Java/RE2-common regex), so the operator has
    an exact DuckDB oracle (parallel-unnest zip of the same
    regexp_extract_all).
    """
    links = F.regexp_extract_all(
        F.col(html_col), F.lit(ANCHOR_HREF_RE), F.lit(1))
    exploded = df.select(
        F.col(id_col), F.posexplode(links).alias("_pos", "href"))
    return exploded.select(
        id_col,
        (F.col("_pos") + 1).cast("long").alias("link_n"),
        "href",
        F.regexp_replace(
            F.lower(F.regexp_extract(F.col("href"), URL_RE, 2)),
            ":[0-9]+$", "").alias("host"),
    )


def host_graph(links: DataFrame, src_host_col: str = "src_host",
               link_host_col: str = "host") -> DataFrame:
    """Collapse per-page outlinks into the distinct host→host edge list
    PageRank consumes: rows with an empty/unparseable link host are
    dropped (relative links — intra-host by definition), self-loops are
    dropped (standard for centrality), and (src, dst) is deduplicated
    (host-level PageRank weights each host pair once, not per anchor).
    One map-side-combined distinct on small string pairs.
    """
    return (
        links.select(
            F.col(src_host_col).alias("src"),
            F.col(link_host_col).alias("dst"),
        )
        .filter((F.col("dst") != "") & (F.col("src") != F.col("dst")))
        .distinct()
    )


def host_suffixes(host_col: str = "host"):
    """Expression: every dot-suffix of a host as an array —
    'a.b.example.com' -> ['a.b.example.com', 'b.example.com',
    'example.com', 'com']. The expansion is what turns blocklist
    suffix-matching into an EQUI-join (see :func:`url_blocklist`):
    bounded by label count (~4-6 for real hosts), never by corpus or
    list size."""
    parts = f"split({host_col}, '[.]')"
    return F.expr(
        f"transform(sequence(1, size({parts})), "
        f"i -> array_join(slice({parts}, i, size({parts}) - i + 1), '.'))"
    )


def url_blocklist(
    df: DataFrame,
    blocked_domains,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-blocklist gate (UT1/adult-list style, the URL filtering
    pass CCNet/FineWeb-class pipelines run before any content work): a
    doc is blocked when its host — or ANY parent domain of it — appears
    in the blocklist, so blocking 'badnet.org' also blocks
    'cdn.eu.badnet.org'.

    Returns the rows to DROP: (doc_id, host, matched_domain) with
    matched_domain the LONGEST (most specific) matching suffix. Callers
    anti-join on doc_id (same contract shape as ``domain_cap``: the
    decision table is the output).

    Scale: suffix matching is deliberately NOT a LIKE/endswith theta
    join (quadratic: corpus x list). Each host explodes into its <= ~6
    dot-suffixes and EQUI-joins the blocklist, broadcast when it fits
    ``autoBroadcastJoinThreshold`` and shuffled on the domain key when it
    does not (a 4M-domain UT1 list is ~100 MB serialized). A DataFrame
    blocklist's strategy is left to the planner's statistics. Only
    matched rows reach the per-doc aggregate; unparseable hosts never
    enter the join.

    ``blocked_domains``: a Python list/tuple of domains, or a DataFrame
    with a 'domain' column; either must be non-empty. Entries are
    lowered and stripped of leading/trailing dots ('BadNet.org.' blocks
    'badnet.org'); hosts are already lowercased by ``host_of``.
    """
    spark = df.sparkSession
    if isinstance(blocked_domains, DataFrame):
        # same normalization as the list branch: lowered, outer dots off
        bl = blocked_domains.select(F.regexp_replace(
            F.lower(F.col("domain")), r"^\.+|\.+$", "").alias("domain")
        ).filter(F.col("domain").isNotNull()).distinct()
        if bl.isEmpty():
            raise ValueError("url_blocklist needs a non-empty blocklist")
    else:
        doms = sorted({str(d).lower().strip(".") for d in blocked_domains})
        if not doms:
            raise ValueError("url_blocklist needs a non-empty blocklist")
        bl = spark.createDataFrame([(d,) for d in doms], "domain string")
        # a Python-list blocklist has no plan statistics: broadcast it while
        # it fits the session threshold, else keep the shuffle join
        limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if sum(map(len, doms)) <= limit:
            bl = F.broadcast(bl)
    hosts = (
        df.select(F.col(id_col).alias("doc_id"),
                  host_of(url_col).alias("host"))
        .filter(F.col("host") != "")
    )
    sfx = hosts.select(
        "doc_id", "host", F.explode(host_suffixes("host")).alias("sfx"))
    return (
        sfx.join(bl, sfx["sfx"] == bl["domain"])
        .groupBy("doc_id")
        .agg(F.max("host").alias("host"),  # constant within a doc
             F.max_by("sfx", F.length("sfx")).alias("matched_domain"))
    )
