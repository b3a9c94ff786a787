"""webnorm operators: URL canonicalization/dedup and PII scrubbing."""

import pytest

from frizbee_spark.operators.webnorm import (
    canonicalize_url,
    pii_scrub,
    url_dedup,
)


@pytest.mark.spark
class TestCanonicalizeUrl:
    def test_rules(self, spark):
        rows = [
            (1, "https://www.Example.COM/a/1"),          # host case
            (2, "https://www.example.com:443/a/1/"),      # default port + slash
            (3, "HTTPS://www.example.com/a/1?utm_source=f&fbclid=z"),  # tracking
            (4, "https://www.example.com/a/1?b=2&a=1"),   # param order
            (5, "https://www.example.com/a/1?a=1&b=2&utm_campaign=x#frag"),
            (6, "http://Example.com:80"),                 # empty path -> /
            (7, "http://example.com:8080/x"),             # non-default port kept
            (8, "https://example.com:80/x"),              # :80 is NOT https default
            (9, "not a url"),                             # pass-through
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r["doc_id"]: r["canonical_url"] for r in canonicalize_url(df).collect()}
        assert got[1] == got[2] == got[3] == "https://www.example.com/a/1"
        assert got[4] == got[5] == "https://www.example.com/a/1?a=1&b=2"
        assert got[6] == "http://example.com/"
        assert got[7] == "http://example.com:8080/x"
        assert got[8] == "https://example.com:80/x"
        assert got[9] == "not a url"

    def test_url_dedup_groups(self, spark):
        rows = [
            (1, "https://A.com/p"),
            (2, "https://a.com/p/"),
            (3, "https://a.com/p?utm_source=x"),
            (4, "https://a.com/q"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r["canonical_url"]: r for r in url_dedup(df, id_col="doc_id").collect()}
        g = got["https://a.com/p"]
        assert g["n_variants"] == 3 and g["n_distinct_urls"] == 3
        assert g["rep_id"] == 1 and g["rep_url"] == "https://A.com/p"
        assert got["https://a.com/q"]["n_variants"] == 1

    def test_url_dedup_plan_shape(self, spark):
        # two-phase aggregate: exactly 2 exchanges, and a partial
        # aggregate below the first one so repeat crawls of the same raw
        # url collapse map-side before anything ships
        df = spark.createDataFrame([(1, "https://a.com/p")],
                                   "doc_id long, url string")
        plan = url_dedup(df, id_col="doc_id")._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") == 2
        assert "partial_count" in plan

    def test_url_dedup_exact_duplicate_urls(self, spark):
        # same raw url twice: n_variants counts rows, n_distinct_urls urls
        df = spark.createDataFrame(
            [(1, "https://a.com/p"), (2, "https://a.com/p")],
            "doc_id long, url string",
        )
        [g] = url_dedup(df, id_col="doc_id").collect()
        assert g["n_variants"] == 2 and g["n_distinct_urls"] == 1


@pytest.mark.spark
class TestDomainOps:
    def test_domain_stats(self, spark):
        from frizbee_spark.operators.webnorm import domain_stats

        rows = [
            (1, "https://A.com/x"),
            (2, "https://a.com:8080/y"),   # port stripped -> same host
            (3, "https://a.com/x"),        # repeat url path, distinct url
            (4, "https://b.com/z"),
            (5, "junk"),                   # no host -> ''
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r["host"]: r for r in domain_stats(df).collect()}
        assert got["a.com"]["n_docs"] == 3 and got["a.com"]["n_urls"] == 3
        assert got["b.com"]["n_docs"] == 1
        assert got[""]["n_docs"] == 1

    def test_domain_cap_determinism_and_passthrough(self, spark):
        from frizbee_spark.operators.webnorm import domain_cap

        rows = [(i, f"https://hot.com/p/{i}") for i in range(50)] + [
            (100, "https://cold.com/only"),
            (200, "nohost-a"), (201, "nohost-b"), (202, "nohost-c"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = domain_cap(df, cap=5).collect()
        by_host: dict = {}
        for r in got:
            by_host.setdefault(r["host"], []).append(r)
        assert len(by_host["hot.com"]) == 5
        assert sorted(r["domain_rank"] for r in by_host["hot.com"]) == [1, 2, 3, 4, 5]
        assert len(by_host["cold.com"]) == 1
        # url-less rows are not a domain: ALL pass through at rank 1
        assert len(by_host[""]) == 3
        assert {r["domain_rank"] for r in by_host[""]} == {1}
        # deterministic: same kept ids on re-run
        again = {r["doc_id"] for r in domain_cap(df, cap=5).collect()}
        assert again == {r["doc_id"] for r in got}

    def test_domain_cap_plan_uses_window_group_limit(self, spark):
        from frizbee_spark.operators.webnorm import domain_cap

        df = spark.createDataFrame([(1, "https://a.com/x")],
                                   "doc_id long, url string")
        plan = domain_cap(df, cap=3)._jdf.queryExecution() \
            .executedPlan().toString()
        # rank<=k must compile to WindowGroupLimit: map tasks pre-truncate
        # each host to k rows BEFORE the exchange (hot-domain skew guard)
        assert "WindowGroupLimit" in plan

    def test_domain_cap_validates_cap(self, spark):
        from frizbee_spark.operators.webnorm import domain_cap

        df = spark.createDataFrame([(1, "https://a.com/x")],
                                   "doc_id long, url string")
        with pytest.raises(ValueError, match="cap >= 1"):
            domain_cap(df, cap=0)


@pytest.mark.spark
class TestNormalizeUnicode:
    def test_nfc_composes_canonical_sequences(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        rows = [
            (1, "cafe\u0301"),        # e + combining acute -> precomposed
            (2, "\u212bngstr\u00f6m"),  # ANGSTROM SIGN singleton -> A-ring
            (3, "A\u030a"),           # A + combining ring -> A-ring
            (4, "plain ascii"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in normalize_unicode(df).collect()}
        assert got[1]["norm_text"] == "caf\u00e9" and got[1]["changed"]
        assert got[2]["norm_text"] == "\u00c5ngstr\u00f6m" and got[2]["changed"]
        assert got[3]["norm_text"] == "\u00c5" and got[3]["changed"]
        assert got[4]["norm_text"] == "plain ascii" and not got[4]["changed"]

    def test_already_nfc_unchanged(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        df = spark.createDataFrame(
            [(1, "caf\u00e9 \u00c5 na\u00efve")], "doc_id long, text string")
        [r] = normalize_unicode(df).collect()
        assert r["norm_text"] == "caf\u00e9 \u00c5 na\u00efve"
        assert not r["changed"]

    def test_other_forms(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        df = spark.createDataFrame(
            [(1, "\ufb01le \u2460")],  # LIGATURE FI + CIRCLED DIGIT ONE
            "doc_id long, text string")
        [nfkc] = normalize_unicode(df, form="NFKC").collect()
        assert nfkc["norm_text"] == "file 1"
        [nfd] = normalize_unicode(
            spark.createDataFrame([(1, "caf\u00e9")],
                                  "doc_id long, text string"),
            form="NFD").collect()
        assert nfd["norm_text"] == "cafe\u0301" and nfd["changed"]

    def test_null_text_passes_through(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        df = spark.createDataFrame([(1, None), (2, "x")],
                                   "doc_id long, text string")
        got = {r["doc_id"]: r for r in normalize_unicode(df).collect()}
        assert got[1]["norm_text"] is None
        assert got[2]["norm_text"] == "x"

    def test_validates_form(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="form"):
            normalize_unicode(df, form="NFX")

    def test_zero_shuffle_plan(self, spark):
        from frizbee_spark.operators.webnorm import normalize_unicode

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = normalize_unicode(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_pyarrow_utf8_normalize_still_broken(self):
        # regression pin for the docstring's claim: pyarrow 16.1.0's
        # utf8_normalize returns canonical DEcomposition for EVERY form
        # (NFC never composes), which is why the kernel uses
        # unicodedata.normalize instead. If an upgrade fixes this, the
        # assert flips and we should switch back to the C++ kernel.
        import pyarrow as pa
        import pyarrow.compute as pc

        out = pc.utf8_normalize(pa.array(["\u00e9"]), form="NFC")[0].as_py()
        assert out == "e\u0301", (
            "pyarrow utf8_normalize now composes NFC correctly -- "
            "switch normalize_unicode's kernel back to pyarrow"
        )


@pytest.mark.spark
class TestPiiScrub:
    def test_counts_and_masks(self, spark):
        rows = [
            (1, "mail me at a.b+c@foo.co or x@y.io today"),
            (2, "server 10.0.3.245 and 192.168.1.1 up"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "clean text no pii"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert got[1]["n_emails"] == 2
        assert got[1]["clean_text"] == "mail me at <EMAIL> or <EMAIL> today"
        assert got[2]["n_ipv4"] == 2
        assert got[2]["clean_text"] == "server <IP> and <IP> up"
        assert got[3]["n_phones"] == 1
        assert got[3]["clean_text"] == "call <PHONE> now"
        assert got[4]["clean_text"] == "clean text no pii"
        assert all(got[4][c] == 0 for c in ("n_emails", "n_ipv4", "n_phones"))

    def test_mixed_row_order_of_masking(self, spark):
        # email digits and IP digits must not be double-counted as phones
        df = spark.createDataFrame(
            [(1, "u12345678901@x.io at 10.20.30.40 call 555 123 4567 end")],
            "doc_id long, text string",
        )
        [r] = pii_scrub(df).collect()
        assert (r["n_emails"], r["n_ipv4"], r["n_phones"]) == (1, 1, 1)
        assert r["clean_text"] == "<EMAIL> at <IP> call <PHONE> end"

    def test_zero_shuffle_plan(self, spark):
        # pure projection: no Exchange anywhere in the plan
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


@pytest.mark.spark
class TestHtmlExtract:
    def _one(self, spark, html):
        from frizbee_spark.operators.webnorm import html_extract

        df = spark.createDataFrame([(1, html)], "doc_id long, html string")
        [r] = html_extract(df).collect()
        return r

    def test_basic_page(self, spark):
        r = self._one(
            spark,
            '<html><head><title>T</title>'
            '<style type="text/css">p { color: red; }</style>'
            '<script>if (a < b && c > 0) { track("x"); }</script></head>'
            '<body><!-- crawler note --><h1>Hello</h1>'
            "<p>world &amp; friends</p></body></html>",
        )
        assert r["extracted_text"] == "T Hello world & friends"
        # raw-input tag count includes the script/style tags AND the
        # <...> shapes inside script text (deterministic, oracle-shared)
        assert r["n_tags"] > 10
        assert 0.0 < r["text_ratio"] < 1.0

    def test_script_style_span_newlines_case_insensitive(self, spark):
        r = self._one(
            spark,
            "<SCRIPT>\nvar a = 1;\nvar b = 2;\n</SCRIPT>keep"
            "<Style>\nbody {}\n</Style> me",
        )
        assert r["extracted_text"] == "keep me"

    def test_adjacent_scripts_do_not_merge(self, spark):
        # non-greedy: text BETWEEN two script blocks survives
        r = self._one(spark, "<script>a</script>mid<script>b</script>end")
        assert r["extracted_text"] == "mid end"

    def test_tags_become_word_boundaries(self, spark):
        r = self._one(spark, "<p>one</p><p>two</p>")
        assert r["extracted_text"] == "one two"

    def test_entity_decode_single_level(self, spark):
        # &amp;lt; is the DISPLAYED string '&lt;' — decode once, not twice;
        # a decoded &lt;b&gt; stays visible text, not a strippable tag
        r = self._one(spark, "<p>a &amp;lt; b and &lt;b&gt;bold&lt;/b&gt;</p>")
        assert r["extracted_text"] == "a &lt; b and <b>bold</b>"

    def test_all_entities(self, spark):
        r = self._one(
            spark, "&lt;&gt;&quot;&#39;&apos;x&nbsp;y&amp;z")
        assert r["extracted_text"] == "<>\"''x y&z"

    def test_plain_text_passthrough(self, spark):
        r = self._one(spark, "no markup   here\n\nat all")
        assert r["extracted_text"] == "no markup here at all"
        assert r["n_tags"] == 0

    def test_null_passthrough(self, spark):
        from frizbee_spark.operators.webnorm import html_extract

        df = spark.createDataFrame([(1, None)], "doc_id long, html string")
        [r] = html_extract(df).collect()
        assert r["extracted_text"] is None and r["n_tags"] is None

    def test_zero_shuffle_plan(self, spark):
        from frizbee_spark.operators.webnorm import html_extract

        df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
        plan = html_extract(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


@pytest.mark.spark
class TestWetExtractorGate:
    """Opt-in extractor='wet' pipeline mode: the full visible-text chain
    replaces the fixed-shell slice, byte-identity still binds on the
    synthetic corpus (its text is markup-free), and extractor switches
    on a populated workdir fail the resume loudly."""

    @pytest.fixture(scope="class")
    def corpus_dir(self, tmp_path_factory):
        from frizbee_spark.sources.corpus import write_corpus

        d = str(tmp_path_factory.mktemp("corpus_wet"))
        write_corpus(d, 200)
        return d

    def test_wet_byte_identity_and_cluster_parity(self, spark, corpus_dir,
                                                  tmp_path_factory):
        import os

        from pyspark.sql import functions as F

        from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

        w_wet = str(tmp_path_factory.mktemp("work_wet"))
        w_shell = str(tmp_path_factory.mktemp("work_shell"))
        out_wet = NearDupPipeline(spark, PipelineConfig(
            workdir=w_wet, extractor="wet")).run(input_path=corpus_dir)
        out_shell = NearDupPipeline(spark, PipelineConfig(
            workdir=w_shell)).run(input_path=corpus_dir)
        # check_extraction ran inside the wet run (extracted == text);
        # the two extractors must agree doc-for-doc on this corpus
        a = out_wet["clusters"].orderBy("doc_id").toPandas()
        b = out_shell["clusters"].orderBy("doc_id").toPandas()
        assert a.equals(b)
        src = spark.read.parquet(
            os.path.join(corpus_dir, "documents.parquet"))
        chk = out_wet["documents"].select("url", "text").join(
            src.select("url", F.col("text").alias("src_text")), "url")
        assert chk.filter(F.col("text") != F.col("src_text")).count() == 0

    def test_wet_strips_real_markup(self, spark, tmp_path_factory):
        from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

        html = ("<html><head><script>nav()</script></head><body>"
                "<h1>Title</h1><p>body &amp; soul</p></body></html>")
        src = spark.createDataFrame(
            [("https://a.example/1", bytearray(html.encode()))],
            "url string, html binary")
        work = str(tmp_path_factory.mktemp("work_wetmarkup"))
        out = NearDupPipeline(spark, PipelineConfig(
            workdir=work, extractor="wet",
            check_extraction=False)).run(docs=src, until="documents")
        [r] = out["documents"].collect()
        assert r["norm_text"] == "title body & soul"

    def test_extractor_switch_fails_resume_both_ways(self, spark, corpus_dir,
                                                     tmp_path_factory):
        from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

        work = str(tmp_path_factory.mktemp("work_switch"))
        NearDupPipeline(spark, PipelineConfig(workdir=work)).run(
            input_path=corpus_dir, until="documents")
        with pytest.raises(RuntimeError, match="incompatible configuration"):
            NearDupPipeline(spark, PipelineConfig(
                workdir=work, extractor="wet")).run(
                    input_path=corpus_dir, until="documents")
        work2 = str(tmp_path_factory.mktemp("work_switch2"))
        NearDupPipeline(spark, PipelineConfig(
            workdir=work2, extractor="wet")).run(
                input_path=corpus_dir, until="documents")
        with pytest.raises(RuntimeError, match="incompatible configuration"):
            NearDupPipeline(spark, PipelineConfig(workdir=work2)).run(
                input_path=corpus_dir, until="documents")

    def test_unknown_extractor_rejected(self, spark, corpus_dir,
                                        tmp_path_factory):
        from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

        work = str(tmp_path_factory.mktemp("work_badext"))
        with pytest.raises(ValueError, match="unknown extractor"):
            NearDupPipeline(spark, PipelineConfig(
                workdir=work, extractor="trafilatura")).run(
                    input_path=corpus_dir, until="documents")


@pytest.mark.spark
class TestExtractLinks:
    HTML = (
        '<html><body><p>intro <a href="https://A.Example:8080/x?q=1">one'
        '</a> mid <A CLASS="z" HREF="/relative/2">two</A> tail '
        '<a rel="nofollow" href="http://b.example/y#frag">three</a>'
        '<a name="no-href-here">not a link</a></p></body></html>'
    )

    def _one(self, spark):
        from frizbee_spark.operators.webnorm import extract_links

        df = spark.createDataFrame([(7, self.HTML)], "doc_id long, html string")
        return extract_links(df).orderBy("link_n").collect()

    def test_document_order_and_hosts(self, spark):
        rows = self._one(spark)
        assert [(r.link_n, r.href, r.host) for r in rows] == [
            (1, "https://A.Example:8080/x?q=1", "a.example"),
            (2, "/relative/2", ""),
            (3, "http://b.example/y#frag", "b.example"),
        ]

    def test_no_links_no_rows(self, spark):
        from frizbee_spark.operators.webnorm import extract_links

        df = spark.createDataFrame(
            [(1, "<p>plain, no anchors</p>"), (2, None)],
            "doc_id long, html string",
        )
        assert extract_links(df).count() == 0

    def test_zero_shuffle_plan(self, spark):
        from frizbee_spark.operators.webnorm import extract_links

        df = spark.createDataFrame([(1, self.HTML)], "doc_id long, html string")
        plan = extract_links(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestUrlBlocklist:
    ROWS = [
        (1, "https://cdn.eu.badnet.org/a"),      # apex suffix match
        (2, "https://badnet.org/b"),             # exact apex
        (3, "https://notbadnet.org/c"),          # NO match: label boundary
        (4, "https://BADNET.ORG:8080/d"),        # case + port
        (5, "https://deep.sub.site.example/e"),  # longest-match attribution
        (6, "https://site.example/f"),           # shorter entry still matches
        (7, "junk-no-host"),                     # never enters the join
        (8, "https://clean.org/g"),              # unblocked
    ]
    BL = ["badnet.org", "site.example", "sub.site.example"]

    def test_suffix_semantics(self, spark):
        from frizbee_spark.operators.webnorm import url_blocklist

        df = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        got = {r["doc_id"]: r for r in url_blocklist(df, self.BL).collect()}
        assert set(got) == {1, 2, 4, 5, 6}
        assert got[1]["matched_domain"] == "badnet.org"
        assert got[4]["host"] == "badnet.org"  # lowered, port stripped
        # longest (most specific) match wins the attribution
        assert got[5]["matched_domain"] == "sub.site.example"
        assert got[6]["matched_domain"] == "site.example"

    def test_dataframe_blocklist_and_validation(self, spark):
        from frizbee_spark.operators.webnorm import url_blocklist

        df = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        bl = spark.createDataFrame([("BADNET.ORG",)], "domain string")
        got = {r["doc_id"] for r in url_blocklist(df, bl).collect()}
        assert got == {1, 2, 4}
        with pytest.raises(ValueError, match="non-empty"):
            url_blocklist(df, [])

    def test_dataframe_blocklist_normalized_like_list(self, spark):
        from frizbee_spark.operators.webnorm import url_blocklist

        df = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        bl = spark.createDataFrame([("badnet.org.",), (".Site.Example",)],
                                   "domain string")
        got = {r["doc_id"] for r in url_blocklist(df, bl).collect()}
        assert got == {1, 2, 4, 5, 6}
        with pytest.raises(ValueError, match="non-empty"):
            url_blocklist(df, spark.createDataFrame([], "domain string"))

    def test_large_list_can_shuffle(self, spark):
        # no forced broadcast: over the broadcast threshold the equi-join
        # falls back to a shuffle join on the domain key
        from frizbee_spark.operators.webnorm import url_blocklist

        df = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            out = url_blocklist(df, self.BL)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            assert {r["doc_id"] for r in out.collect()} == {1, 2, 4, 5, 6}
        finally:
            spark.conf.set(key, old)

    def test_plan_broadcasts_list(self, spark):
        from frizbee_spark.operators.webnorm import url_blocklist

        df = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        plan = url_blocklist(df, self.BL)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
