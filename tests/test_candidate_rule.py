"""One candidate rule for batch and increments.

Every candidate source pairs the one bucket table of
``dedup._bucket_rows`` under the one tier rule of ``dedup._tier_pairs``;
a streaming increment pairs only the buckets a new doc falls in. On a
seeded corpus split into three increments, the increments must find the
batch's candidates (with the batch's tiers), the batch's clusters, and
no old-vs-old pair — and the public candidate generators must keep
their pinned outputs.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from frizbee_spark.operators.components import assign_clusters
from frizbee_spark.operators.dedup import (
    DEFAULT_DEDUP,
    _bucket_rows,
    _tier_pairs,
    candidate_tier_attribution,
    compute_signatures,
    exact_hash_pairs,
    lsh_band_pairs,
    normalize_text,
    simhash_pairs,
    unified_candidate_pairs,
    verify_pairs,
    with_doc_id,
)
from frizbee_spark.sources.corpus import generate_corpus
from frizbee_spark.streaming.incremental import (
    _increment_pairs,
    incremental_dedup_batch,
    verify_increment,
)
from frizbee_spark.util import release_tracked

N_DOCS = 300
SHORT_CUT = 300  # the second half is cut to this many chars: short docs
                 # exercise the tier-2 bands and their multiplicity rule
N_INCREMENTS = 3


def _digest(df, cols):
    rows = sorted(tuple(r[c] for c in cols) for r in df.collect())
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_corpus(N_DOCS)[0].select(["url", "text"]).to_pandas()
    pdf.loc[N_DOCS // 2:, "text"] = pdf.loc[N_DOCS // 2:, "text"].str.slice(0, SHORT_CUT)
    pdf["part"] = [i * N_INCREMENTS // N_DOCS for i in range(N_DOCS)]
    docs = with_doc_id(normalize_text(spark.createDataFrame(pdf), "text"), "url") \
        .select("doc_id", "norm_text", "part").cache()
    sigs = compute_signatures(docs, DEFAULT_DEDUP).cache()
    yield docs, sigs
    sigs.unpersist()
    docs.unpersist()
    release_tracked()


@pytest.fixture(scope="module")
def increments(corpus):
    """Ingest the corpus as three increments, each against the
    signatures of the ones before it. Per increment: the new ids, the
    pre-gate pairs (a, b, tier) and the gated candidates."""
    docs, sigs = corpus
    part_of = dict(docs.select("doc_id", "part").collect())
    out = []
    for part in range(N_INCREMENTS):
        new_docs = docs.filter(F.col("part") == part).select("doc_id", "norm_text")
        existing = sigs.join(docs.filter(F.col("part") < part), "doc_id",
                             "left_semi") if part else None
        new_sigs, cand, _ = incremental_dedup_batch(new_docs, existing)
        out.append({
            "new": {d for d, p in part_of.items() if p == part},
            "pairs": {tuple(r) for r in
                      _increment_pairs(new_sigs, existing).collect()},
            "cand": {tuple(r) for r in cand.select("a", "b").collect()},
            "exact": {(r["a"], r["b"]): r["exact"] for r in cand.collect()},
        })
        release_tracked()
    return out


@pytest.mark.spark
class TestOneCandidateRule:
    def test_public_outputs_pinned(self, corpus):
        """The five public candidate generators return the pair sets and
        tier labels they returned before they shared one bucket table
        (literals taken from a run of the per-source generators)."""
        _, sigs = corpus
        got = {
            "exact": _digest(exact_hash_pairs(sigs), ["a", "b"]),
            "lsh": _digest(lsh_band_pairs(sigs), ["a", "b"]),
            "simhash": _digest(simhash_pairs(sigs), ["a", "b"]),
            "tiers": _digest(candidate_tier_attribution(sigs), ["a", "b", "tier"]),
            "unified": _digest(unified_candidate_pairs(sigs), ["a", "b"]),
        }
        release_tracked()
        assert got == {
            "exact": (50, "a83f8fb52c329c05"),
            "lsh": (111, "1ee1779a592a0b26"),
            "simhash": (64, "5af72750c780092c"),
            "tiers": (111, "0a30717e90d7f7ab"),
            "unified": (110, "227d81072f89c1f1"),
        }

    def test_increment_candidates_equal_batch(self, corpus, increments):
        _, sigs = corpus
        rows = _bucket_rows(sigs)
        # precondition: every bucket is dense, so the batch emits all of a
        # bucket's pairs and an increment's share of them is well defined
        biggest = rows.groupBy("bkey").count().agg(F.max("count")).first()[0]
        assert biggest <= DEFAULT_DEDUP.dense_cap
        batch = {tuple(r) for r in _tier_pairs(rows).collect()}
        union = set().union(*(inc["pairs"] for inc in increments))
        assert batch and union == batch
        # the three increments split the pairs: none is found twice
        assert sum(len(inc["pairs"]) for inc in increments) == len(batch)

    def test_no_old_vs_old_pair(self, increments):
        for inc in increments:
            for a, b, *_ in inc["pairs"] | inc["cand"]:
                assert a in inc["new"] or b in inc["new"]
            assert inc["cand"] <= {(a, b) for a, b, _ in inc["pairs"]}

    def test_clusters_equal_batch(self, spark, corpus, increments):
        docs, sigs = corpus
        docs = docs.select("doc_id", "norm_text")
        batch_edges = verify_pairs(
            unified_candidate_pairs(sigs), docs, signatures=sigs
        ).filter("verified").select("a", "b")
        batch = {tuple(r) for r in assign_clusters(docs, batch_edges).collect()}
        # verification is per pair, so verifying every increment's
        # candidates at once yields the union of the per-increment edges
        cand = spark.createDataFrame(
            [c for inc in increments for c in inc["cand"]], "a long, b long")
        edges = verify_increment(cand, docs, sigs)
        streamed = {tuple(r) for r in assign_clusters(docs, edges).collect()}
        release_tracked()
        assert len(batch) == N_DOCS
        assert len({c for _, c in batch}) < N_DOCS  # there are clusters
        assert streamed == batch


def _join_nodes(df):
    tree = df._jdf.queryExecution().analyzed().treeString()
    return sum(1 for line in tree.splitlines() if "Join " in line)


@pytest.mark.spark
class TestGateTag:
    """The candidate gate decides exact and Hamming once; verify reads its
    ``exact`` tag instead of joining the signatures again."""

    def test_candidates_carry_exact_tag(self, corpus, increments):
        _, sigs = corpus
        text_hash = dict(sigs.select("doc_id", "text_hash").collect())
        tags = {(r["a"], r["b"]): r["exact"]
                for r in unified_candidate_pairs(sigs).collect()}
        release_tracked()
        for inc in increments:
            tags.update(inc["exact"])
        assert any(tags.values()) and not all(tags.values())
        for (a, b), exact in tags.items():
            assert exact == (text_hash[a] == text_hash[b])

    def test_tagged_verify_equals_untagged(self, corpus):
        docs, sigs = corpus
        docs = docs.select("doc_id", "norm_text")
        cand = unified_candidate_pairs(sigs)
        cols = ["a", "b", "score", "similarity", "exact", "verified"]
        tagged = _digest(verify_pairs(cand, docs), cols)
        untagged = _digest(verify_pairs(cand.select("a", "b"), docs), cols)
        n_exact = verify_pairs(cand, docs).filter("exact").count()
        release_tracked()
        assert n_exact > 0
        assert tagged == untagged

    def test_verify_joins_no_signatures(self, corpus):
        """The analyzed plan holds the gate's two signature joins once per
        branch of the degree cap's union, plus verify's two text joins.
        Before verify read the tag, this call's plan had 20 Join nodes:
        verify joined both endpoints' signatures again, and the analyzed
        tree repeats that subtree in each of its three union branches."""
        docs, sigs = corpus
        docs = docs.select("doc_id", "norm_text")
        cand = unified_candidate_pairs(sigs)
        assert _join_nodes(cand) == 4
        assert _join_nodes(verify_pairs(cand, docs, signatures=sigs)) == 6
        release_tracked()
