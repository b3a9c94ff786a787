"""Scale-shaped recall guarantees (VERDICT r2 items 5 and 10):

- typo-budget parity fuzz: the batched wavefront's typo counts equal the
  scalar oracle's on 1k seeded random pairs, hence the budget filter
  keeps identical sets under EVERY max_typos — the tie-break-order claim
  at wavefront.py:_typos_skewed is load-bearing for recall parity with
  the reference (typos.rs:59-76);
- giant-dup-family connectivity at 400k docs: a planted 10k-member
  exact+near family must land in ONE cluster end-to-end (signatures ->
  salted chain/star candidate generation -> degree cap -> gated SW
  verify -> connected components). The linear-edges + degree_cap=16
  connectivity argument at dedup.py was previously proved only at small
  scale.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frizbee_spark.functions.oracle import smith_waterman, typos_from_score_matrix
from frizbee_spark.functions.wavefront import sw_batch


def _fuzz_pairs(rng, n_cases):
    """Needle/haystack pairs with planted near-matches (mutated needle
    embedded) so typo counts span 0..len instead of saturating."""
    alphabet = np.frombuffer(b"abcdeAB _-/.,:xyz", dtype=np.uint8)
    needles, haystacks = [], []
    for _ in range(n_cases):
        nlen = int(rng.integers(1, 13))
        needle = bytes(rng.choice(alphabet, size=nlen))
        mode = rng.random()
        if mode < 0.45:
            # mutate the needle with 0..nlen edits, embed in noise
            m = bytearray(needle)
            for _ in range(int(rng.integers(0, nlen + 1))):
                op = rng.random()
                pos = int(rng.integers(0, max(len(m), 1)))
                if op < 0.4 and m:
                    m[pos] = int(rng.choice(alphabet))
                elif op < 0.7 and len(m) > 1:
                    del m[pos]
                else:
                    m.insert(pos, int(rng.choice(alphabet)))
            pre = bytes(rng.choice(alphabet, size=int(rng.integers(0, 8))))
            suf = bytes(rng.choice(alphabet, size=int(rng.integers(0, 8))))
            hay = pre + bytes(m) + suf
        elif mode < 0.55:
            hay = needle  # exact
        else:
            hay = bytes(rng.choice(alphabet, size=int(rng.integers(1, 40))))
        needles.append(needle)
        haystacks.append(hay if hay else b"x")
    return needles, haystacks


@pytest.mark.parametrize("seed", [101, 202])
def test_typo_budget_parity_fuzz(seed):
    rng = np.random.default_rng(seed)
    needles, haystacks = _fuzz_pairs(rng, 500)
    scores, typos, exact = sw_batch(needles, haystacks, compute_typos=True)
    o_scores = np.empty(len(needles), dtype=np.int64)
    o_typos = np.empty(len(needles), dtype=np.int64)
    for i, (n, h) in enumerate(zip(needles, haystacks)):
        s, M, ex = smith_waterman(n, h)
        o_scores[i] = s
        o_typos[i] = typos_from_score_matrix(M)
        assert bool(exact[i]) == ex, (i, n, h)
    assert (scores == o_scores).all(), np.flatnonzero(scores != o_scores)[:5]
    assert (typos == o_typos).all(), np.flatnonzero(typos != o_typos)[:5]
    # hence the budget filter keeps identical sets for EVERY budget
    for k in range(0, 13):
        assert ((typos <= k) == (o_typos <= k)).all()
    # the fuzz is non-degenerate: typo counts actually vary
    assert len(np.unique(typos)) >= 5


N_DOCS = 400_000
FAMILY = 10_000
NEAR = 1_000  # of which this many carry 1-word edits (rest exact copies)


GATE_DOCS = 100_000


@pytest.mark.spark
def test_filter_gate_composition_saving_at_100k(spark, tmp_path):
    """enable_filter=True end-to-end at 100k docs (VERDICT r3 item 8):
    the advertised saving is 'no signature work on dropped rows' —
    signatures emits exactly one row per input doc, so
    count(signatures) == count(kept) proves the dropped half never
    entered the shingle/MinHash kernel. The doc/byte saving is printed
    (structural assert, no flaky wall-clock compare)."""
    from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

    # half the corpus fails min_chars (short boilerplate), half is real
    docs = spark.range(GATE_DOCS).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("tiny stub row"))
        .otherwise(F.concat_ws(" ", *[
            # 12 distinct tokens: top_unigram_frac = 1/12 < the 0.125
            # default, so the long half passes every repetition gate
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f"@{t}")))
            for t in range(12)
        ])).alias("text"),
    )
    cfg = PipelineConfig(
        workdir=str(tmp_path / "gated100k"), enable_filter=True,
        filter_opts={"min_chars": 50, "min_tokens": 4,
                     "require_lang_signal": False},
    )
    out = NearDupPipeline(spark, cfg).run(docs=docs, until="signatures")

    dec = out["filter"]
    n_total = dec.count()
    kept = dec.filter("keep")
    n_kept = kept.count()
    assert n_total == GATE_DOCS
    assert n_kept == GATE_DOCS // 2  # exactly the long half
    # kept-set-only signatures: one signature row per KEPT doc, none for
    # dropped docs
    sigs = out["signatures"]
    assert sigs.count() == n_kept
    assert sigs.join(dec.filter("NOT keep").select("doc_id"),
                     "doc_id", "left_semi").count() == 0
    # report the saving the gate bought the signature stage
    row = dec.agg(
        F.sum("n_chars").alias("t"),
        F.sum(F.when(F.col("keep"), F.col("n_chars"))
              .otherwise(F.lit(0))).alias("k"),
    ).collect()[0]
    total_b, kept_b = row["t"], row["k"]
    print(f"\nfilter gate saving at {GATE_DOCS} docs: "
          f"{n_total - n_kept} docs ({100 * (n_total - n_kept) / n_total:.0f}%) "
          f"and {total_b - kept_b} chars "
          f"({100 * (total_b - kept_b) / total_b:.0f}%) "
          f"never reached the signature kernel")
    from frizbee_spark.util import release_tracked

    release_tracked()


@pytest.mark.spark
def test_giant_family_one_cluster_at_400k(spark):
    from frizbee_spark.operators.components import assign_clusters
    from frizbee_spark.operators.dedup import (
        DEFAULT_DEDUP, compute_signatures, unified_candidate_pairs,
        verify_pairs,
    )

    base_words = [f"word{j:03d}x" for j in range(40)]
    base = " ".join(base_words)                      # ~360 chars
    pre = " ".join(base_words[:20]) + " "
    suf = " " + " ".join(base_words[21:])
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < NEAR,  # near members: one word replaced
            F.concat(F.lit(pre),
                     F.substring(F.md5(F.col("id").cast("string")), 1, 8),
                     F.lit(suf)),
        ).when(F.col("id") < FAMILY, F.lit(base))     # exact members
        .otherwise(                                   # unique background
            F.concat_ws(" ", *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f"#{t}")))
                for t in range(6)
            ])
        ).alias("norm_text"),
    )
    cfg = DEFAULT_DEDUP  # degree_cap=16, salt_threshold=5000, dense_cap=32
    sigs = compute_signatures(docs, cfg)
    cands = unified_candidate_pairs(sigs, cfg)        # simhash source ON
    verified = verify_pairs(cands, docs, cfg, signatures=sigs)
    edges = verified.filter("verified").select("a", "b")
    clus = assign_clusters(docs, edges)

    fam = clus.filter(F.col("doc_id") < FAMILY)
    fam_clusters = [r["cluster_id"] for r in
                    fam.select("cluster_id").distinct().collect()]
    assert len(fam_clusters) == 1, (
        f"family split into {len(fam_clusters)} clusters — chain/star/salt "
        f"+ degree_cap broke connectivity at scale"
    )
    assert fam.count() == FAMILY
    # precision: the family cluster contains ONLY family members
    in_cluster = clus.filter(F.col("cluster_id") == fam_clusters[0]).count()
    assert in_cluster == FAMILY
    from frizbee_spark.util import release_tracked

    release_tracked()


@pytest.mark.spark
def test_curation_pipeline_e2e_with_resume_at_100k(spark, tmp_path):
    """filter -> perplexity -> sample -> dedup as ONE composable
    NearDupPipeline run at 100k docs (VERDICT r4 item 6), with a mid-kill
    resume producing identical clusters.

    Corpus construction (all doc_id arithmetic, so every expectation is
    exact): stubs fail the filter; gibberish docs (unique-token) land
    orders of magnitude above the perplexity band while shared-vocab
    docs land well inside it; a minority 'xx' stratum is downsampled at
    0.5 while 'en' keeps rate 1.0; planted exact (id%100==1 copies id-1)
    and near (id%100==2 edits id-2's last token) duplicate pairs must
    cluster — and none of the planted ids fall in a dropped class.
    """
    from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig
    from frizbee_spark.operators.textstats import stratified_sample

    N = 100_000
    tok = lambda seed: F.concat(  # noqa: E731 — vocab-50 token
        F.lit("w"),
        (F.conv(F.substring(F.md5(seed), 1, 8), 16, 10) % 50).cast("int"))
    own = [tok(F.concat(F.col("id").cast("string"), F.lit(f"@{t}")))
           for t in range(12)]
    donor1 = [tok(F.concat((F.col("id") - 1).cast("string"), F.lit(f"@{t}")))
              for t in range(12)]
    donor2 = [tok(F.concat((F.col("id") - 2).cast("string"), F.lit(f"@{t}")))
              for t in range(12)]
    gib = [F.md5(F.concat(F.col("id").cast("string"), F.lit(f"#g{t}")))
           for t in range(12)]
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 9, F.lit("tiny stub row"))        # filter
        .when(F.col("id") % 100 == 4, F.concat_ws(" ", *gib))        # ppl
        .when(F.col("id") % 100 == 1, F.concat_ws(" ", *donor1))     # exact
        .when(F.col("id") % 100 == 2, F.concat_ws(" ", *donor2[:11],
                                                  own[11]))          # near
        .otherwise(F.concat_ws(" ", *own)).alias("text"),
        F.when(F.col("id") % 10 == 7, F.lit("xx"))
        .otherwise(F.lit("en")).alias("lang"),
    )
    cfg = PipelineConfig(
        workdir=str(tmp_path / "curated100k"),
        enable_filter=True,
        filter_opts={"min_chars": 30, "min_tokens": 4,
                     "require_lang_signal": False,
                     "max_top_unigram_frac": 1.0,
                     "max_dup_gram_frac": 1.0},
        enable_perplexity=True,
        perplexity_opts={"ppl_max": 1000.0},
        enable_sample=True,
        sample_opts={"rates": {"en": 1.0, "xx": 0.5}},
    )
    out = NearDupPipeline(spark, cfg).run(docs=docs)

    # gate accounting is exact by construction
    dec = out["filter"]
    assert dec.count() == N
    assert dec.filter("NOT keep").count() == N // 10          # the stubs
    ppl = out["perplexity"]
    # gibberish ids are scored far above the band; everything else inside
    gib_ids = ppl.filter((F.col("doc_id") % 100 == 4)
                         & (F.col("doc_id") % 10 != 9))
    assert gib_ids.filter("keep").count() == 0
    assert gib_ids.filter("perplexity <= 1000").count() == 0
    assert ppl.filter((F.col("doc_id") % 100 != 4) & F.col("keep")).count() \
        == ppl.filter(F.col("doc_id") % 100 != 4).count()
    # sampling: kept set == an independent direct stratified_sample call
    kept = out["sample"]
    direct = stratified_sample(
        docs.filter((F.col("id") % 10 != 9) & (F.col("id") % 100 != 4))
            .select(F.col("doc_id"), "lang"),
        rates={"en": 1.0, "xx": 0.5})
    assert kept.count() == direct.count()
    assert kept.join(direct.select("doc_id"), "doc_id", "left_anti").count() == 0
    n_xx = kept.join(docs.filter(F.col("lang") == "xx").select("doc_id"),
                     "doc_id", "left_semi").count()
    assert 0 < n_xx < N // 10  # really downsampled, really nonempty

    # every planted pair clusters (none of the planted ids is dropped:
    # %100 in {1,2} and donors %100 in {0,99...} -- donor of id%100==1 is
    # id-1 (%100==0), of ==2 is id-2 (%100==0); none are stubs (%10==9),
    # gibberish (%100==4), or 'xx' (%10==7)
    clus = {r["doc_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    pairs = [(i - 1, i) for i in range(1, N, 100)] + \
            [(i - 2, i) for i in range(2, N, 100)]
    missed = [(a, b) for a, b in pairs if clus.get(a) != clus.get(b)]
    assert not missed, f"{len(missed)} planted pairs unclustered: {missed[:5]}"

    # signatures exist for EXACTLY the fully-gated set (the sample
    # stage's kept table is the last gate): no signature/verify work was
    # spent on any dropped row
    assert out["signatures"].count() == kept.count()
    assert out["clusters"].count() == kept.count()

    # ---- mid-kill resume: wipe everything after signatures, rerun ----
    import shutil as sh

    for stage in ("verified", "clusters", "canonical", "span_report"):
        sh.rmtree(str(tmp_path / "curated100k" / stage), ignore_errors=True)
    out2 = NearDupPipeline(spark, cfg).run(docs=docs)
    clus2 = {r["doc_id"]: r["cluster_id"] for r in out2["clusters"].collect()}
    assert clus2 == clus

    # toggling the perplexity band must fail the resume loudly, not mix
    cfg_bad = PipelineConfig(
        workdir=str(tmp_path / "curated100k"),
        enable_filter=True,
        filter_opts=dict(cfg.filter_opts),
        enable_perplexity=True, perplexity_opts={"ppl_max": 500.0},
        enable_sample=True, sample_opts={"rates": {"en": 1.0, "xx": 0.5}},
    )
    with pytest.raises(RuntimeError, match="incompatible"):
        NearDupPipeline(spark, cfg_bad).run(docs=docs, until="perplexity")
    from frizbee_spark.util import release_tracked

    release_tracked()
