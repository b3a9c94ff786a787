"""Portable-hash HLL: accuracy within theoretical error, branch
selection, null totality, shuffle-order invariance, plan shape."""

import pytest
from pyspark.sql import functions as F

from frizbee_spark.operators.sketches import hll_distinct


@pytest.mark.spark
class TestHllDistinct:
    def test_accuracy_raw_branch(self, spark):
        # stderr at p=10 is ~1.04/sqrt(1024) ~= 3.3%; allow 3 sigma
        df = spark.range(10000).select(
            F.col("id").cast("string").alias("x"))
        r = hll_distinct(df, ["x"], include_exact=True).collect()[0]
        assert r["method"] == "raw"
        assert r["exact_distinct"] == 10000
        assert abs(r["distinct_est"] - 10000) / 10000 < 0.10

    def test_linear_branch_small_cardinality(self, spark):
        df = spark.range(5000).select(
            (F.col("id") % 7).cast("string").alias("y"))
        r = hll_distinct(df, ["y"]).collect()[0]
        assert r["method"] == "linear"
        assert abs(r["distinct_est"] - 7) < 1.0

    def test_all_null_column_counts_zero(self, spark):
        df = spark.range(100).select(
            F.lit(None).cast("string").alias("z"))
        r = hll_distinct(df, ["z"], include_exact=True).collect()[0]
        assert (r["distinct_est"], r["n_filled"], r["exact_distinct"]) \
            == (0.0, 0, 0)
        assert r["method"] == "linear"

    def test_shuffle_order_invariance(self, spark):
        # integer scaled_sum makes the estimate independent of partition
        # layout — the property the textbook float sum does not have
        df = spark.range(3000).select(F.col("id").cast("string").alias("x"))
        a = hll_distinct(df, ["x"]).collect()[0]
        b = hll_distinct(df.repartition(13, "x"), ["x"]).collect()[0]
        c = hll_distinct(df.coalesce(1), ["x"]).collect()[0]
        assert a["scaled_sum"] == b["scaled_sum"] == c["scaled_sum"]
        assert a["distinct_est"] == b["distinct_est"] == c["distinct_est"]

    def test_plan_two_exchanges_no_distinct(self, spark):
        # sketch path: bucket groupBy + 1-row final agg = 2 exchanges,
        # and no exact-distinct aggregate unless asked
        df = spark.range(100).select(F.col("id").cast("string").alias("x"))
        plan = hll_distinct(df, ["x"])._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") <= 2
        assert "count(distinct" not in plan.lower()
        assert "partial_max" in plan  # registers combine map-side

    def test_validation(self, spark):
        df = spark.range(10).select(F.col("id").cast("string").alias("x"))
        with pytest.raises(ValueError, match="at least one"):
            hll_distinct(df, [])
        with pytest.raises(ValueError, match="p must be"):
            hll_distinct(df, ["x"], p=2)


@pytest.mark.spark
class TestCmSketch:
    def _tokens(self, spark, n=4000):
        # zipf-ish: token t_k appears ~n/(k+1) times, deterministic
        return spark.range(n).select(
            F.concat(F.lit("t"),
                     (F.col("id") % (F.col("id") % 37 + 1)).cast("string"))
            .alias("token"))

    def test_never_underestimates_and_tight_on_sparse(self, spark):
        from frizbee_spark.operators.sketches import cm_estimate, cm_sketch

        toks = self._tokens(spark)
        exact = {r["token"]: r["n"] for r in
                 toks.groupBy("token").agg(F.count("*").alias("n")).collect()}
        sk = cm_sketch(toks, "token")          # depth 4, width 2048
        probes = toks.select("token").distinct()
        est = {r["token"]: r["est"] for r in
               cm_estimate(sk, probes).collect()}
        assert set(est) == set(exact)
        assert all(est[t] >= exact[t] for t in exact)
        # 37 distinct tokens in 4*2048 cells: no row collides in all 4
        assert est == exact

    def test_weighted_preaggregated_equals_raw(self, spark):
        from frizbee_spark.operators.sketches import cm_sketch

        toks = self._tokens(spark)
        raw = {(r["row"], r["cell"]): r["cnt"]
               for r in cm_sketch(toks, "token").collect()}
        pre = toks.groupBy("token").agg(F.count("*").alias("n"))
        wtd = {(r["row"], r["cell"]): r["cnt"]
               for r in cm_sketch(pre, "token", weight_col="n").collect()}
        assert raw == wtd

    def test_unseen_probe_reads_bounded_overcount(self, spark):
        from frizbee_spark.operators.sketches import cm_estimate, cm_sketch

        toks = self._tokens(spark)
        sk = cm_sketch(toks, "token")
        probes = spark.createDataFrame(
            [("never-seen-token",)], "token string")
        est = cm_estimate(sk, probes).collect()[0]["est"]
        assert 0 <= est <= 4000 * 2 // 2048 + 1  # CM bound, generous

    def test_sketch_size_bounded_and_one_exchange(self, spark):
        from frizbee_spark.operators.sketches import cm_sketch

        toks = self._tokens(spark, 2000)
        sk = cm_sketch(toks, "token", depth=3, width=64)
        assert sk.count() <= 3 * 64
        plan = sk._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        assert "partial_sum" in plan  # map-side combine

    def test_table_pinned_and_one_scan(self, spark):
        # cells are md5 addresses of 'cm<row>:' || value — recomputed here
        # with hashlib, so the table is pinned independently of the plan
        import hashlib
        from collections import Counter

        from frizbee_spark.operators.sketches import cm_sketch

        toks = self._tokens(spark, 3000)
        sk = cm_sketch(toks, "token", depth=5, width=97)
        plan = sk._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Range (") == 1 and "Union" not in plan
        want = Counter()
        for r in toks.collect():
            for row in range(5):
                h = hashlib.md5(f"cm{row}:{r['token']}".encode()).hexdigest()
                want[(row, int(h[:15], 16) % 97)] += 1
        got = {(r["row"], r["cell"]): r["cnt"] for r in sk.collect()}
        assert got == dict(want)

    def test_validation(self, spark):
        from frizbee_spark.operators.sketches import cm_sketch

        toks = self._tokens(spark, 10)
        with pytest.raises(ValueError, match="depth"):
            cm_sketch(toks, "token", depth=0)
        with pytest.raises(ValueError, match="width"):
            cm_sketch(toks, "token", width=4)
