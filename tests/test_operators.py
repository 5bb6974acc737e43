"""Operator-level tests: moments engine vs pandas oracle, sampler
properties, profiling, clustering bridge, adversarial shift (behavioral)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions.sampling import hash_sample
from datafusion_cyberpolka_eda_spark.operators import profile, relational
from datafusion_cyberpolka_eda_spark.operators import stats as S


@pytest.fixture(scope="module")
def synth(spark):
    rng = np.random.default_rng(42)
    n = 5000
    pdf = pd.DataFrame(
        {
            "key": np.arange(n),
            "x1": rng.normal(10, 3, n),
            "x2": rng.exponential(2, n),
            "x3": rng.normal(0, 1, n),
            "y1": (rng.random(n) < 0.3).astype(int),
            "y2": (rng.random(n) < 0.05).astype(int),
        }
    )
    # inject correlation and nulls
    pdf["x2"] = pdf["x2"] + pdf["y1"] * 1.5
    pdf.loc[pdf.sample(frac=0.2, random_state=1).index, "x3"] = np.nan
    return pdf


@pytest.fixture(scope="module")
def sdf(spark, synth):
    return spark.createDataFrame(synth)


class TestMomentsEngine:
    def test_corr_matches_pandas(self, sdf, synth):
        cols = ["x1", "x2", "y1", "y2"]
        ours = S.corr_matrix(sdf, cols)
        ref = synth[cols].corr(method="pearson")
        np.testing.assert_allclose(
            ours.to_numpy(), ref.to_numpy(), rtol=1e-9, atol=1e-12
        )

    def test_constant_column_yields_nan(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"a": [1.0, 1.0, 1.0], "b": [1.0, 2.0, 3.0]})
        )
        corr = S.corr_matrix(df, ["a", "b"])
        assert np.isnan(corr.loc["a", "b"])
        assert corr.loc["b", "b"] == pytest.approx(1.0)

    def test_chunking_equivalence(self, sdf):
        cols = ["x1", "x2", "y1"]
        m1 = S.cross_moments(sdf, cols, cols, chunk_size=2)
        m2 = S.cross_moments(sdf, cols, cols, chunk_size=1000)
        np.testing.assert_allclose(m1["sum_xy"], m2["sum_xy"])

    def test_screen_corr_matches_moments_route(self, sdf, synth):
        """The driver-side screen (impute + Pearson in NumPy) must agree
        with mean_impute + the chunked-moments route, including the
        xs x ys block slicing."""
        xs, ys = ["x1", "x2", "x3"], ["y1", "y2"]
        assert synth["x3"].isna().any()
        imputed = S.mean_impute(sdf, ["x3"])
        via_moments = S.corr_from_moments(S.cross_moments(imputed, xs, ys))
        via_screen = S.screen_corr(synth, xs, ys)
        assert list(via_screen.index) == xs
        assert list(via_screen.columns) == ys
        np.testing.assert_allclose(
            via_screen.to_numpy(), via_moments.to_numpy(), rtol=1e-9, atol=1e-12
        )

    def test_screen_corr_constant_column_nan(self):
        # an all-null column imputes to 0.0, so it is constant too
        pdf = pd.DataFrame({"a": [0.1, 0.1, 0.1], "n": [np.nan] * 3, "b": [1.0, 2.0, 3.0]})
        corr = S.screen_corr(pdf, ["a", "n", "b"], ["b"])
        assert np.isnan(corr.loc["a", "b"])
        assert np.isnan(corr.loc["n", "b"])
        assert corr.loc["b", "b"] == pytest.approx(1.0)

    def test_mean_impute(self, sdf, synth):
        imputed = S.mean_impute(sdf, ["x3"])
        assert imputed.filter(F.col("x3").isNull()).count() == 0
        got = imputed.agg(F.avg("x3")).collect()[0][0]
        assert got == pytest.approx(synth["x3"].mean(), rel=1e-9)

    def test_pair_stats_binary(self, sdf, synth):
        pdf = S.pair_stats(sdf, ["y1", "y2"])
        row = pdf.iloc[0]
        co = int(((synth["y1"] == 1) & (synth["y2"] == 1)).sum())
        assert row["co_count"] == co
        assert row["corr"] == pytest.approx(
            synth[["y1", "y2"]].corr().iloc[0, 1], rel=1e-9
        )


class TestAucByRank:
    def test_matches_naive_pairwise(self, spark):
        rng = np.random.default_rng(7)
        n = 400
        y = (rng.random(n) < 0.4).astype(int)
        # coarse scores force heavy ties to exercise the 0.5 tie term
        s = np.round(rng.normal(0, 1, n) + y * 0.8, 1)
        df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
        auc = S.auc_by_rank(df, "y", "s").collect()[0]["auc"]
        pos, neg = s[y == 1], s[y == 0]
        wins = (pos[:, None] > neg[None, :]).sum()
        ties = (pos[:, None] == neg[None, :]).sum()
        naive = (wins + 0.5 * ties) / (len(pos) * len(neg))
        assert auc == pytest.approx(naive, rel=1e-12)

    def test_degenerate_class_null(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"y": [1, 1, 1], "s": [1.0, 2.0, 3.0]}))
        assert S.auc_by_rank(df, "y", "s").collect()[0]["auc"] is None

    def test_continuous_scores_exact(self, spark):
        # all-distinct (continuous) scores: exercises the bucketed two-pass
        # prefix sum across many buckets, exact against the naive pairwise
        rng = np.random.default_rng(11)
        n = 3000
        y = (rng.random(n) < 0.35).astype(int)
        s = rng.normal(0, 1, n) + y * 0.5  # continuous, ~no ties
        assert len(np.unique(s)) == n
        df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
        auc = S.auc_by_rank(df, "y", "s", num_buckets=64).collect()[0]["auc"]
        pos, neg = s[y == 1], s[y == 0]
        wins = (pos[:, None] > neg[None, :]).sum()
        ties = (pos[:, None] == neg[None, :]).sum()
        naive = (wins + 0.5 * ties) / (len(pos) * len(neg))
        assert auc == pytest.approx(naive, rel=1e-12)

    def test_single_bucket_matches_many(self, spark):
        # num_buckets=1 degenerates to the old single-partition plan;
        # results must be bit-identical across bucket counts
        rng = np.random.default_rng(13)
        y = (rng.random(500) < 0.5).astype(int)
        s = np.round(rng.normal(0, 1, 500), 2)
        df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
        a1 = S.auc_by_rank(df, "y", "s", num_buckets=1).collect()[0]["auc"]
        a256 = S.auc_by_rank(df, "y", "s", num_buckets=256).collect()[0]["auc"]
        assert a1 == a256

    def test_constant_score_half(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"y": [0, 1, 0, 1], "s": [2.0, 2.0, 2.0, 2.0]})
        )
        assert S.auc_by_rank(df, "y", "s").collect()[0]["auc"] == 0.5

    def test_no_unpartitioned_window_in_plan(self, spark):
        df = spark.range(0, 1000).select(
            (F.col("id") % 2).alias("y"), (F.rand(5)).alias("s")
        )
        plan = S.auc_by_rank(df, "y", "s")._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                assert "bucket" in line, f"unpartitioned window: {line}"


@pytest.fixture(scope="module")
def shift_tables(spark, tmp_path_factory):
    """{inject_shift: (train_main, test_main)} of the EDA fixture."""
    from datafusion_cyberpolka_eda_spark.pipeline.fixtures import generate_eda_fixture

    tables = {}
    for shift in (False, True):
        d = str(tmp_path_factory.mktemp(f"shift_{shift}"))
        paths = generate_eda_fixture(d, n_train=20000, n_test=6000, seed=42, inject_shift=shift)
        tables[shift] = tuple(
            spark.read.parquet(paths[t]) for t in ("train_main_features", "test_main_features")
        )
    return tables


def _adversarial_auc(tables) -> float:
    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    train, test = tables
    feats = [c for c in train.columns if c != "customer_id"]
    return ML.adversarial_shift_auc(train, test, feats, "customer_id", max_iter=8)


class TestDriverTwins:
    """The pipeline's driver-side filled-count statistics against the Spark
    operators they replace."""

    @pytest.mark.parametrize("n_rows", [1003, 7])
    def test_ntile_by_equals_ntile_bucket(self, spark, n_rows):
        rng = np.random.default_rng(3)
        # few distinct values: tie groups straddle decile edges; 1003 rows
        # leave a remainder of 3, 7 rows leave buckets 8-10 empty
        v = rng.integers(0, 6, n_rows)
        ids = rng.permutation(n_rows) * 7
        df = spark.createDataFrame(pd.DataFrame({"id": ids, "v": v}))
        rows = relational.ntile_bucket(df, "v", 10, tiebreak_cols=["id"]).collect()
        spark_bucket = {r["id"]: r["bucket"] for r in rows}
        got = S.ntile_by([v, ids], 10)
        assert [int(b) for b in got] == [spark_bucket[i] for i in ids]
        if n_rows > 10:
            straddling = pd.DataFrame({"v": v, "b": got}).groupby("v")["b"].nunique()
            assert (straddling > 1).sum() >= 3

    def test_rank_auc_and_point_biserial_match_spark(self, spark):
        rng = np.random.default_rng(9)
        n = 5000
        y = (rng.random(n) < 0.3).astype(np.int32)
        filled = rng.integers(0, 40, n) + 5 * y  # integer counts, heavy ties
        df = spark.createDataFrame(pd.DataFrame({"y": y, "f": filled}))
        assert S.rank_auc(y, filled) == S.auc_by_rank(df, "y", "f").collect()[0]["auc"]
        r, p = S.point_biserial_ints(y, filled)
        r_spark, p_spark = S.point_biserial(df, "y", "f")
        assert abs(r - r_spark) <= 1e-12
        assert p == pytest.approx(p_spark, rel=1e-9)
        assert np.isnan(S.point_biserial_ints(y, np.full(n, 3))[0])


@pytest.fixture(scope="module")
def whale_frame(spark):
    """Features with nulls, NaN values, ties at the cutoffs, an all-null
    and a constant column; 0/1 targets with nulls, one enriched in the
    top tail of x_tail."""
    rng = np.random.default_rng(11)
    n = 3000

    def with_gaps(x, null_frac, nan_frac):
        u = rng.random(n)
        return [
            None if ui < null_frac else float("nan") if ui < null_frac + nan_frac else float(v)
            for ui, v in zip(u, x)
        ]

    tail = rng.lognormal(0, 1, n)
    cols = {
        "x_tail": with_gaps(tail, 0.1, 0.004),
        # 30 values: interpolating between two equal ones can round off
        # them (at q = 0.28 here)
        "x_ties": with_gaps(rng.choice(rng.normal(0, 1, 30), n), 0.05, 0.0),
        "x_nan_cut": with_gaps(rng.normal(0, 1, n), 0.0, 0.03),
        "x_null": [None] * n,
        "x_const": [5.0] * n,
    }
    y1 = (rng.random(n) < np.where(tail > np.quantile(tail, 0.95), 0.4, 0.02)).astype(int)
    y2 = (rng.random(n) < 0.1).astype(int)
    targets = {
        "y1": [None if u < 0.05 else int(v) for u, v in zip(rng.random(n), y1)],
        "y2": [int(v) for v in y2],
    }
    rows = list(zip(range(n), *cols.values(), *targets.values()))
    schema = ", ".join(
        ["id bigint", *[f"{c} double" for c in cols], *[f"{t} tinyint" for t in targets]]
    )
    return spark.createDataFrame(rows, schema), list(cols), list(targets)


class TestWhaleTwin:
    """The whale stage's driver screen against the Spark operator it
    replaces in the pipeline."""

    @pytest.mark.parametrize("q", [0.99, 0.9, 0.5, 0.28, 0.0, 1.0])
    def test_spark_percentile_bit_for_bit(self, whale_frame, q):
        import struct

        def bits(v):  # every NaN alike: NaN payloads carry no value
            return "NaN" if v is None or np.isnan(v) else struct.pack("<d", v)

        df, feats, _ = whale_frame
        want = df.selectExpr(*[f"percentile({f}, {q}) AS {f}" for f in feats]).first()
        table = df.toArrow()
        for f in feats:
            got = S.spark_percentile(table.column(f).drop_null().to_numpy(), q)
            assert bits(got) == bits(want[f]), (f, q, got, want[f])

    @pytest.mark.parametrize("q", [0.99, 0.9, 0.5, 0.28])
    def test_whale_screen_equals_whale_scan(self, whale_frame, q):
        df, feats, targets = whale_frame
        kw = dict(quantile=q, min_top=5, min_rest=100)
        want = S.whale_scan(df, feats, targets, **kw)
        got = S.whale_screen(df.toArrow(), feats, targets, **kw)
        pd.testing.assert_frame_equal(got, want, check_exact=True)
        # every guard passes somewhere and drops the degenerate columns
        assert set(got["feature"]) == {"x_tail", "x_ties", "x_nan_cut"}

    def test_nan_cutoff_puts_only_nan_rows_on_top(self, whale_frame):
        df, _, targets = whale_frame
        table = df.toArrow()
        nan_rows = int(np.isnan(table.column("x_nan_cut").to_numpy()).sum())
        got = S.whale_screen(table, ["x_nan_cut"], targets, min_top=1, min_rest=1)
        assert np.isnan(S.spark_percentile(table.column("x_nan_cut").to_numpy(), 0.99))
        assert got["top_n"].tolist() == [nan_rows] * len(targets)
        assert got["rest_n"].tolist() == [len(table) - nan_rows] * len(targets)


class TestAdversarialShift:
    def test_auc_separates_shift_from_no_shift(self, shift_tables):
        assert 0.40 <= _adversarial_auc(shift_tables[False]) <= 0.62
        assert _adversarial_auc(shift_tables[True]) > 0.75

    def test_one_spark_job(self, spark, shift_tables):
        sc = spark.sparkContext
        sc.setJobGroup("adversarial-one-job", "adversarial_shift_auc")
        try:
            _adversarial_auc(shift_tables[False])
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert len(sc.statusTracker().getJobIdsForGroup("adversarial-one-job")) == 1

    def test_rank_auc_matches_pairwise_and_auc_by_rank(self, spark):
        rng = np.random.default_rng(5)
        n = 600
        y = (rng.random(n) < 0.3).astype(int)
        # coarse scores: heavy ties, across and within the classes
        s = np.round(rng.normal(0, 1, n) + y * 0.7, 1)
        pos, neg = s[y == 1], s[y == 0]
        wins = (pos[:, None] > neg[None, :]).sum()
        ties = (pos[:, None] == neg[None, :]).sum()
        assert ties > 0
        naive = (wins + 0.5 * ties) / (len(pos) * len(neg))
        auc = S.rank_auc(y, s)
        assert auc == pytest.approx(naive, rel=1e-12)
        df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
        assert auc == S.auc_by_rank(df, "y", "s").collect()[0]["auc"]
        assert np.isnan(S.rank_auc(np.ones(3), np.arange(3.0)))


class TestHashSampler:
    def test_deterministic_and_key_stable(self, spark):
        df = spark.range(0, 20000).withColumnRenamed("id", "k")
        a = hash_sample(df, "k", 20)
        b = hash_sample(df, "k", 20)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        # key-stable: sampling a second table with the same keys aligns
        df2 = df.withColumn("v", F.col("k") * 2)
        joined = hash_sample(df, "k", 20).join(hash_sample(df2, "k", 20), "k")
        assert joined.count() == a.count()

    def test_proportion(self, spark):
        df = spark.range(0, 50000).withColumnRenamed("id", "k")
        frac = hash_sample(df, "k", 30).count() / 50000
        assert 0.28 < frac < 0.32

    def test_pct_100_identity(self, spark):
        df = spark.range(0, 100).withColumnRenamed("id", "k")
        assert hash_sample(df, "k", 100).count() == 100


class TestStratifiedSample:
    @staticmethod
    def _df(spark):
        return spark.range(0, 30000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
        )

    def test_per_stratum_rates(self, spark):
        from datafusion_cyberpolka_eda_spark.functions.sampling import (
            stratified_key_sample,
        )

        s = stratified_key_sample(
            self._df(spark), "k", "lang", rates={"en": 10}, default_rate=50
        )
        rates = {
            r["lang"]: r["n"]
            for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert 0.08 < rates["en"] / 10000 < 0.12
        assert 0.47 < rates["de"] / 20000 < 0.53

    def test_key_stable_and_deterministic(self, spark):
        from datafusion_cyberpolka_eda_spark.functions.sampling import (
            stratified_key_sample,
        )

        df = self._df(spark)
        a = stratified_key_sample(df, "k", "lang", rates={"en": 10}, default_rate=50)
        b = stratified_key_sample(df, "k", "lang", rates={"en": 10}, default_rate=50)
        assert a.exceptAll(b).count() == 0 and a.count() == b.count()

    def test_portable_matches_key_mod(self, spark):
        from datafusion_cyberpolka_eda_spark.functions.sampling import (
            stratified_key_sample,
        )

        got = stratified_key_sample(
            self._df(spark), "k", "lang", rates={"en": 10}, default_rate=50,
            portable=True,
        )
        want = self._df(spark).filter(
            F.pmod("k", F.lit(100))
            < F.when(F.col("lang") == "en", 10).otherwise(50)
        )
        assert got.exceptAll(want).count() == 0
        assert got.count() == want.count()


class TestProfile:
    def test_null_rates(self, sdf, synth):
        nr = {
            r["column"]: r["null_rate"]
            for r in profile.null_rates(sdf, ["x1", "x3"]).collect()
        }
        assert nr["x1"] == 0.0
        assert nr["x3"] == pytest.approx(synth["x3"].isna().mean(), rel=1e-12)

    @pytest.mark.parametrize("chunk_size", [1, 400])
    def test_null_rates_from_counts_bit_for_bit(self, spark, chunk_size):
        n = 3001
        rows = [
            (i, None if i % 3 == 0 else 1.0, None, float("nan") if i % 7 else None, i)
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, third double, empty double, nan double, v int"
        )
        cols = ["third", "empty", "nan", "v"]
        want = profile.null_rates(df, cols).toPandas()
        rows_, nonnull = profile.nonnull_counts(df, chunk_size=chunk_size)
        assert rows_ == n and set(nonnull) == set(df.columns)
        got = profile.null_rates_from_counts(rows_, nonnull, cols)
        pd.testing.assert_frame_equal(got, want, check_exact=True)
        assert got["null_rate"].tolist() == [1001 / n, 1.0, (n // 7 + 1) / n, 0.0]

    def test_null_rates_chunked(self, sdf):
        a = {r["column"]: r["null_rate"] for r in profile.null_rates(sdf, ["x1", "x2", "x3"], chunk_size=1).collect()}
        b = {r["column"]: r["null_rate"] for r in profile.null_rates(sdf, ["x1", "x2", "x3"], chunk_size=100).collect()}
        assert a == b

    def test_unseen_categories(self, spark):
        train = spark.createDataFrame(pd.DataFrame({"c": [1, 2, 3, 3]}))
        test = spark.createDataFrame(pd.DataFrame({"c": [2, 3, 4, 5, 5]}))
        unseen = sorted(r["c"] for r in profile.unseen_categories(train, test, "c").collect())
        assert unseen == [4, 5]
        rate = profile.unseen_rate_rows(train, test, "c").collect()[0]
        assert rate["unseen_rate"] == pytest.approx(3 / 5)

    def test_cardinality_unseen_profile_matches_per_column(self, spark):
        """The stacked constant-pass profile must agree with the
        per-column operators on every stat, including null handling."""
        train = spark.createDataFrame(
            pd.DataFrame(
                {
                    "a": [1, 2, 3, 3, None],
                    "b": [10, 10, None, 20, 30],
                }
            )
        )
        test = spark.createDataFrame(
            pd.DataFrame(
                {
                    "a": [2, 3, 4, 5, 5, None],
                    "b": [10, 40, 40, None, None, 30],
                }
            )
        )
        prof = profile.cardinality_unseen_profile(train, test, ["a", "b"])
        assert list(prof["feature"]) == ["a", "b"]
        prof = prof.set_index("feature")
        for c in ["a", "b"]:
            tr_uni = train.select(c).na.drop().distinct().count()
            te_uni = test.select(c).na.drop().distinct().count()
            unseen = profile.unseen_categories(train, test, c).count()
            rate = profile.unseen_rate_rows(train, test, c).collect()[0]["unseen_rate"]
            assert prof.loc[c, "train_nunique"] == tr_uni, c
            assert prof.loc[c, "test_nunique"] == te_uni, c
            assert prof.loc[c, "unseen_unique_categories"] == unseen, c
            assert prof.loc[c, "unseen_rate_test_rows"] == rate, c


class TestRelational:
    def test_horizontal_sum_wide(self, spark):
        # beyond wide_threshold the array-aggregate path must agree
        n_cols = 70
        pdf = pd.DataFrame(
            np.arange(50 * n_cols).reshape(50, n_cols),
            columns=[f"c{i}" for i in range(n_cols)],
        )
        df = spark.createDataFrame(pdf)
        out = df.select(
            relational.horizontal_sum([f"c{i}" for i in range(n_cols)]).alias("s")
        ).collect()
        expect = pdf.sum(axis=1).tolist()
        assert [r["s"] for r in out] == pytest.approx(expect)

    def test_quantile_buckets_monotone(self, spark):
        df = spark.range(0, 10000).select(F.col("id").cast("double").alias("v"))
        b = relational.quantile_buckets(df, "v", n=10)
        counts = b.groupBy("bucket").count().orderBy("bucket").collect()
        assert len(counts) == 10
        assert all(900 <= r["count"] <= 1100 for r in counts)

    def test_bounded_budget_pick_equals_rank_rule(self, spark):
        """The two-phase bucket-threshold pick (r12 — the l79b bounded-
        window rewrite) must be BIT-IDENTICAL to the direct unbounded
        rank rule 'first n_budget rows per key by (rkey, id)' across
        budget edge cases: zero budget, budget >= group size, budgets
        landing exactly on bucket boundaries."""
        from datafusion_cyberpolka_eda_spark.functions.hashing import (
            md5_hash64,
        )

        df = (
            spark.range(0, 5000)
            .select(
                F.col("id"),
                (F.col("id") % 7).alias("key"),
                md5_hash64(F.col("id").cast("string")).alias("rkey"),
            )
            .localCheckpoint(eager=True)
        )
        # budgets exercise 0, tiny, mid, and over-full selections
        budgets = spark.createDataFrame(
            [(0, 0), (1, 1), (2, 17), (3, 250), (4, 715), (5, 9999), (6, 714)],
            "key bigint, n_budget bigint",
        )
        got = relational.bounded_budget_pick(
            df, "key", "rkey", "id", budgets
        ).select("key", "id")
        w = Window.partitionBy("key").orderBy("rkey", "id")
        want = (
            df.withColumn("rn", F.row_number().over(w))
            .join(budgets, "key")
            .filter(F.col("rn") <= F.col("n_budget"))
            .select("key", "id")
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        # per-key counts honor least(budget, group size)
        sizes = {r["key"]: r["n"] for r in
                 df.groupBy("key").agg(F.count("*").alias("n")).collect()}
        picked = {r["key"]: r["n"] for r in
                  got.groupBy("key").agg(F.count("*").alias("n")).collect()}
        for krow in budgets.collect():
            expect = min(krow["n_budget"], sizes[krow["key"]])
            assert picked.get(krow["key"], 0) == expect


class TestWhaleAndFisher:
    def test_whale_scan_guards(self, spark):
        rng = np.random.default_rng(3)
        n = 20000
        x = rng.lognormal(10, 1, n)
        # target enriched in the x top tail
        p = np.where(x > np.quantile(x, 0.99), 0.3, 0.01)
        y = (rng.random(n) < p).astype(int)
        df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
        res = S.whale_scan(df, ["x"], ["y"], quantile=0.99, min_top=50, min_rest=1000)
        assert len(res) == 1
        row = res.iloc[0]
        assert row["lift"] > 2
        assert row["pvalue"] < 0.05


def test_foreachbatch_runs_multiple_epochs(spark, tmp_path):
    """The foreachBatch sink pattern must exercise REAL multi-epoch
    accumulation: with the source fanned into 4 files and
    maxFilesPerTrigger=1, the partials table must carry >= 2 distinct
    epochs (a single-batch run would make the rollup vacuous)."""
    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_foreachbatch_incremental,
    )

    scratch = str(tmp_path / "fb")
    out = stream_foreachbatch_incremental(
        spark, "/root/testdata/sf0.001/events.parquet", scratch
    )
    import os as _os

    # the partials are an epoch-keyed store: one directory per epoch
    partials = spark.read.option("recursiveFileLookup", "true").parquet(
        _os.path.join(scratch, "fb_partials")
    )
    assert partials.select("epoch").distinct().count() >= 2
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("user_id")
        .count()
    )
    assert out.count() == batch.count()


def test_transform_with_state_env_gate(spark):
    """transformWithStateInPandas needs google.protobuf (absent in this
    container): the operator must fail fast with NotImplementedError at
    the gate, not crash mid-query in the TWS driver worker. Where
    protobuf IS available the same call must run and match the batch
    aggregate."""
    import pytest as _pytest

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_transform_with_state_rollup,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False

    path = "/root/testdata/sf0.001/events.parquet"
    if not has_protobuf:
        with _pytest.raises(NotImplementedError):
            stream_transform_with_state_rollup(spark, path)
    else:
        got = stream_transform_with_state_rollup(spark, path)
        batch = spark.read.parquet(path).groupBy("user_id").count()
        assert got.count() == batch.count()


class TestSessionWindowBoundary:
    """Pin the session-membership boundary F.session_window uses — the
    j13 oracle replays it in batch SQL and MUST split on diff > gap
    (an event at exactly last_ts + gap MERGES into the session; Spark's
    merge test is event_ts <= session_end, inclusive). Verified here
    empirically so an engine-version change in the boundary would fail
    this test before it silently broke the j13 oracle."""

    def test_exact_gap_merges_session(self, spark):
        from pyspark.sql import functions as F

        rows = [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),  # exactly gap later -> MERGES
            (2, "2024-01-01 00:00:00"),
            (2, "2024-01-01 00:30:01"),  # past gap -> NEW session
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        out = (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
        )
        got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
        assert got == {1: 1, 2: 2}


class TestAnnIvfMulti:
    def test_multi_matches_single_query(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.similarity import (
            ann_ivf_topk,
            ann_ivf_topk_multi,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        single = {
            (r["neighbor_id"], round(r["cosine"], 9))
            for r in ann_ivf_topk(
                emb, "vec_id", "embedding", query_id=3, k=5, n_probe=8
            ).collect()
        }
        multi = {
            (r["neighbor_id"], round(r["cosine"], 9))
            for r in ann_ivf_topk_multi(
                emb, "vec_id", "embedding", query_ids=[0, 3], k=5, n_probe=8,
                max_iter=10,
            ).collect()
            if r["query_id"] == 3
        }
        assert single == multi


class TestTimeseriesGapFill:
    def test_locf_and_linear_interp(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.timeseries import (
            gap_fill,
            resample_grid,
        )

        rows = [
            # key 1: anchors at 00:xx (avg 10.0) and 03:xx (avg 40.0);
            # hours 01 and 02 are gaps -> interp 20.0 / 30.0, locf 10.0
            (1, "2024-01-01 00:10:00", 8.0),
            (1, "2024-01-01 00:50:00", 12.0),
            (1, "2024-01-01 03:30:00", 40.0),
            # key 2: single observation -> 1-row grid, no gaps
            (2, "2024-01-01 05:00:00", 7.0),
        ]
        df = spark.createDataFrame(rows, "k bigint, ts string, value double").select(
            "k", F.to_timestamp("ts").alias("ts"), "value"
        )
        out = gap_fill(resample_grid(df, "k", "ts", "value")).orderBy("key", "bucket")
        got = [
            (r["key"], r["bucket"].hour, r["v"], r["v_locf"], r["v_interp"])
            for r in out.collect()
        ]
        assert got == [
            (1, 0, 10.0, 10.0, 10.0),
            (1, 1, None, 10.0, 20.0),
            (1, 2, None, 10.0, 30.0),
            (1, 3, 40.0, 40.0, 40.0),
            (2, 5, 7.0, 7.0, 7.0),
        ]


class TestCdcApply:
    def test_compact_apply_semantics(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.cdc import cdc_apply, cdc_compact

        base = spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
            "k bigint, price double, status string",
        )
        changes = spark.createDataFrame(
            [
                (2, "U", 1, 25.0, "b"),   # superseded by seq 2
                (2, "U", 2, 29.0, "b2"),  # latest wins
                (3, "D", 1, None, None),  # delete
                (9, "I", 1, 90.0, "z"),   # insert new key
            ],
            "k bigint, op string, seq int, price double, status string",
        )
        out = cdc_apply(base, cdc_compact(changes, "k", "seq"), "k", ["price", "status"])
        got = {r["k"]: (r["price"], r["status"]) for r in out.collect()}
        assert got == {1: (10.0, "a"), 2: (29.0, "b2"), 9: (90.0, "z")}


class TestWeightedSample:
    def test_proportional_to_weight(self, spark):
        from datafusion_cyberpolka_eda_spark.functions.sampling import (
            weighted_sample_topk,
        )

        # 100 heavy keys (weight 500) among 2000 light ones (weight 1):
        # heavy mass = 50000 vs 2000 -> a k=100 sample should be
        # overwhelmingly heavy keys
        df = spark.range(0, 2100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 100, 500.0).otherwise(1.0).alias("w"),
        )
        sel = [r["k"] for r in weighted_sample_topk(df, "k", "w", k=100).collect()]
        n_heavy = sum(1 for k in sel if k < 100)
        assert n_heavy >= 85
        # deterministic: same call, same sample
        sel2 = [r["k"] for r in weighted_sample_topk(df, "k", "w", k=100).collect()]
        assert sel == sel2
        # production (xxhash64) path: same shape, also deterministic
        selx = [
            r["k"]
            for r in weighted_sample_topk(df, "k", "w", k=100, portable=False).collect()
        ]
        assert len(selx) == 100
        assert sum(1 for k in selx if k < 100) >= 85


class TestZorderLayout:
    def test_both_dim_extents_bounded(self, spark):
        """A Z-prefix file pins the top 2 bits of BOTH dimensions, so every
        file's min/max extent must be ~1/4 of each key range — the
        data-skipping property a single-dim sort cannot give the second
        dimension (its extent stays ~1)."""
        from datafusion_cyberpolka_eda_spark.registry.scale import a12_zorder_layout

        rows = a12_zorder_layout(spark, "/root/testdata/sf0.01").collect()
        assert len(rows) >= 8
        for r in rows:
            # 8-bit quantization puts a handful of boundary keys one rank
            # off; allow epsilon over the exact 1/4
            assert r["part_extent"] <= 0.27, r
            assert r["supp_extent"] <= 0.27, r

    def test_beats_single_dim_sort_on_second_dim(self, spark):
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
        # single-dim layout: 16 range-files on l_partkey -> l_suppkey extent ~1
        f = li.select(
            F.ntile(16).over(
                Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
            ).alias("file_id"),
            "l_suppkey",
        )
        ext = (
            f.groupBy("file_id")
            .agg(((F.max("l_suppkey") - F.min("l_suppkey"))).alias("span"))
            .agg(F.avg("span").alias("avg_span"))
            .collect()[0]["avg_span"]
        )
        smin, smax = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
        assert ext / (smax - smin + 1) > 0.8  # non-sorted dim: nearly full range


class TestSampledIvf:
    def test_recall_vs_exact(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.similarity import (
            ann_ivf_sampled_topk_multi,
            cosine_topk,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        qids = [0, 1, 2, 3, 4]
        ann = ann_ivf_sampled_topk_multi(
            emb, "vec_id", "embedding", query_ids=qids, k=5, n_probe=8
        )
        got: dict[int, set] = {}
        for r in ann.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact = cosine_topk(
            emb.filter(F.col("vec_id") < 5), emb, id_col="vec_id",
            vec_col="embedding", k=5,
        )
        es: dict[int, set] = {}
        for r in exact.collect():
            es.setdefault(r["query_id"], set()).add(r["candidate_id"])
        recall = sum(len(got.get(q, set()) & es[q]) / 5 for q in qids) / 5
        assert recall >= 0.6
        # deterministic: bounded-sample training + expression assignment
        ann2 = ann_ivf_sampled_topk_multi(
            emb, "vec_id", "embedding", query_ids=qids, k=5, n_probe=8
        )
        assert sorted(map(tuple, ann.collect())) == sorted(map(tuple, ann2.collect()))

    def test_trained_centroids_are_unit_norm(self, spark):
        import numpy as np

        from datafusion_cyberpolka_eda_spark.operators.similarity import (
            train_centroids_on_sample,
            unit_vec_df,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        c = train_centroids_on_sample(unit_vec_df(emb, "vec_id", "embedding"), 16, 256)
        assert c.shape == (16, 64)
        np.testing.assert_allclose(np.linalg.norm(c, axis=1), 1.0, rtol=1e-9)


class TestResampleGridUnits:
    def test_day_step_truncates_to_day(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.timeseries import (
            resample_grid,
        )

        rows = [(1, "2024-03-01 09:00:00", 1.0), (1, "2024-03-04 17:00:00", 4.0)]
        df = spark.createDataFrame(rows, "k bigint, ts string, value double").select(
            "k", F.to_timestamp("ts").alias("ts"), "value"
        )
        out = resample_grid(df, "k", "ts", "value", step="1 day").orderBy("bucket")
        got = [(r["bucket"].day, r["v"]) for r in out.collect()]
        assert got == [(1, 1.0), (2, None), (3, None), (4, 4.0)]


class TestCdcNullUpdate:
    def test_update_to_null_wins_over_snapshot(self, spark):
        """An update that sets a column to NULL must not resurrect the
        snapshot value (op-presence selection, not value coalesce)."""
        from datafusion_cyberpolka_eda_spark.operators.cdc import cdc_apply, cdc_compact

        base = spark.createDataFrame(
            [(1, "a@x.com"), (2, "b@x.com")], "k bigint, email string"
        )
        changes = spark.createDataFrame(
            [(1, "U", 1, None)], "k bigint, op string, seq int, email string"
        )
        out = cdc_apply(base, cdc_compact(changes, "k", "seq"), "k", ["email"])
        got = {r["k"]: r["email"] for r in out.collect()}
        assert got == {1: None, 2: "b@x.com"}

    def test_custom_op_column_name(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.cdc import cdc_compact

        ch = spark.createDataFrame(
            [(1, "U", 1, 5.0), (1, "D", 2, None)],
            "k bigint, operation string, seq int, v double",
        )
        top = cdc_compact(ch, "k", "seq", op_col="operation").collect()
        assert len(top) == 1 and top[0]["operation"] == "D"


class TestOperatorGuards:
    def test_multi_count_step_requires_bucket_unit(self, spark):
        import pytest as _pytest

        from datafusion_cyberpolka_eda_spark.operators.timeseries import (
            resample_grid,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1.0)], "k bigint, ts string, value double"
        ).select("k", F.to_timestamp("ts").alias("ts"), "value")
        with _pytest.raises(ValueError, match="bucket_unit"):
            resample_grid(df, "k", "ts", "value", step="6 hours")
        # explicit coarser anchor is fine
        resample_grid(df, "k", "ts", "value", step="6 hours", bucket_unit="day")

    def test_weighted_sample_excludes_nonpositive_weights(self, spark):
        from datafusion_cyberpolka_eda_spark.functions.sampling import (
            weighted_sample_topk,
        )

        df = spark.createDataFrame(
            [(1, 0.0), (2, -5.0), (3, 1.0), (4, 2.0)], "k bigint, w double"
        )
        sel = {r["k"] for r in weighted_sample_topk(df, "k", "w", k=4).collect()}
        assert sel == {3, 4}


class TestAdaptiveCentroids:
    def test_sqrt_rule_with_floor_and_cap(self):
        from datafusion_cyberpolka_eda_spark.operators.similarity import (
            adaptive_n_centroids,
        )

        assert adaptive_n_centroids(0) == 8          # floor
        assert adaptive_n_centroids(100) == 10
        assert adaptive_n_centroids(10_000) == 100
        assert adaptive_n_centroids(10_000, cap=64) == 64   # site cap
        assert adaptive_n_centroids(1_000_000, cap=128) == 128

    def test_neardup_bucketed_adaptive_matches_explicit(self, spark):
        """The adaptive default must equal passing the rule's value
        explicitly — the rule is a default, not a behavior fork."""
        from datafusion_cyberpolka_eda_spark.operators.dedup import (
            embedding_neardup_bucketed,
        )
        from datafusion_cyberpolka_eda_spark.operators.similarity import (
            adaptive_n_centroids,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
            F.col("vec_id") % 5 == 0
        )
        n_cent = adaptive_n_centroids(emb.count(), cap=128)
        auto = sorted(
            map(tuple, embedding_neardup_bucketed(
                emb, "vec_id", "embedding", threshold=0.25, n_probe=4
            ).collect())
        )
        explicit = sorted(
            map(tuple, embedding_neardup_bucketed(
                emb, "vec_id", "embedding", threshold=0.25,
                n_centroids=n_cent, n_probe=4,
            ).collect())
        )
        assert auto == explicit and len(auto) > 0

    def test_arrow_cell_assignment_matches_literal_path(self, spark):
        """Forcing the Arrow matmul assignment through the same centroids
        as the literal-expression path must produce the same near-dup
        pairs (exact verify keeps precision exact; assignment parity
        keeps candidates identical away from fp ties)."""
        from datafusion_cyberpolka_eda_spark.operators import dedup as D
        from datafusion_cyberpolka_eda_spark.operators import similarity as SIM
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
            F.col("vec_id") % 5 == 0
        )
        lit_pairs = sorted(
            (r["id_a"], r["id_b"])
            for r in D.embedding_neardup_bucketed(
                emb, "vec_id", "embedding", threshold=0.25,
                n_centroids=16, n_probe=4,
            ).collect()
        )
        orig_cap = SIM._LITERAL_CELL_CAP
        SIM._LITERAL_CELL_CAP = 1  # force the Arrow branch
        try:
            arrow_pairs = sorted(
                (r["id_a"], r["id_b"])
                for r in D.embedding_neardup_bucketed(
                    emb, "vec_id", "embedding", threshold=0.25,
                    n_centroids=16, n_probe=4,
                ).collect()
            )
        finally:
            SIM._LITERAL_CELL_CAP = orig_cap
        assert len(lit_pairs) > 0
        assert arrow_pairs == lit_pairs
