"""End-to-end EDA pipeline test on the synthetic fixture (FIXTURES.md §A):
artifact schema contract (headers of all 29 tables, locked against the
reference's public_tables/), exact-tier value checks vs pandas oracles, and
behavioral properties of the statistical stages."""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from datafusion_cyberpolka_eda_spark.pipeline.eda import EdaConfig, run_pipeline
from datafusion_cyberpolka_eda_spark.pipeline.fixtures import generate_eda_fixture

# header contract per artifact (FIXTURES.md §A5; reference public_tables/)
EXPECTED_HEADERS = {
    "target_stats.csv": ["target", "family", "positive_count", "positive_rate"],
    "target_family_stats.csv": ["family", "n_targets", "mean_rate", "min_rate", "max_rate"],
    "opened_targets_distribution.csv": ["opened_targets", "count", "share"],
    "target_pair_stats.csv": [
        "target_a", "target_b", "corr", "co_count", "co_rate",
        "expected_independent_rate", "pair_lift",
    ],
    "top_positive_target_pairs.csv": None,  # same as pair_stats
    "top_negative_target_pairs.csv": None,
    "top_cooccurrence_lift_pairs.csv": None,
    "target_10_1_profile.csv": ["other_target", "correlation", "abs_correlation"],
    "target_cluster_quality.csv": [
        "k", "silhouette_precomputed", "largest_cluster_share",
        "min_cluster_size", "max_cluster_size",
    ],
    "target_clusters_k4.csv": ["target", "cluster_k4", "family"],
    "target_cluster_summary.csv": [
        "cluster_k4", "n_targets", "avg_abs_corr_inside", "dominant_family",
        "dominant_family_share", "targets",
    ],
    "extra_missingness_summary.csv": ["feature", "null_rate", "source", "feature_type"],
    "feature_missingness_summary.csv": ["feature", "null_rate", "source", "feature_type"],
    "top10_missing_features.csv": ["feature", "null_rate", "source", "feature_type"],
    "extra_missingness_bands.csv": ["band", "count"],
    "filled_extra_count_deciles.csv": [
        "decile", "n", "avg_filled", "min_filled", "max_filled", "target_rate",
    ],
    "missing_indicator_auc_popular_targets.csv": [
        "target", "feature", "auc_single_feature", "auc_effective",
        "null_rate", "missing_rate_indicator",
    ],
    "categorical_cardinality.csv": ["feature", "train_nunique", "test_nunique"],
    "categorical_unseen_categories.csv": [
        "feature", "unseen_unique_categories", "unseen_rate_test_rows",
    ],
    "feature_target_linear_corr.csv": [
        "target", "feature", "pearson_corr", "abs_corr", "feature_type",
        "source", "null_rate",
    ],
    "target_top10_features_linear.csv": None,
    "golden_linear_top5_selected_targets.csv": None,
    "target_top10_feature_mix.csv": [
        "target", "mean_abs_corr_top10", "n_cat_top10", "n_num_top10",
        "n_main_top10", "n_extra_top10",
    ],
    "feature_universality_top10.csv": [
        "feature", "n_targets_top10", "mean_abs_corr_when_top10",
        "max_abs_corr_when_top10",
    ],
    "feature_signal_summary.csv": [
        "feature", "max_abs_corr", "mean_abs_corr", "n_targets_abs_corr_gt_005",
        "n_targets_abs_corr_gt_010", "source", "feature_type", "null_rate",
    ],
    "whale_signals.csv": ["target", "feature", "top1_rate", "rest99_rate", "lift", "pvalue"],
    "whale_feature_candidates.csv": [
        "feature", "n_rare_targets", "median_lift", "max_lift", "min_pvalue",
    ],
    "whale_top3_per_target.csv": ["target", "feature", "top1_rate", "rest99_rate", "lift", "pvalue"],
}

SUMMARY_KEYS = [
    "rows_train", "rows_test", "n_targets", "n_features_main", "n_features_extra",
    "targets_lt_1pct", "targets_lt_01pct", "targets_lt_50", "min_positive_count",
    "target_10_1_negative_share", "target_10_1_mean_corr", "filled_extra_count_auc",
    "filled_extra_count_pointbiserial", "adversarial_auc_main_features",
    "cat_features_with_unseen_in_test", "max_unseen_rate_test_rows",
    "clear_4_target_clusters", "k4_silhouette", "k4_largest_cluster_share",
    "significant_whale_pairs", "n_features_screened_linear", "screen_sample_rows",
]


def _test_config() -> EdaConfig:
    return EdaConfig(
        whale_sample_pct=100,  # 20k rows: 12% would break the top>=50 guard
        min_co_count_lift=20,  # ref's 100 is tuned to 750k rows
        adv_max_iter=15,  # keep the GBT cheap in tests
    )


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("eda_data"))
    out_dir = str(tmp_path_factory.mktemp("eda_out"))
    generate_eda_fixture(data_dir, n_train=20000, n_test=6000, seed=42)
    summary = run_pipeline(spark, data_dir, out_dir, _test_config())
    return data_dir, out_dir, summary


class TestArtifactContract:
    def test_all_artifacts_exist_with_headers(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        tdir = os.path.join(out_dir, "public_tables")
        pair_header = EXPECTED_HEADERS["target_pair_stats.csv"]
        linear_header = EXPECTED_HEADERS["feature_target_linear_corr.csv"]
        fallbacks = {
            "top_positive_target_pairs.csv": pair_header,
            "top_negative_target_pairs.csv": pair_header,
            "top_cooccurrence_lift_pairs.csv": pair_header,
            "target_top10_features_linear.csv": linear_header,
            "golden_linear_top5_selected_targets.csv": linear_header,
        }
        for fname, header in EXPECTED_HEADERS.items():
            path = os.path.join(tdir, fname)
            assert os.path.exists(path), f"missing artifact {fname}"
            got = list(pd.read_csv(path).columns)
            want = header or fallbacks[fname]
            assert got == want, f"{fname}: header {got} != {want}"
        # corr matrix: index column + one column per target
        cm = pd.read_csv(os.path.join(tdir, "target_correlation_matrix.csv"), index_col=0)
        assert list(cm.index) == list(cm.columns)
        assert os.path.exists(os.path.join(out_dir, "EDA_REPORT.md"))

    def test_summary_keys(self, pipeline_run):
        _, out_dir, summary = pipeline_run
        with open(os.path.join(out_dir, "public_tables", "summary.json")) as fh:
            on_disk = json.load(fh)
        assert list(on_disk.keys()) == SUMMARY_KEYS
        assert on_disk == {k: summary[k] for k in on_disk}


class TestExactTier:
    """Full-data stats must match a pandas oracle exactly (SURVEY.md §5.3)."""

    def test_target_stats_exact(self, pipeline_run):
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(os.path.join(out_dir, "public_tables", "target_stats.csv"))
        ref = pd.read_parquet(os.path.join(data_dir, "train_target.parquet"))
        for _, row in got.iterrows():
            assert row["positive_count"] == int(ref[row["target"]].sum())
            assert row["positive_rate"] == pytest.approx(
                ref[row["target"]].mean(), rel=1e-12
            )

    def test_null_rates_exact(self, pipeline_run):
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "extra_missingness_summary.csv")
        )
        ref = pd.read_parquet(os.path.join(data_dir, "train_extra_features.parquet"))
        for _, row in got.iterrows():
            assert row["null_rate"] == pytest.approx(
                ref[row["feature"]].isna().mean(), abs=1e-15
            )

    def test_corr_matrix_vs_pandas(self, pipeline_run):
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "target_correlation_matrix.csv"),
            index_col=0,
        )
        ref = (
            pd.read_parquet(os.path.join(data_dir, "train_target.parquet"))
            .drop(columns=["customer_id"])
            .corr(method="pearson")
        )
        np.testing.assert_allclose(
            got.to_numpy(), ref.loc[got.index, got.columns].to_numpy(), rtol=1e-9, atol=1e-9
        )

    def test_opened_distribution_sums_to_n(self, pipeline_run):
        _, out_dir, summary = pipeline_run
        dist = pd.read_csv(
            os.path.join(out_dir, "public_tables", "opened_targets_distribution.csv")
        )
        assert dist["count"].sum() == summary["rows_train"]
        assert dist["share"].sum() == pytest.approx(1.0, rel=1e-12)

    def test_pair_stats_vs_pandas(self, pipeline_run):
        """Pair lift/co-occurrence (ref public_eda_pipeline.py:147-173):
        every value in target_pair_stats.csv reproduced from a pandas
        oracle on the same fixture — full-data-deterministic tier."""
        data_dir, out_dir, summary = pipeline_run
        got = pd.read_csv(os.path.join(out_dir, "public_tables", "target_pair_stats.csv"))
        y = pd.read_parquet(os.path.join(data_dir, "train_target.parquet")).drop(
            columns=["customer_id"]
        )
        n = len(y)
        corr = y.corr(method="pearson")
        assert len(got) == y.shape[1] * (y.shape[1] - 1) // 2
        for _, row in got.iterrows():
            a, b = row["target_a"], row["target_b"]
            co = int((y[a] * y[b]).sum())
            pa, pb = y[a].mean(), y[b].mean()
            assert row["co_count"] == co
            assert row["co_rate"] == pytest.approx(co / n, rel=1e-12)
            assert row["expected_independent_rate"] == pytest.approx(pa * pb, rel=1e-12)
            assert row["pair_lift"] == pytest.approx((co / n) / (pa * pb), rel=1e-9)
            assert row["corr"] == pytest.approx(corr.loc[a, b], rel=1e-9, abs=1e-9)

    def test_missingness_bands_vs_pandas(self, pipeline_run):
        """Missingness band counts (ref public_eda_pipeline.py:269-280)
        reproduced exactly from pandas null rates on the fixture."""
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "extra_missingness_bands.csv")
        )
        ref = pd.read_parquet(os.path.join(data_dir, "train_extra_features.parquet"))
        r = ref.drop(columns=["customer_id"]).isna().mean()
        want = {
            ">99%": int((r > 0.99).sum()),
            ">95%": int((r > 0.95).sum()),
            ">90%": int((r > 0.90).sum()),
            "50-90%": int(((r > 0.50) & (r <= 0.90)).sum()),
            "10-50%": int(((r > 0.10) & (r <= 0.50)).sum()),
            "<=10%": int((r <= 0.10).sum()),
        }
        assert dict(zip(got["band"], got["count"])) == want

    def test_opened_distribution_vs_pandas(self, pipeline_run):
        """Opened-target histogram (ref public_eda_pipeline.py:126-135):
        exact per-value counts and shares, not just totals."""
        data_dir, out_dir, summary = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "opened_targets_distribution.csv")
        )
        y = pd.read_parquet(os.path.join(data_dir, "train_target.parquet")).drop(
            columns=["customer_id"]
        )
        want = y.sum(axis=1).value_counts().sort_index()
        assert list(got["opened_targets"]) == list(want.index)
        assert list(got["count"]) == list(want.values)
        for _, row in got.iterrows():
            assert row["share"] == pytest.approx(
                row["count"] / summary["rows_train"], rel=1e-12
            )

    def test_family_stats_vs_pandas(self, pipeline_run):
        """Family rollup (ref public_eda_pipeline.py:106-116): group
        count/mean/min/max of positive rates reproduced exactly."""
        data_dir, out_dir, summary = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "target_family_stats.csv"),
            dtype={"family": str},
        )
        y = pd.read_parquet(os.path.join(data_dir, "train_target.parquet")).drop(
            columns=["customer_id"]
        )
        rates = y.mean()
        fam = pd.DataFrame(
            {
                "family": [t.split("_")[1] for t in rates.index],
                "rate": rates.values,
            }
        ).groupby("family")["rate"]
        for _, row in got.iterrows():
            f = str(row["family"])
            assert row["n_targets"] == fam.count()[f]
            assert row["mean_rate"] == pytest.approx(fam.mean()[f], rel=1e-12)
            assert row["min_rate"] == pytest.approx(fam.min()[f], rel=1e-12)
            assert row["max_rate"] == pytest.approx(fam.max()[f], rel=1e-12)

    def test_antagonist_profile_vs_pandas(self, pipeline_run):
        """Per-target correlation profile artifact equals the pandas corr
        row for the antagonist target, sorted by |corr| desc."""
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "target_10_1_profile.csv")
        )
        y = pd.read_parquet(os.path.join(data_dir, "train_target.parquet")).drop(
            columns=["customer_id"]
        )
        ref = y.corr(method="pearson")[cfg_anti()].drop(cfg_anti())
        assert set(got["other_target"]) == set(ref.index)
        assert list(got["abs_correlation"]) == sorted(
            got["abs_correlation"], reverse=True
        )
        for _, row in got.iterrows():
            assert row["correlation"] == pytest.approx(
                ref[row["other_target"]], rel=1e-9, abs=1e-9
            )
            assert row["abs_correlation"] == pytest.approx(
                abs(ref[row["other_target"]]), rel=1e-9, abs=1e-9
            )

    def test_feature_missingness_summary_vs_pandas(self, pipeline_run):
        """Combined main+extra missingness table: exact null rates and
        source/type labels for every feature (ref 249-264)."""
        data_dir, out_dir, _ = pipeline_run
        got = pd.read_csv(
            os.path.join(out_dir, "public_tables", "feature_missingness_summary.csv")
        )
        main = pd.read_parquet(os.path.join(data_dir, "train_main_features.parquet"))
        extra = pd.read_parquet(os.path.join(data_dir, "train_extra_features.parquet"))
        assert len(got) == (main.shape[1] - 1) + (extra.shape[1] - 1)
        for _, row in got.iterrows():
            src = main if row["source"] == "main" else extra
            assert row["null_rate"] == pytest.approx(
                src[row["feature"]].isna().mean(), abs=1e-15
            )
            want_type = "cat" if row["feature"].startswith("cat_feature_") else "num"
            assert row["feature_type"] == want_type

    def test_cardinality_and_unseen_vs_pandas(self, pipeline_run):
        data_dir, out_dir, _ = pipeline_run
        train = pd.read_parquet(os.path.join(data_dir, "train_main_features.parquet"))
        test = pd.read_parquet(os.path.join(data_dir, "test_main_features.parquet"))
        card = pd.read_csv(
            os.path.join(out_dir, "public_tables", "categorical_cardinality.csv")
        )
        for _, row in card.iterrows():
            assert row["train_nunique"] == train[row["feature"]].nunique()
            assert row["test_nunique"] == test[row["feature"]].nunique()
        unseen = pd.read_csv(
            os.path.join(out_dir, "public_tables", "categorical_unseen_categories.csv")
        )
        for _, row in unseen.iterrows():
            tr = set(train[row["feature"]].dropna())
            te = test[row["feature"]].dropna()
            assert row["unseen_unique_categories"] == len(set(te) - tr)
            assert row["unseen_rate_test_rows"] == pytest.approx(
                float(np.mean([v not in tr for v in te])), abs=1e-12
            )


class TestDerivedArtifactsExact:
    """Exact-value checks for every derived artifact (SURVEY §5.3 full-data-
    deterministic tier): each is recomputed from its SIBLING artifacts with
    the reference's own pandas recipe (ref public_eda_pipeline.py:196-230,
    269-280, 500-620) and must match what the pipeline saved. CSV float
    round-trip is exact (shortest-repr), so tolerances are representation-
    level only."""

    @staticmethod
    def _tbl(out_dir, name):
        return pd.read_csv(os.path.join(out_dir, "public_tables", name))

    @staticmethod
    def _eq(got, want):
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True),
            want.reset_index(drop=True),
            rtol=1e-12,
            atol=0,
        )

    def test_pair_slices_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        pair_df = self._tbl(out_dir, "target_pair_stats.csv")
        self._eq(
            self._tbl(out_dir, "top_positive_target_pairs.csv"),
            pair_df.sort_values("corr", ascending=False).head(30),
        )
        self._eq(
            self._tbl(out_dir, "top_negative_target_pairs.csv"),
            pair_df.sort_values("corr", ascending=True).head(30),
        )
        self._eq(
            self._tbl(out_dir, "top_cooccurrence_lift_pairs.csv"),
            pair_df[pair_df["co_count"] >= 20]  # cfg.min_co_count_lift
            .sort_values("pair_lift", ascending=False)
            .head(30),
        )

    def test_cluster_summary_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        corr = pd.read_csv(
            os.path.join(out_dir, "public_tables", "target_correlation_matrix.csv"),
            index_col=0,
        )
        assign = self._tbl(out_dir, "target_clusters_k4.csv")
        rows = []
        for cl_id, g in assign.groupby("cluster_k4"):
            ts = g["target"].tolist()
            if len(ts) > 1:
                sub = corr.loc[ts, ts].to_numpy(dtype=float)
                iu = np.triu_indices(len(ts), k=1)
                avg_abs = float(np.abs(sub[iu]).mean())
            else:
                avg_abs = np.nan
            fam_mode = g["family"].value_counts(normalize=True)
            rows.append(
                {
                    "cluster_k4": int(cl_id),
                    "n_targets": len(ts),
                    "avg_abs_corr_inside": avg_abs,
                    # family round-trips through CSV as its parsed dtype;
                    # keep it so both sides compare in the same type
                    "dominant_family": fam_mode.index[0],
                    "dominant_family_share": float(fam_mode.iloc[0]),
                    "targets": ", ".join(sorted(ts)),
                }
            )
        want = pd.DataFrame(rows).sort_values("n_targets", ascending=False)
        self._eq(self._tbl(out_dir, "target_cluster_summary.csv"), want)

    def test_top10_missing_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        extra = self._tbl(out_dir, "extra_missingness_summary.csv")
        self._eq(self._tbl(out_dir, "top10_missing_features.csv"), extra.head(10))

    def test_linear_screen_slices_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        linear = self._tbl(out_dir, "feature_target_linear_corr.csv")
        top10 = linear.groupby("target", as_index=False).head(10)
        self._eq(self._tbl(out_dir, "target_top10_features_linear.csv"), top10)

        mix_rows = []
        for t, g in top10.groupby("target"):
            mix_rows.append(
                {
                    "target": t,
                    "mean_abs_corr_top10": float(g["abs_corr"].mean()),
                    "n_cat_top10": int((g["feature_type"] == "cat").sum()),
                    "n_num_top10": int((g["feature_type"] == "num").sum()),
                    "n_main_top10": int((g["source"] == "main").sum()),
                    "n_extra_top10": int((g["source"] == "extra").sum()),
                }
            )
        want_mix = pd.DataFrame(mix_rows).sort_values(
            "mean_abs_corr_top10", ascending=False
        )
        self._eq(self._tbl(out_dir, "target_top10_feature_mix.csv"), want_mix)

        want_uni = (
            top10.groupby("feature", as_index=False)
            .agg(
                n_targets_top10=("target", "nunique"),
                mean_abs_corr_when_top10=("abs_corr", "mean"),
                max_abs_corr_when_top10=("abs_corr", "max"),
            )
            .sort_values(
                ["n_targets_top10", "mean_abs_corr_when_top10"],
                ascending=[False, False],
            )
        )
        self._eq(self._tbl(out_dir, "feature_universality_top10.csv"), want_uni)

    def test_feature_signal_summary_aggregates_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        linear = self._tbl(out_dir, "feature_target_linear_corr.csv")
        got = self._tbl(out_dir, "feature_signal_summary.csv")
        want = (
            linear.groupby("feature", as_index=False)
            .agg(
                max_abs_corr=("abs_corr", "max"),
                mean_abs_corr=("abs_corr", "mean"),
                n_targets_abs_corr_gt_005=("abs_corr", lambda s: int((s > 0.05).sum())),
                n_targets_abs_corr_gt_010=("abs_corr", lambda s: int((s > 0.10).sum())),
            )
            .sort_values(["max_abs_corr", "mean_abs_corr"], ascending=[False, False])
        )
        self._eq(
            got[["feature", "max_abs_corr", "mean_abs_corr",
                 "n_targets_abs_corr_gt_005", "n_targets_abs_corr_gt_010"]],
            want,
        )
        # metadata columns agree row-by-row with the per-pair table
        meta = linear.drop_duplicates("feature").set_index("feature")
        for _, row in got.iterrows():
            assert row["source"] == meta.loc[row["feature"], "source"]
            assert row["feature_type"] == meta.loc[row["feature"], "feature_type"]

    def test_golden_top5_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        from datafusion_cyberpolka_eda_spark.pipeline.eda import EdaConfig

        linear = self._tbl(out_dir, "feature_target_linear_corr.csv")
        sel = [t for t in EdaConfig().selected_targets if t in set(linear["target"])]
        want = (
            linear[linear["target"].isin(sel)].groupby("target", as_index=False).head(5)
        )
        self._eq(self._tbl(out_dir, "golden_linear_top5_selected_targets.csv"), want)

    def test_whale_slices_exact(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        sig = self._tbl(out_dir, "whale_signals.csv")
        assert len(sig)  # the fixture plants whale signal; slices non-trivial
        want_cand = (
            sig.groupby("feature", as_index=False)
            .agg(
                n_rare_targets=("target", "nunique"),
                median_lift=("lift", "median"),
                max_lift=("lift", "max"),
                min_pvalue=("pvalue", "min"),
            )
            .sort_values(["n_rare_targets", "median_lift"], ascending=[False, False])
        )
        self._eq(self._tbl(out_dir, "whale_feature_candidates.csv"), want_cand)
        self._eq(
            self._tbl(out_dir, "whale_top3_per_target.csv"),
            sig.groupby("target", as_index=False).head(3),
        )


class TestBehavioral:
    def test_antagonist_pattern(self, pipeline_run):
        _, _, summary = pipeline_run
        # target_10_1 never co-occurs -> negatively correlated with ALL others
        assert summary["target_10_1_negative_share"] == 1.0
        assert summary["target_10_1_mean_corr"] < 0

    def test_pair_lift_structure(self, pipeline_run):
        _, out_dir, _ = pipeline_run
        pairs = pd.read_csv(os.path.join(out_dir, "public_tables", "target_pair_stats.csv"))
        strong = pairs[
            (pairs["target_a"] == "target_5_1") & (pairs["target_b"] == "target_5_2")
        ]
        assert len(strong) == 1
        assert strong.iloc[0]["pair_lift"] > 5
        assert strong.iloc[0]["corr"] > 0.2
        anti = pairs[(pairs["target_a"] == cfg_anti()) | (pairs["target_b"] == cfg_anti())]
        assert (anti["co_count"] == 0).all()

    def test_filled_count_signal(self, pipeline_run):
        _, _, summary = pipeline_run
        assert summary["filled_extra_count_auc"] > 0.55
        assert summary["filled_extra_count_pointbiserial"] > 0.05

    def test_adversarial_no_shift(self, pipeline_run):
        _, _, summary = pipeline_run
        assert 0.40 <= summary["adversarial_auc_main_features"] <= 0.62

    def test_unseen_categories_detected(self, pipeline_run):
        _, _, summary = pipeline_run
        assert summary["cat_features_with_unseen_in_test"] == 2
        assert 0 < summary["max_unseen_rate_test_rows"] < 0.01

    def test_whale_signals_found(self, pipeline_run):
        _, out_dir, summary = pipeline_run
        assert summary["significant_whale_pairs"] > 0
        sig = pd.read_csv(os.path.join(out_dir, "public_tables", "whale_signals.csv"))
        # the fixture enriches target_3_2 in num_feature_1's top tail
        hit = sig[(sig["target"] == "target_3_2") & (sig["feature"] == "num_feature_1")]
        assert len(hit) == 1
        assert hit.iloc[0]["lift"] >= 2
        assert hit.iloc[0]["pvalue"] < 0.05

    def test_rare_targets_guarded(self, pipeline_run):
        _, _, summary = pipeline_run
        assert summary["targets_lt_50"] == 0
        assert summary["min_positive_count"] >= 50


def cfg_anti() -> str:
    return "target_10_1"


def test_small_fixture_regeneration_is_deterministic(tmp_path):
    """pipeline_summary's oracle reads the COMMITTED fixtures/eda_small
    parquet; the query regenerates it on a bare checkout. Both paths must
    hold the same values or the oracle comparison would drift."""
    import numpy as np

    from datafusion_cyberpolka_eda_spark.pipeline.fixtures import (
        generate_eda_fixture,
    )
    from datafusion_cyberpolka_eda_spark.registry.pipeline import FIXTURE_DIR

    regen = generate_eda_fixture(str(tmp_path), n_train=6000, n_test=2000, seed=7)
    for name, path in regen.items():
        committed = pd.read_parquet(os.path.join(str(FIXTURE_DIR), f"{name}.parquet"))
        fresh = pd.read_parquet(path)
        assert list(committed.columns) == list(fresh.columns), name
        for c in committed.columns:
            a, b = committed[c].to_numpy(), fresh[c].to_numpy()
            if a.dtype.kind == "f":
                assert np.array_equal(a, b, equal_nan=True), (name, c)
            else:
                assert np.array_equal(a, b), (name, c)


# ---- the stage graph: reruns, job groups, failure cleanup ----------------


@pytest.fixture(scope="module")
def grouped_rerun(spark, pipeline_run, tmp_path_factory):
    """A second run over pipeline_run's fixture, under a caller job group;
    returns (out_dir, summary, jobs in the group, new jobs in no group)."""
    data_dir, _, _ = pipeline_run
    out_dir = str(tmp_path_factory.mktemp("eda_rerun"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    first_job = sc._jsc.sc().dagScheduler().nextJobId()
    sc.setJobGroup("eda-test", "stage-graph rerun")
    try:
        summary = run_pipeline(spark, data_dir, out_dir, _test_config())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    run_jobs = set(range(first_job, sc._jsc.sc().dagScheduler().nextJobId()))
    _wait_for_job_events(spark)
    grouped = set(tracker.getJobIdsForGroup("eda-test"))
    ungrouped_new = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    return out_dir, summary, grouped, ungrouped_new, run_jobs


def _wait_for_job_events(spark) -> None:
    """The status tracker hears of jobs through the listener bus,
    asynchronously; wait until it has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# the stages that finish on the driver after one Spark action each
DRIVER_FINISHED_STAGES = (
    "filled_count", "cardinality_unseen", "linear_screen", "indicator_auc", "whale",
)


INPUT_TABLES = ("train_main_features", "test_main_features", "train_extra_features", "train_target")


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.fixture(scope="module")
def stage_job_counts(spark, pipeline_run, tmp_path_factory):
    """A run over pipeline_run's fixture with each stage's jobs under a job
    group of its own; returns {stage name: jobs it submitted}. After each
    stage returns, the hook asserts that the session's cache manager holds
    what it held before the run (nothing, run alone) and no input table:
    no stage caches."""
    from dataclasses import replace

    from pyspark import StorageLevel

    from datafusion_cyberpolka_eda_spark.pipeline import eda

    sc = spark.sparkContext
    run_stages = eda._run_stages
    cached_before = _cached_entries(spark)
    # opened here: a read in a stage thread would count as that stage's job
    inputs = [
        spark.read.parquet(os.path.join(pipeline_run[0], f"{t}.parquet")) for t in INPUT_TABLES
    ]

    def in_own_group(stage):
        def fn(*args):
            # the stage thread's own copy of the local properties
            sc.setJobGroup(f"eda-stage-{stage.name}", stage.name)
            out = stage.fn(*args)
            assert _cached_entries(spark) == cached_before, f"{stage.name} cached"
            assert all(df.storageLevel == StorageLevel.NONE for df in inputs), stage.name
            return out

        return replace(stage, fn=fn)

    def grouped_run_stages(spark_, stages):
        return run_stages(spark_, [in_own_group(s) for s in stages])

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(eda, "_run_stages", grouped_run_stages)
        summary = run_pipeline(
            spark, pipeline_run[0], str(tmp_path_factory.mktemp("eda_stage_jobs")),
            _test_config(),
        )
    _wait_for_job_events(spark)
    tracker = sc.statusTracker()
    return {
        name: len(tracker.getJobIdsForGroup(f"eda-stage-{name}"))
        for name in summary["stage_spans"]
    }


class _GraphCaptured(Exception):
    pass


def _pipeline_graph(spark, data_dir: str, out_dir: str, monkeypatch) -> dict:
    """{stage name: its inputs} as run_pipeline declares them; no stage runs."""
    from datafusion_cyberpolka_eda_spark.pipeline import eda

    graph = {}

    def capture(spark_, stages):
        graph.update({s.name: s.inputs for s in stages})
        raise _GraphCaptured

    monkeypatch.setattr(eda, "_run_stages", capture)
    with pytest.raises(_GraphCaptured):
        run_pipeline(spark, data_dir, out_dir, _test_config())
    return graph


def _read(directory: str, name: str) -> bytes:
    with open(os.path.join(directory, name), "rb") as fh:
        return fh.read()


def _assert_inputs_uncached(spark, data_dir: str) -> None:
    from pyspark import StorageLevel

    for table in INPUT_TABLES:
        df = spark.read.parquet(os.path.join(data_dir, f"{table}.parquet"))
        assert df.storageLevel == StorageLevel.NONE, table


class TestStageGraph:
    def test_run_leaves_its_inputs_uncached(self, spark, grouped_rerun, pipeline_run):
        _assert_inputs_uncached(spark, pipeline_run[0])

    def test_rerun_is_byte_identical(self, pipeline_run, grouped_rerun):
        _, out_a, _ = pipeline_run
        out_b = grouped_rerun[0]
        ta, tb = os.path.join(out_a, "public_tables"), os.path.join(out_b, "public_tables")
        csvs = sorted(f for f in os.listdir(ta) if f.endswith(".csv"))
        assert len(csvs) == 29
        assert sorted(f for f in os.listdir(tb) if f.endswith(".csv")) == csvs
        for name in csvs:
            assert _read(ta, name) == _read(tb, name), name
        assert _read(ta, "summary.json") == _read(tb, "summary.json")
        assert _read(out_a, "EDA_REPORT.md") == _read(out_b, "EDA_REPORT.md")

    def test_every_job_keeps_the_callers_job_group(self, grouped_rerun):
        _, _, grouped, ungrouped_new, run_jobs = grouped_rerun
        assert run_jobs  # every stage's jobs, the GBT's one included
        assert grouped == run_jobs
        assert ungrouped_new == set()

    def test_driver_finished_stages_make_one_action_each(self, stage_job_counts):
        # one action each; AQE runs each shuffle or broadcast stage below
        # it as a job of its own
        assert {n: stage_job_counts[n] for n in DRIVER_FINISHED_STAGES} == {
            "filled_count": 2,
            "cardinality_unseen": 2,
            "linear_screen": 3,
            "indicator_auc": 2,
            "whale": 2,
        }

    def test_scans_profile_in_their_own_stages_and_nothing_caches(self, stage_job_counts):
        # the stage_job_counts hook found the cache manager unchanged after
        # every stage; a read opens its scan with Spark's schema job only
        reads = [n for n in stage_job_counts if n.startswith("read_")]
        assert len(reads) == 4
        assert {n: stage_job_counts[n] for n in reads} == {n: 1 for n in reads}
        # the null rates and row counts come from the profile stages, the
        # positive counts from target_moments (each an aggregate: its
        # shuffle stage and its result), so missingness and inventory make
        # no job
        assert {
            n: stage_job_counts[n]
            for n in (
                "profile_train_main", "profile_test_main", "profile_train_extra",
                "target_moments", "missingness", "inventory_targets",
            )
        } == {
            "profile_train_main": 2,
            "profile_test_main": 2,
            "profile_train_extra": 2,
            "target_moments": 2,
            "missingness": 0,
            "inventory_targets": 0,
        }

    def test_scan_only_stages_wait_for_no_profile(self, spark, pipeline_run, tmp_path, monkeypatch):
        graph = _pipeline_graph(spark, pipeline_run[0], str(tmp_path), monkeypatch)
        reads = {n for n, inputs in graph.items() if n.startswith("read_") and not inputs}
        assert len(reads) == 4
        for name in ("adversarial_gbt", "cardinality_unseen", "filled_count", "target_moments"):
            assert graph[name] and set(graph[name]) <= reads, name
        assert graph["missingness"] == ("profile_train_main", "profile_train_extra")
        for name in ("linear_screen", "indicator_auc"):
            assert "missingness" in graph[name], name
        # the report still waits for every stage that writes an artifact
        feeders = reads | {n for n in graph if n.startswith("profile_")} | {"target_moments"}
        assert set(graph) - feeders - {"summary_report"} <= set(graph["summary_report"])

    def test_graph_check_rejects_unknown_and_forward_inputs(self, spark):
        from datafusion_cyberpolka_eda_spark.pipeline.eda import _run_stages, _Stage

        ran = []
        a = _Stage("a", lambda: ran.append("a"))
        with pytest.raises(ValueError, match=re.escape("'b' reads ['missing']")):
            _run_stages(spark, [a, _Stage("b", lambda _: ran.append("b"), ("missing",))])
        with pytest.raises(ValueError, match=re.escape("'b' reads ['c']")):
            _run_stages(
                spark,
                [a, _Stage("b", lambda _: ran.append("b"), ("c",)), _Stage("c", lambda: 1)],
            )
        assert ran == []  # checked before any stage starts

    def test_graph_check_survives_python_O(self):
        # an assert would be stripped under -O, and a stage whose input
        # never exists would leave the run waiting forever
        import subprocess
        import sys

        code = (
            "from datafusion_cyberpolka_eda_spark.pipeline.eda import _run_stages, _Stage\n"
            "try:\n"
            "    _run_stages(None, [_Stage('b', print, ('missing',))])\n"
            "except ValueError:\n"
            "    print('rejected')\n"
        )
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-O", "-c", code], cwd=root, capture_output=True, text=True,
            timeout=120,
        )
        assert out.stdout.strip() == "rejected", out.stderr

    def test_stage_times_and_spans(self, grouped_rerun):
        summary = grouped_rerun[1]
        seconds, spans = summary["stage_seconds"], summary["stage_spans"]
        assert set(seconds) == (
            {*spans, "adversarial_gbt_wall", "adversarial_join_wait"} - {"adversarial_gbt"}
        )
        for name, (start, end) in spans.items():
            key = "adversarial_gbt_wall" if name == "adversarial_gbt" else name
            assert 0 <= start <= end
            assert seconds[key] == pytest.approx(end - start, abs=2e-3)
        # the report starts after every stage it quotes has ended
        report_start = spans["summary_report"][0]
        assert all(end <= report_start for n, (_, end) in spans.items() if n != "summary_report")
        # the GBT overlaps the stages beside it
        gbt_start, gbt_end = spans["adversarial_gbt"]
        assert any(
            s < gbt_end and e > gbt_start
            for n, (s, e) in spans.items()
            if n not in ("adversarial_gbt", "summary_report")
        )

    def test_stage_error_cancels_joins_and_cleans_up(
        self, spark, pipeline_run, tmp_path, monkeypatch
    ):
        import threading
        import time

        from datafusion_cyberpolka_eda_spark.operators import profile as P
        from datafusion_cyberpolka_eda_spark.operators import stats as S

        class StageFailure(RuntimeError):
            pass

        # the linear screen runs beside the failing stage: it must be
        # cancelled while its job runs (a job of minutes if not
        # cancelled), not run to its end
        sc = spark.sparkContext
        slow_group = "eda-test-slow-stage"
        slow_outcome = []
        real_corr = S.screen_corr

        def slow_corr(*args, **kwargs):
            # changes only this stage thread's local properties; the
            # run's job tag stays set
            sc.setJobGroup(slow_group, "slow linear screen")
            try:
                spark.range(0, 10**11, 1, 4).selectExpr("sum(hash(id))").collect()
                out = real_corr(*args, **kwargs)
            except Exception:
                slow_outcome.append("raised")
                raise
            slow_outcome.append("returned")
            return out

        def slow_job_running() -> bool:
            tracker = sc.statusTracker()
            return bool(
                set(tracker.getActiveJobsIds()) & set(tracker.getJobIdsForGroup(slow_group))
            )

        def boom(*args, **kwargs):
            deadline = time.monotonic() + 60
            while not slow_job_running() and time.monotonic() < deadline:
                time.sleep(0.01)
            raise StageFailure("cardinality stage failed")

        monkeypatch.setattr(S, "screen_corr", slow_corr)
        monkeypatch.setattr(P, "cardinality_unseen_profile", boom)
        def persistent_ids() -> list[int]:
            return list(sc._jsc.getPersistentRDDs().keySet())

        # RDD ids only grow, so an RDD the run persisted has an id above
        # every persistent id before it; comparing counts instead races
        # the ContextCleaner unpersisting earlier tests' RDDs mid-run
        max_before = max(persistent_ids(), default=-1)
        with pytest.raises(StageFailure):
            run_pipeline(spark, pipeline_run[0], str(tmp_path), _test_config())
        assert slow_outcome == ["raised"]
        assert not [t for t in threading.enumerate() if t.name.startswith("eda-stage")]
        assert [i for i in persistent_ids() if i > max_before] == []
        _assert_inputs_uncached(spark, pipeline_run[0])
        assert not os.path.exists(os.path.join(str(tmp_path), "EDA_REPORT.md"))
        # the status store hears of the cancelled jobs' ends asynchronously
        deadline = time.monotonic() + 30
        while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.2)
        assert list(sc.statusTracker().getActiveJobsIds()) == []

    def test_failed_artifact_stage_leaves_no_report(
        self, spark, pipeline_run, tmp_path, monkeypatch
    ):
        """The report waits for the stages that only write artifacts: when
        indicator_auc fails after every other stage has ended, the run
        writes neither summary.json nor EDA_REPORT.md."""
        import threading
        import time
        from dataclasses import replace

        from datafusion_cyberpolka_eda_spark.pipeline import eda

        class StageFailure(RuntimeError):
            pass

        run_stages = eda._run_stages
        lock, done, all_done = threading.Lock(), set(), threading.Event()

        def failing_indicator_run(spark_, stages):
            others = {s.name for s in stages} - {"indicator_auc", "summary_report"}

            def wrap(stage):
                def fn(*args):
                    if stage.name == "indicator_auc":
                        assert all_done.wait(timeout=120)
                        time.sleep(1.0)  # room for a report that did not wait
                        raise StageFailure("indicator stage failed")
                    out = stage.fn(*args)
                    with lock:
                        done.add(stage.name)
                        if done >= others:
                            all_done.set()
                    return out

                return replace(stage, fn=fn)

            return run_stages(spark_, [wrap(s) for s in stages])

        monkeypatch.setattr(eda, "_run_stages", failing_indicator_run)
        with pytest.raises(StageFailure):
            run_pipeline(spark, pipeline_run[0], str(tmp_path), _test_config())
        assert all_done.is_set()
        assert not os.path.exists(os.path.join(str(tmp_path), "EDA_REPORT.md"))
        assert not os.path.exists(os.path.join(str(tmp_path), "public_tables", "summary.json"))
