"""The full EDA pipeline, re-expressed Spark-first: every stage of the
reference engine (ref: eda_workspace/public_eda_pipeline.py:61-906) over
EDA-shaped parquet inputs, emitting the same 29 artifact tables +
summary.json + markdown report (schemas locked by tests against
FIXTURES.md §A5 / the reference's public_tables/).

Execution split (SURVEY.md §3):
- distributed (Spark): row counts, target moments, horizontal fill
  counts, customer_id joins, chunked null-rate profiling, distinct counts,
  anti-join unseen categories, moment matrices for every correlation,
  contingency counts, quantiles, rank-based AUC, GBT adversarial model
- driver (pandas/numpy over <=O(features x targets) reductions): pair
  loops, clustering, Fisher p-values, artifact shaping, report text

Stage graph: run_pipeline declares each stage as a function of the stage
results it reads (the `stages` list at its end is the graph) and starts
every stage as soon as those results exist, each on a thread of a pool
sized to the graph. Spark's scheduler takes jobs from many threads at
once; the model is Shark's partial DAG execution — schedule from the
dependency graph, not in program order. Each of the four table reads
caches its table and builds the cache with one job before any other
stage reads it, so no two stages race to build one cache and the job
count repeats exactly. The adversarial GBT, the longest stage, needs
only the two main-feature tables, so it starts right after their reads.

Stage threads inherit the caller's job group, description and scheduler
pool (pyspark.util.inheritable_thread_target), and every job of a run
carries one job tag. On the first stage error the run cancels the jobs
with that tag, waits for every started stage, unpersists what it cached
and re-raises that error.

Determinism: two runs on one fixture write byte-identical artifacts
except `adversarial_auc_main_features`. pyspark.ml's seeded GBT fit and
BinaryClassificationEvaluator vary in the low digits between runs
(0.5118844 vs 0.5119023 on the 60k-row seed-101 fixture; three fits in
one session gave three AUCs, and three evaluations of one fitted model's
cached predictions gave three values). The variation is in pyspark.ml,
not in the stage graph: the GBT varies the same way when it runs alone.

Scale notes: the driver only ever holds moment matrices and result tables;
row data never leaves the executors except the explicitly driver-scale
screen sample (mirroring the reference's design).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from types import SimpleNamespace
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from datafusion_cyberpolka_eda_spark.functions.litexpr import sql_ident
from datafusion_cyberpolka_eda_spark.functions.sampling import hash_sample
from datafusion_cyberpolka_eda_spark.operators import ml as ML
from datafusion_cyberpolka_eda_spark.operators import profile as P
from datafusion_cyberpolka_eda_spark.operators import stats as S
from datafusion_cyberpolka_eda_spark.operators.relational import (
    horizontal_not_null_count,
    horizontal_sum,
    ntile_bucket,
)
from datafusion_cyberpolka_eda_spark.sources.catalog import target_family


@dataclass
class EdaConfig:
    """Pipeline knobs; defaults mirror the reference's constants."""

    seed: int = 42
    antagonist: str = "target_10_1"
    screen_sample_pct: float = 12  # ref line 472
    adv_sample_pct: float = 20  # ref lines 418, 425
    indicator_sample_pct: float = 30  # ref lines 332, 336
    whale_sample_pct: float = 12  # ref lines 604, 608
    n_extra_dense: int = 320  # ref line 465
    n_popular_targets: int = 10  # ref line 321
    n_indicator_features: int = 30  # ref line 324
    min_co_count_lift: int = 100  # ref line 170
    whale_min_top: int = 50  # ref line 625
    whale_min_rest: int = 1000  # ref line 625
    rare_rate_threshold: float = 0.005  # ref line 599
    adv_max_iter: int = 120  # ref line 448 (CatBoost iterations)
    adv_max_depth: int = 6
    adv_step_size: float = 0.08
    selected_targets: list[str] = field(
        default_factory=lambda: ["target_1_1", "target_3_2", "target_10_1", "target_9_6"]
    )


MISS_AUC_COLUMNS = [
    "target", "feature", "auc_single_feature", "auc_effective", "null_rate",
    "missing_rate_indicator",
]
WHALE_COLUMNS = ["target", "feature", "top1_rate", "rest99_rate", "lift", "pvalue"]


def _pretty(df: pd.DataFrame, n: int = 10) -> str:
    if df is None or df.empty:
        return "(empty)"
    return df.head(n).to_string(index=False)


def indicator_aggs_sql(feats: list[str], targets: list[str]) -> list[str]:
    """The missing-indicator screen's aggregates as SQL text: `__n`, then
    per feature f its null count ind_<f> and, per target t, iy_<f>_<t> =
    sum(null indicator * target), then y_<t> per target."""
    aggs = ["count(1) AS `__n`"]
    for f in feats:
        ind = f"CAST(({sql_ident(f)} IS NULL) AS DOUBLE)"
        aggs.append(f"sum({ind}) AS {sql_ident('ind_' + f)}")
        for t in targets:
            aggs.append(
                f"sum({ind} * CAST({sql_ident(t)} AS DOUBLE)) AS {sql_ident(f'iy_{f}_{t}')}"
            )
    for t in targets:
        aggs.append(f"sum(CAST({sql_ident(t)} AS DOUBLE)) AS {sql_ident('y_' + t)}")
    return aggs


@dataclass(frozen=True)
class _Stage:
    name: str
    fn: Callable[..., Any]
    inputs: tuple[str, ...] = ()


def _run_stages(
    spark: SparkSession, stages: list[_Stage]
) -> tuple[dict[str, Any], dict[str, tuple[float, float]]]:
    """Run every stage on a pool thread once its inputs are results, as
    fn(*input results). Returns ({name: result}, {name: (start, end)}),
    offsets in seconds from the call. On the first stage error: cancel
    the run's jobs (one job tag per run), wait for every started stage,
    and raise that error; stages not yet started never start."""
    names = [s.name for s in stages]
    assert all(i in names[:k] for k, s in enumerate(stages) for i in s.inputs), (
        "each stage may read only stages listed before it"
    )
    sc = spark.sparkContext
    tag = f"eda-pipeline-{uuid.uuid4().hex}"
    t0 = time.perf_counter()
    results: dict[str, Any] = {}
    spans: dict[str, tuple[float, float]] = {}

    def call(stage: _Stage, args: list) -> Any:
        sc.addJobTag(tag)
        start = time.perf_counter() - t0
        out = stage.fn(*args)
        spans[stage.name] = (start, time.perf_counter() - t0)
        return out

    todo = list(stages)
    running: dict[Future, str] = {}
    with ThreadPoolExecutor(len(stages), thread_name_prefix="eda-stage") as pool:
        try:
            while todo or running:
                for stage in [s for s in todo if all(i in results for i in s.inputs)]:
                    todo.remove(stage)
                    # wrapped per submission: each stage gets its own copy
                    # of the caller's local properties (job group, pool)
                    target = inheritable_thread_target(spark)(call)
                    args = [results[i] for i in stage.inputs]
                    running[pool.submit(target, stage, args)] = stage.name
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    results[running[fut]] = fut.result()
                    del running[fut]
        finally:
            # stages still run here only after an error or an interrupt;
            # cancel again until they end, so a job a stage submits after
            # one cancel does not run to completion
            while running:
                sc.cancelJobsWithTag(tag)
                done, _ = wait(running, timeout=0.5)
                for fut in done:
                    del running[fut]
    return results, spans


def run_pipeline(
    spark: SparkSession, data_dir: str, out_dir: str, cfg: EdaConfig | None = None
) -> dict:
    cfg = cfg or EdaConfig()
    tables_dir = os.path.join(out_dir, "public_tables")
    os.makedirs(tables_dir, exist_ok=True)
    id_col = "customer_id"
    cached: list[DataFrame] = []

    def save(df: pd.DataFrame, name: str, index: bool = False) -> None:
        df.to_csv(os.path.join(tables_dir, name), index=index)

    def features(df: DataFrame) -> list[str]:
        return [c for c in df.columns if c != id_col]

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df)
        return df.cache()

    def read(table: str) -> DataFrame:
        df = cache(spark.read.parquet(os.path.join(data_dir, f"{table}.parquet")))
        # one job that builds the whole cache and returns nothing
        df.write.format("noop").mode("overwrite").save()
        return df

    # ---- inventory + target prevalence (ref 76-116) ----
    def inventory(train_main: DataFrame, test_main: DataFrame, train_target: DataFrame):
        target_cols = features(train_target)
        n_train = train_main.count()
        n_test = test_main.count()
        # ONE moments pass over the targets: positive counts here (sums of
        # 0/1 columns, exact in doubles below 2^53), the corr matrix and
        # co-occurrence counts in target_dependencies
        m = S.cross_moments(train_target, target_cols, target_cols)
        positives = [int(v) for v in m["sum_x"]]
        target_df = pd.DataFrame(
            [
                {
                    "target": t,
                    "family": target_family(t),
                    "positive_count": pos,
                    "positive_rate": pos / n_train,
                }
                for t, pos in zip(target_cols, positives)
            ]
        ).sort_values("positive_rate", ascending=False)
        save(target_df, "target_stats.csv")

        family_df = (
            target_df.groupby("family", as_index=False)
            .agg(
                n_targets=("target", "count"),
                mean_rate=("positive_rate", "mean"),
                min_rate=("positive_rate", "min"),
                max_rate=("positive_rate", "max"),
            )
            .sort_values("mean_rate", ascending=False)
        )
        save(family_df, "target_family_stats.csv")
        return SimpleNamespace(
            n_train=n_train, n_test=n_test, target_cols=target_cols, moments=m,
            target_df=target_df,
        )

    # ---- adversarial shift (ref 410-459): pyspark.ml GBT. Boosting is
    # sequential (depth x iterations distributed passes, most cores idle
    # between barriers), so it runs beside the stages that keep the
    # cluster busy ----
    def adversarial_gbt(train_main: DataFrame, test_main: DataFrame) -> float:
        return ML.adversarial_shift_auc(
            train_main,
            test_main,
            feature_cols=features(train_main),
            key_col=id_col,
            sample_pct=cfg.adv_sample_pct,
            seed=cfg.seed,
            max_iter=cfg.adv_max_iter,
            max_depth=cfg.adv_max_depth,
            step_size=cfg.adv_step_size,
        )

    # ---- opened-targets histogram (ref 126-135): horizontal sum, no
    # driver row data ----
    def opened_histogram(train_target: DataFrame, inv) -> None:
        opened = train_target.select(
            horizontal_sum([F.col(t).cast("int") for t in inv.target_cols]).alias(
                "opened_targets"
            )
        )
        sum_dist = (
            opened.groupBy("opened_targets")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy("opened_targets")
            .toPandas()
        )
        sum_dist["share"] = sum_dist["count"] / inv.n_train
        save(sum_dist, "opened_targets_distribution.csv")

    # ---- target dependencies (ref 140-181): the inventory's moments give
    # the corr matrix AND co-occurrence counts AND prevalences ----
    def target_dependencies(inv):
        target_cols, n_train, m = inv.target_cols, inv.n_train, inv.moments
        corr = S.corr_from_moments(m)
        save(corr, "target_correlation_matrix.csv", index=True)

        prev = m["sum_x"] / n_train
        pair_rows = []
        for i, ta in enumerate(target_cols):
            for j in range(i + 1, len(target_cols)):
                tb = target_cols[j]
                co_count = int(m["sum_xy"][i, j])
                co_rate = co_count / n_train
                expected = float(prev[i] * prev[j])
                pair_rows.append(
                    {
                        "target_a": ta,
                        "target_b": tb,
                        "corr": float(corr.iloc[i, j]),
                        "co_count": co_count,
                        "co_rate": co_rate,
                        "expected_independent_rate": expected,
                        "pair_lift": (co_rate / expected) if expected > 0 else np.nan,
                    }
                )
        pair_df = pd.DataFrame(pair_rows)
        save(pair_df, "target_pair_stats.csv")

        top_pos_pairs = pair_df.sort_values("corr", ascending=False).head(30)
        top_neg_pairs = pair_df.sort_values("corr", ascending=True).head(30)
        top_lift_pairs = (
            pair_df[pair_df["co_count"] >= cfg.min_co_count_lift]
            .sort_values("pair_lift", ascending=False)
            .head(30)
        )
        save(top_pos_pairs, "top_positive_target_pairs.csv")
        save(top_neg_pairs, "top_negative_target_pairs.csv")
        save(top_lift_pairs, "top_cooccurrence_lift_pairs.csv")

        corr_anti = corr.loc[cfg.antagonist].drop(cfg.antagonist)
        anti_profile = pd.DataFrame(
            {
                "other_target": corr_anti.index,
                "correlation": corr_anti.values,
                "abs_correlation": np.abs(corr_anti.values),
            }
        ).sort_values("abs_correlation", ascending=False)
        save(anti_profile, "target_10_1_profile.csv")
        return SimpleNamespace(
            corr=corr, corr_anti=corr_anti, top_pos_pairs=top_pos_pairs,
            top_neg_pairs=top_neg_pairs, top_lift_pairs=top_lift_pairs,
        )

    # ---- clustering on |corr| distance (ref 183-230): driver-scale ----
    def clustering(inv, deps) -> pd.DataFrame:
        target_cols, corr = inv.target_cols, deps.corr
        dist = 1.0 - np.abs(corr.to_numpy(dtype=float))
        np.fill_diagonal(dist, 0.0)
        cluster_eval_rows = []
        labels_k4 = None
        for k in (3, 4, 5):
            labels = ML.agglomerative_average(dist, k)
            if k == 4:
                labels_k4 = labels
            sil = (
                ML.silhouette_precomputed(dist, labels)
                if len(np.unique(labels)) > 1
                else np.nan
            )
            counts = pd.Series(labels).value_counts()
            cluster_eval_rows.append(
                {
                    "k": k,
                    "silhouette_precomputed": sil,
                    "largest_cluster_share": float(counts.max() / len(target_cols)),
                    "min_cluster_size": int(counts.min()),
                    "max_cluster_size": int(counts.max()),
                }
            )
        cluster_eval_df = pd.DataFrame(cluster_eval_rows)
        save(cluster_eval_df, "target_cluster_quality.csv")

        cluster_assign_df = pd.DataFrame({"target": target_cols, "cluster_k4": labels_k4})
        cluster_assign_df["family"] = cluster_assign_df["target"].map(target_family)
        save(cluster_assign_df, "target_clusters_k4.csv")

        cluster_summary_rows = []
        for cl_id, g in cluster_assign_df.groupby("cluster_k4"):
            ts = g["target"].tolist()
            if len(ts) > 1:
                sub = corr.loc[ts, ts].to_numpy(dtype=float)
                iu = np.triu_indices(len(ts), k=1)
                avg_abs = float(np.abs(sub[iu]).mean())
            else:
                avg_abs = np.nan
            fam_mode = g["family"].value_counts(normalize=True)
            cluster_summary_rows.append(
                {
                    "cluster_k4": int(cl_id),
                    "n_targets": len(ts),
                    "avg_abs_corr_inside": avg_abs,
                    "dominant_family": str(fam_mode.index[0]),
                    "dominant_family_share": float(fam_mode.iloc[0]),
                    "targets": ", ".join(sorted(ts)),
                }
            )
        cluster_summary_df = pd.DataFrame(cluster_summary_rows).sort_values(
            "n_targets", ascending=False
        )
        save(cluster_summary_df, "target_cluster_summary.csv")
        return cluster_eval_df

    # ---- missingness (ref 235-280): chunked wide null-rate aggs ----
    def missingness(train_main: DataFrame, train_extra: DataFrame):
        extra_miss = P.null_rates(train_extra, features(train_extra)).toPandas()
        extra_miss_df = (
            extra_miss.rename(columns={"column": "feature"})
            .assign(source="extra", feature_type="num")
            .sort_values("null_rate", ascending=False)
        )
        save(extra_miss_df, "extra_missingness_summary.csv")

        main_miss = P.null_rates(train_main, features(train_main)).toPandas()
        main_miss_df = main_miss.rename(columns={"column": "feature"}).assign(source="main")
        main_miss_df["feature_type"] = np.where(
            main_miss_df["feature"].str.startswith("cat_feature_"), "cat", "num"
        )
        miss_all_df = pd.concat([main_miss_df, extra_miss_df], ignore_index=True).sort_values(
            "null_rate", ascending=False
        )
        save(miss_all_df, "feature_missingness_summary.csv")
        save(extra_miss_df.head(10), "top10_missing_features.csv")

        r = extra_miss_df["null_rate"]
        miss_bands = pd.DataFrame(
            {
                "band": [">99%", ">95%", ">90%", "50-90%", "10-50%", "<=10%"],
                "count": [
                    int((r > 0.99).sum()),
                    int((r > 0.95).sum()),
                    int((r > 0.90).sum()),
                    int(((r > 0.50) & (r <= 0.90)).sum()),
                    int(((r > 0.10) & (r <= 0.50)).sum()),
                    int((r <= 0.10).sum()),
                ],
            }
        )
        save(miss_bands, "extra_missingness_bands.csv")
        return SimpleNamespace(extra=extra_miss_df, all=miss_all_df, bands=miss_bands)

    # ---- filled-count as activity signal (ref 283-318): stays
    # distributed end-to-end (the reference pulls 750k rows to pandas;
    # Spark computes AUC/deciles/point-biserial without materializing) ----
    def filled_count(train_extra: DataFrame, train_target: DataFrame):
        open_cols = [c for c in features(train_target) if c != cfg.antagonist]
        fill_df = cache(
            train_extra.select(
                F.col(id_col),
                horizontal_not_null_count(features(train_extra)).alias("filled_extra_count"),
            ).join(
                train_target.select(
                    F.col(id_col),
                    (
                        horizontal_sum([F.col(c).cast("int") for c in open_cols]) > 0
                    ).cast("int").alias("target_any_open"),
                ),
                on=id_col,
                how="inner",
            )
        )
        auc_row = S.auc_by_rank(fill_df, "target_any_open", "filled_extra_count").collect()[0]
        auc = auc_row["auc"] if auc_row["auc"] is not None else float("nan")
        pb_corr, pb_p = S.point_biserial(fill_df, "target_any_open", "filled_extra_count")

        deciles = ntile_bucket(
            fill_df,
            "filled_extra_count",
            10,
            bucket_col="decile",
            tiebreak_cols=[id_col],
        )
        fill_dec_df = (
            deciles.groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("filled_extra_count").alias("avg_filled"),
                F.min("filled_extra_count").alias("min_filled"),
                F.max("filled_extra_count").alias("max_filled"),
                F.avg(F.col("target_any_open").cast("double")).alias("target_rate"),
            )
            .orderBy("decile")
            .toPandas()
        )
        # 0-based decile labels like pd.qcut(labels=False) (ref line 307);
        # ntile splits ties across buckets where qcut keeps them together — a
        # documented divergence (SURVEY.md §5.3 tie policy)
        fill_dec_df["decile"] = fill_dec_df["decile"] - 1
        save(fill_dec_df, "filled_extra_count_deciles.csv")
        return SimpleNamespace(auc=auc, pb_corr=pb_corr, pb_p=pb_p, deciles=fill_dec_df)

    # ---- missing-indicator AUC screen (ref 321-364): closed-form AUC for
    # a binary score — AUC = 0.5 + (P(ind|pos) - P(ind|neg))/2 — so the
    # whole screen is ONE chunked conditional-agg pass, no per-pair jobs ----
    def indicator_auc(train_extra: DataFrame, train_target: DataFrame, inv, miss) -> None:
        target_df, extra_miss_df = inv.target_df, miss.extra
        pop_targets = (
            target_df[target_df["target"] != cfg.antagonist]
            .head(cfg.n_popular_targets)["target"]
            .tolist()
        )
        moderate_feats = (
            extra_miss_df[
                (extra_miss_df["null_rate"] >= 0.20) & (extra_miss_df["null_rate"] <= 0.98)
            ]
            .head(cfg.n_indicator_features)["feature"]
            .tolist()
        )
        miss_auc_rows = []
        if moderate_feats:
            sample = hash_sample(
                train_extra.select(id_col, *moderate_feats), id_col, cfg.indicator_sample_pct,
                cfg.seed,
            ).join(
                hash_sample(
                    train_target.select(id_col, *pop_targets), id_col,
                    cfg.indicator_sample_pct, cfg.seed,
                ),
                on=id_col,
                how="inner",
            )
            aggs = indicator_aggs_sql(moderate_feats, pop_targets)
            row = {}
            for batch in [aggs[i : i + 1000] for i in range(0, len(aggs), 1000)]:
                row.update(sample.selectExpr(*batch).collect()[0].asDict())
            n_s = row["__n"]
            null_rate_map = dict(zip(extra_miss_df["feature"], extra_miss_df["null_rate"]))
            for f in moderate_feats:
                ind_sum = float(row[f"ind_{f}"])
                if ind_sum == 0 or ind_sum == n_s:
                    continue  # constant indicator (ref line 348-349)
                miss_rate = ind_sum / n_s
                for t in pop_targets:
                    pos = float(row[f"y_{t}"])
                    neg = n_s - pos
                    if pos == 0 or neg == 0:
                        auc = np.nan  # degenerate class guard (ref safe_auc)
                    else:
                        a = float(row[f"iy_{f}_{t}"]) / pos
                        b = (ind_sum - float(row[f"iy_{f}_{t}"])) / neg
                        auc = 0.5 + (a - b) / 2.0
                    auc_eff = np.nan if not np.isfinite(auc) else max(auc, 1.0 - auc)
                    miss_auc_rows.append(
                        {
                            "target": t,
                            "feature": f,
                            "auc_single_feature": auc,
                            "auc_effective": auc_eff,
                            "null_rate": null_rate_map.get(f, np.nan),
                            "missing_rate_indicator": miss_rate,
                        }
                    )
        miss_auc_df = pd.DataFrame(miss_auc_rows, columns=MISS_AUC_COLUMNS).sort_values(
            "auc_effective", ascending=False
        )
        save(miss_auc_df, "missing_indicator_auc_popular_targets.csv")

    # ---- cardinality + unseen categories (ref 369-405): ALL features in
    # a constant number of stacked passes (a per-feature loop costs 4
    # full-table jobs per column) ----
    def cardinality_unseen(train_main: DataFrame, test_main: DataFrame):
        cat_main = [c for c in features(train_main) if c.startswith("cat_feature_")]
        prof = (
            P.cardinality_unseen_profile(train_main, test_main, cat_main)
            .toPandas()
            .set_index("feature")
            .reindex(cat_main)
            .fillna({"train_nunique": 0, "test_nunique": 0,
                     "unseen_unique_categories": 0, "unseen_rate_test_rows": 0.0})
            .reset_index()
        )
        card_df = prof[["feature", "train_nunique", "test_nunique"]].astype(
            {"train_nunique": int, "test_nunique": int}
        ).sort_values("train_nunique", ascending=False)
        unseen_df = prof[
            ["feature", "unseen_unique_categories", "unseen_rate_test_rows"]
        ].astype({"unseen_unique_categories": int}).sort_values(
            "unseen_rate_test_rows", ascending=False
        )
        save(card_df, "categorical_cardinality.csv")
        save(unseen_df, "categorical_unseen_categories.csv")
        return SimpleNamespace(card=card_df, unseen=unseen_df)

    # ---- wide linear screen (ref 463-594): sampled 3-way join, mean
    # impute, ONE assembled-vector pass for the feature x target corr ----
    def linear_screen(
        train_main: DataFrame, train_extra: DataFrame, train_target: DataFrame, miss
    ):
        main_features = features(train_main)
        cat_main = [c for c in main_features if c.startswith("cat_feature_")]
        target_cols = features(train_target)
        extra_dense = (
            miss.extra.sort_values("null_rate", ascending=True)
            .head(cfg.n_extra_dense)["feature"]
            .tolist()
        )
        feat_screen = main_features + extra_dense

        main_exprs = [
            (
                F.coalesce(F.col(c).cast("double"), F.lit(-1.0)).alias(c)
                if c in cat_main
                else F.col(c).cast("double").alias(c)
            )
            for c in main_features
        ]
        screen = cache(
            hash_sample(train_main, id_col, cfg.screen_sample_pct, cfg.seed)
            .select(F.col(id_col), *main_exprs)
            .join(
                hash_sample(train_extra, id_col, cfg.screen_sample_pct, cfg.seed).select(
                    F.col(id_col), *[F.col(c).cast("double").alias(c) for c in extra_dense]
                ),
                on=id_col,
                how="inner",
            )
            .join(
                hash_sample(train_target, id_col, cfg.screen_sample_pct, cfg.seed).select(
                    F.col(id_col), *[F.col(t).cast("double").alias(t) for t in target_cols]
                ),
                on=id_col,
                how="inner",
            )
        )
        n_screen = screen.count()
        screen_imp = S.mean_impute(screen, feat_screen)
        # one assembled-vector Correlation pass instead of thousands of chunked
        # sum expressions — same values (ddof cancels), ~10x on wide screens
        corr_mat = S.corr_matrix_assembled(screen_imp, feat_screen, target_cols)

        miss_rate_map = dict(zip(miss.all["feature"], miss.all["null_rate"]))
        type_map = {
            f: ("cat" if f.startswith("cat_feature_") else "num") for f in feat_screen
        }
        source_map = {f: ("main" if f in main_features else "extra") for f in feat_screen}
        linear_rows = []
        for f in feat_screen:
            for t in target_cols:
                c = corr_mat.loc[f, t]
                if np.isfinite(c):
                    linear_rows.append(
                        {
                            "target": t,
                            "feature": f,
                            "pearson_corr": float(c),
                            "abs_corr": float(abs(c)),
                            "feature_type": type_map[f],
                            "source": source_map[f],
                            "null_rate": float(miss_rate_map.get(f, np.nan)),
                        }
                    )
        linear_df = pd.DataFrame(linear_rows).sort_values(
            ["target", "abs_corr"], ascending=[True, False]
        )
        save(linear_df, "feature_target_linear_corr.csv")

        top10_per_target = linear_df.groupby("target", as_index=False).head(10)
        save(top10_per_target, "target_top10_features_linear.csv")

        mix_rows = []
        for t, g in top10_per_target.groupby("target"):
            mix_rows.append(
                {
                    "target": t,
                    "mean_abs_corr_top10": float(g["abs_corr"].mean()) if len(g) else np.nan,
                    "n_cat_top10": int((g["feature_type"] == "cat").sum()),
                    "n_num_top10": int((g["feature_type"] == "num").sum()),
                    "n_main_top10": int((g["source"] == "main").sum()),
                    "n_extra_top10": int((g["source"] == "extra").sum()),
                }
            )
        target_mix_df = pd.DataFrame(mix_rows).sort_values(
            "mean_abs_corr_top10", ascending=False
        )
        save(target_mix_df, "target_top10_feature_mix.csv")

        feature_uni = (
            top10_per_target.groupby("feature", as_index=False)
            .agg(
                n_targets_top10=("target", "nunique"),
                mean_abs_corr_when_top10=("abs_corr", "mean"),
                max_abs_corr_when_top10=("abs_corr", "max"),
            )
            .sort_values(
                ["n_targets_top10", "mean_abs_corr_when_top10"], ascending=[False, False]
            )
        )
        save(feature_uni, "feature_universality_top10.csv")

        feature_signal = (
            linear_df.groupby("feature", as_index=False)
            .agg(
                max_abs_corr=("abs_corr", "max"),
                mean_abs_corr=("abs_corr", "mean"),
                n_targets_abs_corr_gt_005=("abs_corr", lambda s: int((s > 0.05).sum())),
                n_targets_abs_corr_gt_010=("abs_corr", lambda s: int((s > 0.10).sum())),
            )
            .merge(
                pd.DataFrame(
                    {
                        "feature": feat_screen,
                        "source": [source_map[f] for f in feat_screen],
                        "feature_type": [type_map[f] for f in feat_screen],
                        "null_rate": [miss_rate_map.get(f, np.nan) for f in feat_screen],
                    }
                ),
                on="feature",
                how="left",
            )
            .sort_values(["max_abs_corr", "mean_abs_corr"], ascending=[False, False])
        )
        save(feature_signal, "feature_signal_summary.csv")

        selected_present = [t for t in cfg.selected_targets if t in target_cols]
        selected_top5 = (
            linear_df[linear_df["target"].isin(selected_present)]
            .groupby("target", as_index=False)
            .head(5)
        )
        save(selected_top5, "golden_linear_top5_selected_targets.csv")
        return SimpleNamespace(
            n_features=len(feat_screen), n_rows=n_screen, signal=feature_signal
        )

    # ---- whale screen (ref 598-669): distributed contingencies + exact
    # Fisher tail on the driver ----
    def whale(train_main: DataFrame, train_target: DataFrame, inv):
        target_df = inv.target_df
        num_main = [c for c in features(train_main) if c.startswith("num_feature_")]
        rare_targets = target_df[target_df["positive_rate"] < cfg.rare_rate_threshold][
            "target"
        ].tolist()
        if rare_targets and num_main:
            whale_in = hash_sample(
                train_main.select(id_col, *num_main), id_col, cfg.whale_sample_pct, cfg.seed
            ).join(
                hash_sample(
                    train_target.select(id_col, *rare_targets), id_col,
                    cfg.whale_sample_pct, cfg.seed,
                ),
                on=id_col,
                how="inner",
            )
            whale_all = S.whale_scan(
                whale_in,
                features=num_main,
                targets=rare_targets,
                quantile=0.99,
                min_top=cfg.whale_min_top,
                min_rest=cfg.whale_min_rest,
            )
        else:
            whale_all = pd.DataFrame(columns=WHALE_COLUMNS)
        if len(whale_all):
            whale_sig = (
                whale_all[(whale_all["lift"] >= 2.0) & (whale_all["pvalue"] < 0.05)][
                    WHALE_COLUMNS
                ]
                .sort_values("lift", ascending=False)
            )
        else:
            whale_sig = pd.DataFrame(columns=WHALE_COLUMNS)
        save(whale_sig, "whale_signals.csv")

        if len(whale_sig):
            whale_feature_candidates = (
                whale_sig.groupby("feature", as_index=False)
                .agg(
                    n_rare_targets=("target", "nunique"),
                    median_lift=("lift", "median"),
                    max_lift=("lift", "max"),
                    min_pvalue=("pvalue", "min"),
                )
                .sort_values(["n_rare_targets", "median_lift"], ascending=[False, False])
            )
        else:
            whale_feature_candidates = pd.DataFrame(
                columns=["feature", "n_rare_targets", "median_lift", "max_lift", "min_pvalue"]
            )
        save(whale_feature_candidates, "whale_feature_candidates.csv")
        whale_top_per_target = (
            whale_sig.groupby("target", as_index=False).head(3)
            if len(whale_sig)
            else pd.DataFrame(columns=WHALE_COLUMNS)
        )
        save(whale_top_per_target, "whale_top3_per_target.csv")
        return SimpleNamespace(sig=whale_sig, top_per_target=whale_top_per_target)

    # ---- summary + report (ref 674-905) ----
    def summary_report(
        train_main: DataFrame, train_extra: DataFrame, inv, deps, cluster_eval_df,
        fill, adv_auc: float, cat, linear, miss, whales,
    ) -> dict:
        target_cols, target_df = inv.target_cols, inv.target_df
        n_train, n_test = inv.n_train, inv.n_test
        n_main, n_extra = len(features(train_main)), len(features(train_extra))
        corr_anti, unseen_df, whale_sig = deps.corr_anti, cat.unseen, whales.sig
        n_lt_1 = int((target_df["positive_rate"] < 0.01).sum())
        n_lt_01 = int((target_df["positive_rate"] < 0.001).sum())
        n_lt_50 = int((target_df["positive_count"] < 50).sum())
        min_pos = int(target_df["positive_count"].min())
        neg_share = float((corr_anti < 0).mean())
        mean_corr_anti = float(corr_anti.mean())
        k4_row = cluster_eval_df.loc[cluster_eval_df["k"] == 4].iloc[0]
        clear_4 = bool(
            (k4_row["largest_cluster_share"] <= 0.60)
            and (k4_row["silhouette_precomputed"] >= 0.08)
        )
        n_unseen_feats = int((unseen_df["unseen_unique_categories"] > 0).sum())
        max_unseen_rate = (
            float(unseen_df["unseen_rate_test_rows"].max()) if len(unseen_df) else np.nan
        )
        auc_fill, pb_corr, pb_p = fill.auc, fill.pb_corr, fill.pb_p
        n_screen = linear.n_rows

        summary = {
            "rows_train": n_train,
            "rows_test": n_test,
            "n_targets": len(target_cols),
            "n_features_main": n_main,
            "n_features_extra": n_extra,
            "targets_lt_1pct": n_lt_1,
            "targets_lt_01pct": n_lt_01,
            "targets_lt_50": n_lt_50,
            "min_positive_count": min_pos,
            "target_10_1_negative_share": neg_share,
            "target_10_1_mean_corr": mean_corr_anti,
            "filled_extra_count_auc": float(auc_fill),
            "filled_extra_count_pointbiserial": float(pb_corr),
            "adversarial_auc_main_features": float(adv_auc),
            "cat_features_with_unseen_in_test": n_unseen_feats,
            "max_unseen_rate_test_rows": max_unseen_rate,
            "clear_4_target_clusters": clear_4,
            "k4_silhouette": float(k4_row["silhouette_precomputed"]),
            "k4_largest_cluster_share": float(k4_row["largest_cluster_share"]),
            "significant_whale_pairs": int(len(whale_sig)),
            "n_features_screened_linear": linear.n_features,
            "screen_sample_rows": int(n_screen),
        }
        with open(os.path.join(tables_dir, "summary.json"), "w") as fh:
            json.dump(summary, fh, ensure_ascii=False, indent=2)

        report = f"""# EDA Report: Multi-Label Targets ({len(target_cols)} targets)

## Executive Summary
Target distribution, inter-target dependencies, missingness structure,
train/test shift, linear feature signal and whale effects — computed
distributed-first on Spark (moment aggregations, anti-joins, rank AUC),
with driver-side statistics only on reduced matrices.

- {n_lt_1} of {len(target_cols)} targets have prevalence <1%; minimum positive count {min_pos}.
- `{cfg.antagonist}` negative-correlation share: {neg_share:.2%} (mean corr {mean_corr_anti:.4f}).
- AUC(`filled_extra_count` -> any open): {float(auc_fill):.4f}; point-biserial r {pb_corr:.4f} (p={pb_p:.2e}).
- Adversarial AUC (main features, {cfg.adv_sample_pct:.0f}% sample): {adv_auc:.4f}.
- k=4 clustering: silhouette {k4_row['silhouette_precomputed']:.4f} -> {"clear structure" if clear_4 else "no clear 4-cluster structure"}.
- Significant whale pairs (lift>=2, p<0.05): {len(whale_sig)}.

## 1. Data Landscape
- Train rows: **{n_train}** / Test rows: **{n_test}**
- Targets: **{len(target_cols)}**; main features: **{n_main}**; extra features: **{n_extra}**

## 2. Target Landscape
```text
{_pretty(target_df, 10)}
```
Top positive pairs:
```text
{_pretty(deps.top_pos_pairs[["target_a", "target_b", "corr", "co_count"]], 10)}
```
Top negative pairs:
```text
{_pretty(deps.top_neg_pairs[["target_a", "target_b", "corr", "co_count"]], 10)}
```
Top co-occurrence lift pairs:
```text
{_pretty(deps.top_lift_pairs[["target_a", "target_b", "pair_lift", "co_count", "co_rate"]], 10)}
```
Cluster quality:
```text
{_pretty(cluster_eval_df, 10)}
```

## 3. Missingness
```text
{_pretty(miss.bands, 10)}
```
Filled-count deciles:
```text
{_pretty(fill.deciles[["decile", "n", "avg_filled", "target_rate"]], 10)}
```

## 4. Categorical Risk Surface
- Cat features with unseen test categories: **{n_unseen_feats}** (max row-rate {max_unseen_rate:.6f})
```text
{_pretty(cat.card, 10)}
```

## 5. Train/Test Shift
Adversarial AUC: **{adv_auc:.4f}** — {"shift detected" if adv_auc > 0.6 else "no strong covariate shift"}.

## 6. Wide Linear Screen ({linear.n_features} features x {len(target_cols)} targets on {n_screen} sampled rows)
```text
{_pretty(linear.signal[["feature", "source", "feature_type", "max_abs_corr", "mean_abs_corr"]], 15)}
```

## 7. Whale Effects
```text
{_pretty(whales.top_per_target, 15)}
```

## Artifacts
All tables in `public_tables/`; summary scalars in `public_tables/summary.json`.
"""
        with open(os.path.join(out_dir, "EDA_REPORT.md"), "w") as fh:
            fh.write(report)
        return summary

    main, test, extra, target = (
        "read_train_main", "read_test_main", "read_train_extra", "read_train_target"
    )
    stages = [
        _Stage(main, lambda: read("train_main_features")),
        _Stage(test, lambda: read("test_main_features")),
        _Stage(extra, lambda: read("train_extra_features")),
        _Stage(target, lambda: read("train_target")),
        _Stage("inventory_targets", inventory, (main, test, target)),
        _Stage("adversarial_gbt", adversarial_gbt, (main, test)),
        _Stage("opened_histogram", opened_histogram, (target, "inventory_targets")),
        _Stage("target_dependencies", target_dependencies, ("inventory_targets",)),
        _Stage("clustering", clustering, ("inventory_targets", "target_dependencies")),
        _Stage("missingness", missingness, (main, extra)),
        _Stage("filled_count", filled_count, (extra, target)),
        _Stage(
            "indicator_auc", indicator_auc,
            (extra, target, "inventory_targets", "missingness"),
        ),
        _Stage("cardinality_unseen", cardinality_unseen, (main, test)),
        _Stage("linear_screen", linear_screen, (main, extra, target, "missingness")),
        _Stage("whale", whale, (main, target, "inventory_targets")),
        _Stage(
            "summary_report", summary_report,
            (
                main, extra, "inventory_targets", "target_dependencies", "clustering",
                "filled_count", "adversarial_gbt", "cardinality_unseen", "linear_screen",
                "missingness", "whale",
            ),
        ),
    ]
    try:
        results, spans = _run_stages(spark, stages)
    finally:
        for df in cached:
            df.unpersist()

    # each stage's own wall time (not written into summary.json — its key
    # set is a locked artifact contract), for perf tracking; the report
    # waits on the GBT for adversarial_join_wait after all else is done
    stage_seconds = {
        ("adversarial_gbt_wall" if name == "adversarial_gbt" else name): round(end - start, 3)
        for name, (start, end) in spans.items()
    }
    others_end = max(
        end for name, (_, end) in spans.items()
        if name not in ("adversarial_gbt", "summary_report")
    )
    stage_seconds["adversarial_join_wait"] = round(
        max(0.0, spans["adversarial_gbt"][1] - others_end), 3
    )
    summary = results["summary_report"]
    summary["stage_seconds"] = stage_seconds
    summary["stage_spans"] = {
        name: (round(start, 3), round(end, 3)) for name, (start, end) in spans.items()
    }
    return summary
