"""ML-backed operators (SURVEY.md §2 family F).

- F1 adversarial train/test-shift classifier: the reference trains CatBoost
  in-process on a hash-sampled train=0/test=1 stack and reads validation
  AUC (ref: public_eda_pipeline.py:410-459). Here Spark does the sampling
  and the key-hash holdout split in one job, and the driver fits a seeded
  NumPy histogram GBT on the sample (SURVEY.md "Path 3"): a distributed
  fit of a few depth-6 trees on ~12k rows is one barrier per tree level,
  dozens of jobs for seconds of work. Exact AUC won't reproduce across GBM
  implementations — the behavioral contract, test-locked in
  tests/test_operators.py, is AUC ~ 0.5 on shift-free data (ref report
  0.5007) and >> 0.5 under an injected shift.
- F2/F3 agglomerative clustering + silhouette over a precomputed distance
  matrix: driver-scale ops on tiny (n_targets x n_targets) matrices
  (ref lines 183-209). sklearn/scipy are unavailable here, so both are
  implemented in plain numpy (average linkage, standard definitions). The
  distance matrix itself comes from the distributed moments engine.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions.litexpr import sql_long_array
from datafusion_cyberpolka_eda_spark.functions.sampling import hash_sample
from datafusion_cyberpolka_eda_spark.operators import stats as S
from datafusion_cyberpolka_eda_spark.operators.relational import union_stack


def adversarial_shift_auc(
    df_a: DataFrame,
    df_b: DataFrame,
    feature_cols: list[str],
    key_col: str,
    sample_pct: float = 20,
    seed: int = 42,
    max_iter: int = 40,
    max_depth: int = 6,
    step_size: float = 0.08,
) -> float:
    """Train a GBT to distinguish df_a (label 0) from df_b (label 1); return
    holdout AUC. AUC ~ 0.5 => no covariate shift between the two tables.

    One Spark job: the key-hash sample (a filter under each scan), the
    double casts and the -1.0 fill, and the 75/25 holdout bucket
    pmod(xxhash64(key, seed + 7), 100) < 75 (ref train_test_split, lines
    437-443) run in Spark; the sample comes to the driver through one Arrow
    toPandas(). The driver fits _boosted_scores on the train bucket and
    scores the holdout with stats.rank_auc. Like the reference's in-process
    CatBoost fit, this holds the sample (sample_pct of both tables) in
    driver memory.

    Deterministic: rows are sorted by (label, key, features) before the
    fit, so neither Spark's partitioning nor its row order reaches the
    float sums, and the per-node feature draws come from one seeded
    generator.
    """
    def prep(df: DataFrame) -> DataFrame:
        df = hash_sample(df, key_col, sample_pct, seed)
        return df.select(
            key_col, *[F.col(c).cast("double").alias(c) for c in feature_cols]
        ).na.fill(-1.0, feature_cols)

    stacked = union_stack([prep(df_a), prep(df_b)], "label", [0, 1])
    bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed + 7)), F.lit(100))
    pdf = (
        stacked.select(bucket.alias("__bucket"), "label", key_col, *feature_cols)
        .toPandas()
        .sort_values(["label", key_col, *feature_cols])
    )
    train = pdf["__bucket"].to_numpy() < 75
    y = pdf["label"].to_numpy(dtype=np.float64)
    x = pdf[feature_cols].to_numpy(dtype=np.float64)
    scores = _boosted_scores(
        x[train], y[train], x[~train], max_iter, max_depth, step_size, seed
    )
    return S.rank_auc(y[~train], scores)


def _boosted_scores(
    x_fit: np.ndarray,
    y_fit: np.ndarray,
    x_score: np.ndarray,
    max_iter: int,
    max_depth: int,
    step_size: float,
    seed: int,
) -> np.ndarray:
    """Fit a gradient-boosted tree ensemble for log loss on (x_fit, y_fit in
    {0, 1}) and return its raw scores (log-odds) for the rows of x_score.

    Each tree is a regression tree on the residuals y - sigmoid(F), grown
    depth-wise to max_depth over histogram bins: every feature is cut at up
    to max_bins - 1 quantile thresholds of its x_fit values (Spark's maxBins
    default is 32), a node splits on the bin threshold with the largest
    variance gain among ceil(sqrt(d)) features drawn for it from
    np.random.default_rng(seed) (Spark's "sqrt" feature subset), and a node
    whose best gain is not positive stays a leaf. Leaf value = the mean
    residual of its rows, added with shrinkage step_size; F starts at 0.
    x_score rows follow the same splits, so no tree is stored."""
    max_bins = 32
    n, d = x_fit.shape
    k = min(d, math.ceil(math.sqrt(d)))
    bins_fit = np.empty((n, d), dtype=np.intp)
    bins_score = np.empty((len(x_score), d), dtype=np.intp)
    q = np.arange(1, max_bins) / max_bins
    for j in range(d):
        col = x_fit[:, j]
        values = np.unique(col)
        if len(values) > max_bins:
            values = np.unique(np.quantile(col, q, method="lower"))
        # bin b holds edges[b-1] < x <= edges[b]; the top value cuts nothing
        edges = values[values < col.max()]
        bins_fit[:, j] = np.searchsorted(edges, col)
        bins_score[:, j] = np.searchsorted(edges, x_score[:, j])

    rng = np.random.default_rng(seed)
    f_fit = np.zeros(n)
    f_score = np.zeros(len(x_score))
    slots = np.arange(k)
    for _ in range(max_iter):
        resid = y_fit - 1.0 / (1.0 + np.exp(-f_fit))
        node_fit = np.zeros(n, dtype=np.intp)
        node_score = np.zeros(len(x_score), dtype=np.intp)
        leaf = np.zeros(1, dtype=bool)  # per node: no further splits
        for depth in range(max_depth):
            n_nodes = 2**depth
            feats = np.argsort(rng.random((n_nodes, d)), axis=1)[:, :k]
            row_bins = np.take_along_axis(bins_fit, feats[node_fit], axis=1)
            cell = ((node_fit[:, None] * k + slots) * max_bins + row_bins).ravel()
            shape = (n_nodes, k, max_bins)
            size = n_nodes * k * max_bins
            sum_l = np.bincount(cell, np.repeat(resid, k), size).reshape(shape).cumsum(2)
            cnt_l = np.bincount(cell, minlength=size).reshape(shape).cumsum(2)
            sum_t, cnt_t = sum_l[:, :, -1:], cnt_l[:, :, -1:]
            sum_r, cnt_r = sum_t - sum_l, cnt_t - cnt_l
            with np.errstate(divide="ignore", invalid="ignore"):
                gain = sum_l**2 / cnt_l + sum_r**2 / cnt_r - sum_t**2 / cnt_t
            gain[(cnt_l == 0) | (cnt_r == 0)] = -np.inf
            gain = gain.reshape(n_nodes, -1)
            best = gain.argmax(axis=1)
            leaf = leaf | ~(gain[np.arange(n_nodes), best] > 0)
            feat = feats[np.arange(n_nodes), best // max_bins]
            # a leaf sends every row left: its bins are all < max_bins
            cut = np.where(leaf, max_bins, best % max_bins)
            node_fit = 2 * node_fit + (bins_fit[np.arange(n), feat[node_fit]] > cut[node_fit])
            node_score = 2 * node_score + (
                bins_score[np.arange(len(x_score)), feat[node_score]] > cut[node_score]
            )
            leaf = np.repeat(leaf, 2)
        n_leaves = 2**max_depth
        sums = np.bincount(node_fit, resid, n_leaves)
        counts = np.bincount(node_fit, minlength=n_leaves)
        value = step_size * np.divide(sums, counts, out=np.zeros(n_leaves), where=counts > 0)
        f_fit += value[node_fit]
        f_score += value[node_score]
    return f_score


def agglomerative_average(dist: np.ndarray, k: int) -> np.ndarray:
    """Average-linkage agglomerative clustering over a precomputed distance
    matrix (operator F2; ref AgglomerativeClustering lines 187-194).
    Naive O(n^3) — inputs are tiny driver-side matrices (41x41). Returns
    integer labels 0..k-1, numbered by first-member order for determinism.
    """
    n = dist.shape[0]
    clusters: dict[int, list[int]] = {i: [i] for i in range(n)}
    d = dist.astype(float).copy()
    np.fill_diagonal(d, np.inf)
    active = {i: i for i in range(n)}  # cluster id -> row index in d
    cd = {(i, j): d[i, j] for i in range(n) for j in range(i + 1, n)}

    next_id = n
    while len(clusters) > k:
        (a, b), _ = min(cd.items(), key=lambda kv: (kv[1], kv[0]))
        merged = clusters.pop(a) + clusters.pop(b)
        new_dists = {}
        for c, members in clusters.items():
            tot = 0.0
            for i in merged:
                for j in members:
                    tot += dist[i, j]
            new_dists[c] = tot / (len(merged) * len(members))
        cd = {
            key: v
            for key, v in cd.items()
            if a not in key and b not in key
        }
        for c, v in new_dists.items():
            cd[(min(c, next_id), max(c, next_id))] = v
        clusters[next_id] = merged
        next_id += 1

    labels = np.empty(n, dtype=int)
    ordered = sorted(clusters.values(), key=lambda ms: min(ms))
    for lab, members in enumerate(ordered):
        for i in members:
            labels[i] = lab
    return labels


def silhouette_precomputed(dist: np.ndarray, labels: np.ndarray) -> float:
    """Mean silhouette coefficient over a precomputed distance matrix
    (operator F3; ref silhouette_score(metric='precomputed'), line 195).
    Standard definition: s_i = (b_i - a_i) / max(a_i, b_i); singleton
    clusters get s_i = 0."""
    n = len(labels)
    uniq = np.unique(labels)
    if len(uniq) < 2:
        return float("nan")
    s = np.zeros(n)
    for i in range(n):
        own = labels == labels[i]
        n_own = own.sum()
        if n_own <= 1:
            s[i] = 0.0
            continue
        a = dist[i, own].sum() / (n_own - 1)
        b = np.inf
        for c in uniq:
            if c == labels[i]:
                continue
            mask = labels == c
            b = min(b, dist[i, mask].mean())
        s[i] = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
    return float(s.mean())


# ---- distributed integer-quantized logistic-regression trainer
# (l64, r9 verdict task 1) ----

LOGREG_PSCALE = 1_000_000  # probability/weight scale: p and w ride at 1e6


def logreg_train_supersteps(
    feats: DataFrame,
    dim: int,
    iters: int,
    lr_div: int,
    precond: list[int],
    w_init: list[int] | None = None,
) -> list[int]:
    """TRUE distributed logistic-regression training — the l59 superstep
    discipline applied to gradient descent (r9 verdict task 1), the
    model-based quality-filter trainer a DCLM/FineWeb-style pipeline
    needs:

      model   : hard-sigmoid logistic unit p = clamp(1/2 + z/4, 0, 1)
                with z = w . x — piecewise-LINEAR, so at the quantized
                scale every step is p_q = clamp(S/2 + floor(z_q/4), 0, S)
                in exact integer arithmetic (z_q/4 is a power-of-two
                division: exact in IEEE, identical in both engines; exp
                would be neither);
      grad    : g[j] = sum over rows of (p_q - y*S) * x[j] — exact int64
                sums, order-independent under any partitioning;
      update  : w[j] -= floor(float(g[j]) / (n * lr_div * precond[j])) —
                float-first division matching the oracle's
                CAST(g AS DOUBLE) / CAST(divisor AS DOUBLE), one
                correctly-rounded IEEE op per component; ``precond`` is
                a fixed power-of-two diagonal preconditioner absorbing
                the feature-scale imbalance a single global lr cannot.

    ``feats`` must have columns (id, y, x array<long> of ``dim``
    components, feature 0 = the bias 1). Weights start at zero, or at
    ``w_init`` (quantized ints at LOGREG_PSCALE) for WARM-START
    continue-training — the incremental model-update shape (l71): a
    day-2 increment fine-tunes the persisted day-1 model without
    replaying day-1 gradients. Returns the final quantized weights
    (ints at LOGREG_PSCALE).

    Scale shape: per superstep, ONE map pass over the rows (w enters as
    literal expressions — no join, the _lloyd_dists pattern) + one
    groupBy whose output is ``dim`` rows — communication O(dim)
    regardless of corpus size, the driver only ever holds dim integers.
    |g| <= n * S * max|x| must stay below 2^53 for the exact division
    (n <= ~4e9 rows at the test feature ranges — assert upstream at
    extreme scale). Ref anchor: similarity.py lloyd_kmeans_q (superstep
    discipline), registry/llm.py l60 (planting recipe)."""
    n = feats.count()
    if len(precond) != dim:
        raise ValueError(f"precond has {len(precond)} entries, dim={dim}")
    if w_init is not None and len(w_init) != dim:
        raise ValueError(f"w_init has {len(w_init)} entries, dim={dim}")
    w = [int(c) for c in w_init] if w_init is not None else [0] * dim
    s = LOGREG_PSCALE
    for _ in range(iters):
        z = F.aggregate(
            F.zip_with(
                "x",
                # one parsed literal array (litexpr): dim fewer py4j
                # round-trips per superstep plan build, same values
                F.expr(sql_long_array(w)),
                lambda xv, wv: xv * wv,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        p = F.least(
            F.greatest(
                F.lit(s // 2).cast("long")
                + F.floor(z / F.lit(4.0)).cast("long"),
                F.lit(0).cast("long"),
            ),
            F.lit(s).cast("long"),
        )
        e = p - F.col("y").cast("long") * F.lit(s).cast("long")
        rows = (
            feats.select(e.alias("e"), "x")
            .select("e", F.posexplode("x").alias("j", "v"))
            .groupBy("j")
            .agg(F.sum(F.col("e") * F.col("v")).alias("g"))
            .collect()
        )
        g = {r["j"]: r["g"] for r in rows}
        w = [
            w[j] - math.floor(float(g[j]) / float(n * lr_div * precond[j]))
            for j in range(dim)
        ]
    return w


def logreg_score_q(feats: DataFrame, w: list[int]) -> DataFrame:
    """(id, y, flagged): score rows against trained quantized weights —
    flagged iff z_q >= 0 (p >= 1/2). Map-side only, weights as
    literals."""
    z = F.aggregate(
        F.zip_with(
            "x",
            F.expr(sql_long_array(w)),
            lambda xv, wv: xv * wv,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return feats.select("id", "y", (z >= 0).alias("flagged"))
