"""Distributed statistics engine — the heart of the reference's analytics.

Covers SURVEY.md §2 family E: single-pass moment aggregations from which
correlation matrices (E1), the wide feature x target screen (E5),
point-biserial (E6) and pair lift (E2-E4) all derive; rank-based ROC AUC
(E7); exact quantiles (E10); whale/outlier uplift contingencies (E12);
Fisher exact test (E13, pure-Python — scipy is not available in this
environment).

Design rule (ref pattern, SURVEY.md §4.2): distribute the *moments*, never
the pair loop. TB-scale inputs reduce to tiny moment matrices (e.g. 519x41
doubles) in one or a few chunked aggregation passes with map-side partial
aggregation; all O(pairs) arithmetic then runs on the driver over numpy
arrays. The driver never holds row data.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions.litexpr import sql_double, sql_ident


def _chunks(xs: list, size: int) -> list[list]:
    return [xs[i : i + size] for i in range(0, len(xs), size)]


# ---------------------------------------------------------------------------
# Moments engine (E1/E2/E5/E6 substrate)
# ---------------------------------------------------------------------------


def cross_moments(
    df: DataFrame,
    xs: list[str],
    ys: list[str],
    chunk_size: int = 1500,
) -> dict:
    """Single-pass(ish) sufficient statistics for all (x, y) pairs.

    Returns driver-side dict with n, per-column sum/sumsq (numpy vectors
    over xs and ys) and the cross-product matrix sum_xy (len(xs) x len(ys)).
    Nulls must be handled upstream (see `mean_impute`) — the reference
    mean-imputes X before its screen (ref: public_eda_pipeline.py:496-499).

    Aggregation expressions are chunked (~chunk_size per agg) to stay under
    whole-stage-codegen limits (SURVEY.md §4.4); each chunk is one
    distributed pass sharing the same scan.
    """
    xs = list(xs)
    ys = list(ys)
    all_cols = list(dict.fromkeys(xs + ys))
    pairs = [(x, y) for x in xs for y in ys]

    # one flat list of aggregate expressions — base moments first, then the
    # cross products — chunked globally, so small problems (e.g. a 4x4 corr
    # matrix) run as a SINGLE distributed pass, and wide screens split into
    # ceil(total/chunk_size) passes sharing the same scan.
    row: dict = {}
    for batch in _chunks(moment_aggs_sql(xs, ys), max(chunk_size, 1)):
        row.update(df.selectExpr(*batch).collect()[0].asDict())

    n = row["__n"]
    sum_ = {c: float(row[f"s_{c}"]) for c in all_cols}
    sumsq = {c: float(row[f"q_{c}"]) for c in all_cols}
    sum_xy = np.zeros((len(xs), len(ys)))
    xi = {x: i for i, x in enumerate(xs)}
    yi = {y: j for j, y in enumerate(ys)}
    for i, (x, y) in enumerate(pairs):
        v = row[f"xy_{i}"]
        sum_xy[xi[x], yi[y]] = float(v) if v is not None else float("nan")

    return {
        "n": n,
        "xs": xs,
        "ys": ys,
        "sum_x": np.array([sum_[c] for c in xs]),
        "sumsq_x": np.array([sumsq[c] for c in xs]),
        "sum_y": np.array([sum_[c] for c in ys]),
        "sumsq_y": np.array([sumsq[c] for c in ys]),
        "sum_xy": sum_xy,
    }


def moment_aggs_sql(xs: list[str], ys: list[str]) -> list[str]:
    """cross_moments' aggregate list as SQL text: `__n`, then s_/q_ (sum,
    sum of squares) per distinct column, then xy_<i> per (x, y) pair in
    row-major order — the expressions of the former Column form, spelled
    out (see functions/litexpr.py)."""
    exprs = ["count(1) AS `__n`"]
    for c in dict.fromkeys(list(xs) + list(ys)):
        d = _double(c)
        exprs.append(f"sum({d}) AS {sql_ident('s_' + c)}")
        exprs.append(f"sum({d} * {d}) AS {sql_ident('q_' + c)}")
    pairs = [(x, y) for x in xs for y in ys]
    for i, (x, y) in enumerate(pairs):
        exprs.append(f"sum({_double(x)} * {_double(y)}) AS `xy_{i}`")
    return exprs


def _double(c: str) -> str:
    return f"CAST({sql_ident(c)} AS DOUBLE)"


def corr_from_moments(m: dict, eps: float = 1e-12) -> pd.DataFrame:
    """Pearson correlation matrix (xs rows x ys cols) from cross_moments.

    Uses population normalization internally (ddof cancels in Pearson r, so
    this equals sample corr; matches the reference's explicit population-std
    standardization, ref: public_eda_pipeline.py:501-511). Constant columns
    (std < eps) yield NaN, matching the reference's guard (lines 502-508).
    """
    n = m["n"]
    mean_x = m["sum_x"] / n
    mean_y = m["sum_y"] / n
    var_x = m["sumsq_x"] / n - mean_x**2
    var_y = m["sumsq_y"] / n - mean_y**2
    std_x = np.sqrt(np.maximum(var_x, 0.0))
    std_y = np.sqrt(np.maximum(var_y, 0.0))
    cov = m["sum_xy"] / n - np.outer(mean_x, mean_y)
    denom = np.outer(std_x, std_y)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.where(denom > eps, cov / np.where(denom > eps, denom, 1.0), np.nan)
    return pd.DataFrame(corr, index=m["xs"], columns=m["ys"])


def corr_matrix(df: DataFrame, cols: list[str], chunk_size: int = 1500) -> pd.DataFrame:
    """Full symmetric Pearson corr matrix over ``cols`` (operator E1; ref:
    public_eda_pipeline.py:140-141 `y_df.corr()` over the 41 targets)."""
    m = cross_moments(df, cols, cols, chunk_size=chunk_size)
    return corr_from_moments(m)


def corr_matrix_assembled(
    df: DataFrame, xs: list[str], ys: list[str]
) -> pd.DataFrame:
    """Pearson corr of the xs x ys block via ONE `Correlation.corr` pass
    over an assembled vector (operator E5 route (b), SURVEY.md §2) —
    BLAS-backed co-moment accumulation inside the JVM instead of thousands
    of individual codegen'd sum expressions. For wide screens (hundreds of
    features x dozens of targets) the expression-count cost of the chunked
    moments path dominates its runtime (measured: 519-ish-wide screen
    62s -> seconds); this path is O(d^2) FLOPs per row in tight loops and
    one treeAggregate. Inputs must be null-free (mean_impute first, as the
    reference does; ref: public_eda_pipeline.py:496-511). Constant columns
    yield NaN, matching corr_from_moments' guard. Pearson r is
    ddof-invariant, so this equals the population-std route exactly."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    cols = list(dict.fromkeys(list(xs) + list(ys)))
    assembled = VectorAssembler(inputCols=cols, outputCol="__v").transform(
        df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    )
    mat = Correlation.corr(assembled, "__v", "pearson").head()[0].toArray()
    idx = {c: i for i, c in enumerate(cols)}
    block = mat[np.ix_([idx[x] for x in xs], [idx[y] for y in ys])]
    return pd.DataFrame(block, index=list(xs), columns=list(ys))


def mean_impute(df: DataFrame, cols: list[str], chunk_size: int = 1500) -> DataFrame:
    """NaN/null -> column mean (operator E15; ref lines 496-499). One
    distributed pass for the means, then a coalesce projection (no shuffle).
    """
    means: dict[str, float] = {}
    for batch in _chunks(cols, chunk_size):
        r = df.selectExpr(*[f"avg({_double(c)}) AS {sql_ident(c)}" for c in batch]).collect()[0]
        for c in batch:
            means[c] = float(r[c]) if r[c] is not None else 0.0
    return df.selectExpr(*impute_sql(df.columns, means))


def impute_sql(columns: list[str], means: dict[str, float]) -> list[str]:
    """mean_impute's projection as SQL text: the untouched columns, then
    coalesce(double cast, exact mean literal) per imputed column."""
    return [
        *[sql_ident(c) for c in columns if c not in means],
        *[
            f"coalesce({_double(c)}, {sql_double(m)}) AS {sql_ident(c)}"
            for c, m in means.items()
        ],
    ]


def pair_stats(df: DataFrame, cols: list[str]) -> pd.DataFrame:
    """All-pairs stats for binary columns: corr, co-occurrence count/rate,
    independence-expected rate, lift (operators E2-E4; ref:
    public_eda_pipeline.py:143-166). For 0/1 columns sum_xy IS the
    co-occurrence count, so everything falls out of one moments pass."""
    m = cross_moments(df, cols, cols)
    corr = corr_from_moments(m).to_numpy()
    n = m["n"]
    prev = m["sum_x"] / n
    rows = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if j <= i:
                continue
            co_count = m["sum_xy"][i, j]
            co_rate = co_count / n
            expected = prev[i] * prev[j]
            rows.append(
                {
                    "target_a": a,
                    "target_b": b,
                    "corr": corr[i, j],
                    "co_count": int(co_count),
                    "co_rate": co_rate,
                    "expected_independent_rate": expected,
                    "pair_lift": (co_rate / expected) if expected > 0 else float("nan"),
                }
            )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Rank-based ROC AUC (E7) — distributed, tie-aware, no global row sort
# ---------------------------------------------------------------------------


def auc_by_rank(
    df: DataFrame, label_col: str, score_col: str, num_buckets: int = 256
) -> DataFrame:
    """Exact Mann-Whitney ROC AUC with average-rank tie handling (operator
    E7; ref `_safe_auc`, public_eda_pipeline.py:33-39).

    Scale design — two-pass partitioned prefix sum, no unpartitioned
    window anywhere:

    1. Reduce to one row per *distinct score* with positive/negative
       counts (a hash aggregation).
    2. Range-bucket the distinct scores into `num_buckets` equal-width
       bins of [min, max] (min/max arrive via a broadcast one-row join —
       no driver action, the plan stays lazy). Nulls sort first →
       bucket -1; NaN sorts last in Spark → bucket `num_buckets`.
    3. Cumulative negatives *within* each bucket: a window PARTITIONED BY
       bucket (each partition holds ~1/num_buckets of the distinct
       scores; a continuous score at 100× data no longer collapses onto
       one task).
    4. Cross-bucket offsets: per-bucket totals (≤ num_buckets+2 rows) get
       their exclusive prefix sum via a broadcast triangular self-join —
       O(num_buckets²) work on a constant-size table, window-free.
    5. cum_neg_below = offset[bucket] + within-bucket cumulative.

    Exactness: pos/neg are integral-valued doubles, and integer sums in
    IEEE doubles are associativity-exact below 2^53, so the split
    accumulation is bit-identical to the old single-window plan.
    AUC = [sum_s pos_s * (cum_neg_below_s + 0.5*neg_s)] / (P*N).
    Degenerate single-class input yields NULL (the reference's guard).

    Returns a 1-row DataFrame: auc double.
    """
    g = (
        df.select(
            F.col(score_col).cast("double").alias("s"),
            F.col(label_col).cast("double").alias("y"),
        )
        .groupBy("s")
        .agg(F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg"))
    )
    # Range over FINITE scores only: an infinity in min/max would make
    # `width` infinite and collapse every finite score into bucket 0 —
    # still correct (within-bucket order holds) but single-partition.
    # Infinities get their own sentinel buckets respecting Spark sort
    # order (null < -inf < finite < +inf < NaN).
    inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
    rng = g.where(
        F.col("s").isNotNull()
        & ~F.isnan("s")
        & (F.col("s") != inf)
        & (F.col("s") != ninf)
    ).agg(F.min("s").alias("_lo"), F.max("s").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / num_buckets
    gb = (
        g.join(F.broadcast(rng))
        .withColumn(
            "bucket",
            F.when(F.col("s").isNull(), F.lit(-2))
            .when(F.isnan("s"), F.lit(num_buckets + 1))
            .when(F.col("s") == ninf, F.lit(-1))
            .when(F.col("s") == inf, F.lit(num_buckets))
            .when(
                (F.col("_hi") == F.col("_lo")) | F.col("_hi").isNull(),
                F.lit(0),
            )
            .otherwise(
                F.least(
                    F.lit(num_buckets - 1),
                    F.floor((F.col("s") - F.col("_lo")) / width).cast("int"),
                )
            ),
        )
        .drop("_lo", "_hi")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gb = gb.withColumn(
        "cum_in_bucket", F.coalesce(F.sum("neg").over(w), F.lit(0.0))
    )
    totals = gb.groupBy("bucket").agg(F.sum("neg").alias("_bneg"))
    offsets = (
        totals.alias("a")
        .join(
            F.broadcast(totals.select(
                F.col("bucket").alias("_b2"), F.col("_bneg").alias("_bneg2")
            )),
            F.col("_b2") < F.col("bucket"),
            "left",
        )
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("_bneg2"), F.lit(0.0)).alias("_offset"))
    )
    gb = gb.join(F.broadcast(offsets), "bucket", "left").withColumn(
        "cum_neg_below", F.coalesce("_offset", F.lit(0.0)) + F.col("cum_in_bucket")
    )
    return gb.agg(
        F.when(
            (F.sum("pos") > 0) & (F.sum("neg") > 0),
            F.sum(F.col("pos") * (F.col("cum_neg_below") + 0.5 * F.col("neg")))
            / (F.sum("pos") * F.sum("neg")),
        ).alias("auc")
    )


def effective_auc_col(auc: F.Column) -> F.Column:
    """max(auc, 1-auc) (operator E8; ref line 354)."""
    return F.greatest(auc, 1 - auc)


# ---------------------------------------------------------------------------
# Quantiles (E10)
# ---------------------------------------------------------------------------


def exact_quantiles(df: DataFrame, col: str, probs: list[float]) -> list[float]:
    """Exact interpolated percentiles (operator E10; ref np.nanquantile at
    line 622 — Spark `percentile` ignores nulls like nanquantile ignores
    NaN). For the 100 TB path use `df.approxQuantile` instead."""
    probs_sql = ", ".join(str(p) for p in probs)
    r = df.agg(
        F.expr(f"percentile({col}, array({probs_sql}))").alias("q")
    ).collect()[0]["q"]
    return [float(v) for v in r]


# ---------------------------------------------------------------------------
# Whale / outlier uplift + Fisher exact (E12-E13)
# ---------------------------------------------------------------------------


def whale_scan(
    df: DataFrame,
    features: list[str],
    targets: list[str],
    quantile: float = 0.99,
    min_top: int = 50,
    min_rest: int = 1000,
    chunk_size: int = 1500,
    exact: bool = True,
) -> pd.DataFrame:
    """Top-tail uplift screen (operator E12; ref: public_eda_pipeline.py:
    617-650): for each (num feature, target), compare the target's positive
    rate in the feature's top-(1-quantile) tail vs the rest.

    Two distributed passes: (1) per-feature quantile cutoffs, (2) one
    chunked conditional-agg pass computing all 2x2 contingencies. Lift and
    Fisher p-values are driver-side arithmetic over the small pairs table.
    Guards (top>=min_top, rest>=min_rest, rest_pos>0) match ref lines
    625-636.
    """
    if exact:
        # ALL cutoffs in one agg pass — a per-feature exact_quantiles loop
        # costs one full-table job per feature (O(features) scans)
        row = df.selectExpr(
            *[f"percentile({f}, {quantile}) AS `q_{i}`" for i, f in enumerate(features)]
        ).collect()[0]
        cut = {
            f: (float(row[f"q_{i}"]) if row[f"q_{i}"] is not None else float("nan"))
            for i, f in enumerate(features)
        }
    else:
        qs = df.approxQuantile(features, [quantile], 0.0001)
        cut = {f: q[0] for f, q in zip(features, qs)}

    pairs = [(f, t) for f in features for t in targets]
    records: list[dict] = []
    for batch in _chunks(pairs, max(1, chunk_size // 4)):
        r = df.selectExpr(*contingency_aggs_sql(batch, cut)).collect()[0].asDict()
        for i, (f, t) in enumerate(batch):
            tn, tp = int(r[f"tn_{i}"]), int(r[f"tp_{i}"])
            rn, rp = int(r[f"rn_{i}"]), int(r[f"rp_{i}"])
            if tn < min_top or rn < min_rest or rp == 0:
                continue
            top_rate = tp / tn
            rest_rate = rp / rn
            records.append(
                {
                    "feature": f,
                    "target": t,
                    "top_n": tn,
                    "top_pos": tp,
                    "rest_n": rn,
                    "rest_pos": rp,
                    "top1_rate": top_rate,
                    "rest99_rate": rest_rate,
                    "lift": top_rate / rest_rate,
                    "pvalue": fisher_exact_greater(tp, tn - tp, rp, rn - rp),
                }
            )
    return pd.DataFrame(records)


def contingency_aggs_sql(
    pairs: list[tuple[str, str]], cut: dict[str, float]
) -> list[str]:
    """whale_scan's 2x2 contingency aggregates as SQL text: per (feature,
    target) pair i, top = feature >= its cutoff; tn_/rn_ count the top and
    rest rows, tp_/rp_ sum the target over them."""
    aggs = []
    for i, (f, t) in enumerate(pairs):
        top = f"{sql_ident(f)} >= {sql_double(cut[f])}"
        y = _double(t)
        aggs += [
            f"sum(CAST({top} AS BIGINT)) AS `tn_{i}`",
            f"sum(CASE WHEN {top} THEN {y} ELSE 0.0D END) AS `tp_{i}`",
            f"sum(CAST(NOT ({top}) AS BIGINT)) AS `rn_{i}`",
            f"sum(CASE WHEN NOT ({top}) THEN {y} ELSE 0.0D END) AS `rp_{i}`",
        ]
    return aggs


def _log_comb(n: int, k: int) -> float:
    return math.lgamma(n + 1) - math.lgamma(k + 1) - math.lgamma(n - k + 1)


def fisher_exact_greater(a: int, b: int, c: int, d: int) -> float:
    """One-sided (greater) Fisher exact test p-value for the 2x2 table
    [[a, b], [c, d]] (operator E13; ref scipy.stats.fisher_exact at line
    641 — scipy is unavailable here, so this is the exact hypergeometric
    tail computed with log-gamma, numerically stable for large counts).

    P = sum_{k >= a} C(a+b, k) * C(c+d, (a+c)-k) / C(n, a+c).
    """
    row1 = a + b
    col1 = a + c
    n = a + b + c + d
    k_max = min(row1, col1)
    denom = _log_comb(n, col1)
    total = 0.0
    for k in range(a, k_max + 1):
        if col1 - k > c + d:
            continue
        total += math.exp(
            _log_comb(row1, k) + _log_comb(c + d, col1 - k) - denom
        )
    return min(total, 1.0)


# ---------------------------------------------------------------------------
# Point-biserial (E6) with pure-Python p-value
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta function
    (Lentz's algorithm — standard public formulation)."""
    max_it, eps, fpmin = 200, 3e-14, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, max_it + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _betainc_reg(a: float, b: float, x: float) -> float:
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def t_sf(t: float, dof: float) -> float:
    """Two-sided Student-t survival p-value, P(|T| > t)."""
    x = dof / (dof + t * t)
    return _betainc_reg(dof / 2.0, 0.5, x)


def point_biserial(df: DataFrame, binary_col: str, value_col: str) -> tuple[float, float]:
    """Point-biserial correlation + two-sided p (operator E6; ref
    pointbiserialr at line 303 — identical to Pearson with a binary
    variable; p via the exact t transform). One distributed agg pass."""
    r_row = df.agg(
        F.corr(F.col(binary_col).cast("double"), F.col(value_col).cast("double")).alias("r"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    r, n = r_row["r"], r_row["n"]
    if r is None or n < 3 or abs(r) >= 1.0:
        return (float("nan") if r is None else float(r), float("nan"))
    t = r * math.sqrt((n - 2) / (1 - r * r))
    return float(r), t_sf(abs(t), n - 2)
