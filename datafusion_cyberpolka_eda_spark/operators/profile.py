"""Data profiling: counts, null rates, distinct counts, cardinality,
unseen categories, missingness bands.

Covers SURVEY.md §2 families D1, D3, D6, D8, D9 and C6. The key
Spark-specific engineering is *chunked wide aggregation*: the reference
computes null rates over 2,241 columns in a single Polars pass (ref:
public_eda_pipeline.py:235-240); a single Spark `agg` with thousands of
expressions breaks whole-stage codegen, so we batch columns (~400/agg) and
union the melted results. Each batch is still one distributed pass with
map-side partial aggregation.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions.litexpr import sql_ident
from datafusion_cyberpolka_eda_spark.operators.relational import union_stack


def _chunks(xs: list[str], size: int) -> list[list[str]]:
    return [xs[i : i + size] for i in range(0, len(xs), size)]


def null_rates(df: DataFrame, cols: list[str] | None = None, chunk_size: int = 400) -> DataFrame:
    """Per-column null rate, returned long-form (column, null_rate).

    Operator D3 (ref: public_eda_pipeline.py:235-254 — `is_null().mean()`
    per column). One agg pass per chunk; melt via stack().
    """
    cols = cols if cols is not None else df.columns
    out: list[DataFrame] = []
    for batch in _chunks(cols, chunk_size):
        agg = df.agg(
            *[F.avg(F.col(c).isNull().cast("double")).alias(c) for c in batch]
        )
        stack_args = ", ".join(f"'{c}', `{c}`" for c in batch)
        out.append(
            agg.selectExpr(
                f"stack({len(batch)}, {stack_args}) as (column, null_rate)"
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


def nonnull_counts(
    df: DataFrame, cols: list[str] | None = None, chunk_size: int = 400
) -> tuple[int, dict[str, int]]:
    """Row count and per-column non-null count, count(1) and count(c),
    in one agg pass per chunk of columns (null_rates' chunking); on a
    parquet scan each pass reads only its chunk's columns. cols=[] counts
    the rows alone."""
    cols = list(cols if cols is not None else df.columns)
    rows, counts = 0, {}
    for batch in _chunks(cols, chunk_size) or [[]]:
        counts_sql = [f"count({sql_ident(c)}) AS `c{i}`" for i, c in enumerate(batch)]
        r = df.selectExpr("count(1) AS `__n`", *counts_sql).collect()[0]
        rows = r["__n"]
        counts.update({c: r[f"c{i}"] for i, c in enumerate(batch)})
    return rows, counts


def null_rates_from_counts(rows: int, nonnull: dict[str, int], cols: list[str]) -> pd.DataFrame:
    """null_rates(df, cols).toPandas() from nonnull_counts(df), bit for
    bit: (rows - nonnull) / rows is one correctly rounded division of
    integers below 2^53, as avg(CAST(isNull AS DOUBLE)) is. NaN for no
    rows (avg is NULL)."""
    return pd.DataFrame(
        {
            "column": list(cols),
            "null_rate": [(rows - nonnull[c]) / rows if rows else np.nan for c in cols],
        }
    )


def distinct_counts(df: DataFrame, cols: list[str], exact: bool = True) -> DataFrame:
    """Per-column distinct count, long-form (column, n_distinct).

    Operator D8 (ref: public_eda_pipeline.py:372-381 — per-cat-feature
    `n_unique` on train and test). ``exact=False`` switches to HLL
    `approx_count_distinct` — the 100 TB path where exactness isn't needed.
    Exact multi-column countDistinct in one agg triggers an expand (one
    shuffle per distinct col); for few columns that's fine, for very wide
    profiling prefer approximate.
    """
    fn = F.countDistinct if exact else F.approx_count_distinct
    agg = df.agg(*[fn(F.col(c)).alias(c) for c in cols])
    stack_args = ", ".join(f"'{c}', cast(`{c}` as bigint)" for c in cols)
    return agg.selectExpr(f"stack({len(cols)}, {stack_args}) as (column, n_distinct)")


def stacked_values(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form (feature, value) rows for all ``cols`` in one pass via
    stack(); nulls dropped per-feature (mirrors per-column drop_nulls).
    Values are cast to string — injective for the integer-coded
    categoricals this profiles, so distinct counts are unchanged."""
    stack_args = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    return df.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (feature, value)"
    ).filter(F.col("value").isNotNull())


def cardinality_unseen_profile(
    train: DataFrame, test: DataFrame, cols: list[str]
) -> pd.DataFrame:
    """Per-feature cardinality + unseen-category stats for ALL columns with
    one Spark action (operators D8 + C6 batched; ref:
    public_eda_pipeline.py:369-405 loops Python sets per feature).

    Returns a pandas frame (feature, train_nunique, test_nunique,
    unseen_unique_categories, unseen_rate_test_rows), one row per column
    in ``cols`` order. The stacked train and test values, tagged by
    source, reduce to one (source, feature, value) -> rows count table
    (map-side-combined; O(sum of distinct categories) rows), which comes
    to the driver; distinct counts, unseen categories and the
    row-weighted unseen rate (unseen test rows / non-null test rows) are
    set lookups there. A feature with no test rows has rate 0.0."""
    counts = (
        union_stack(
            [stacked_values(train, cols), stacked_values(test, cols)],
            "source", ["train", "test"],
        )
        .groupBy("source", "feature", "value")
        .count()
        .toPandas()
    )
    tr = counts[counts["source"] == "train"]
    te = counts[counts["source"] == "test"]
    seen = set(zip(tr["feature"], tr["value"]))
    unseen = te[[fv not in seen for fv in zip(te["feature"], te["value"])]]
    prof = (
        pd.DataFrame(
            {
                "train_nunique": tr.groupby("feature").size(),
                "test_nunique": te.groupby("feature").size(),
                "unseen_unique_categories": unseen.groupby("feature").size(),
                "unseen_rows": unseen.groupby("feature")["count"].sum(),
                "test_rows": te.groupby("feature")["count"].sum(),
            }
        )
        .reindex(cols)
        .fillna(0)
        .astype("int64")
    )
    rows = prof.pop("test_rows").to_numpy()
    prof["unseen_rate_test_rows"] = np.divide(
        prof.pop("unseen_rows").to_numpy(), rows, out=np.zeros(len(prof)), where=rows > 0
    )
    return prof.rename_axis("feature").reset_index()


def unseen_categories(train: DataFrame, test: DataFrame, col: str) -> DataFrame:
    """Distinct values of ``col`` present in test but absent from train
    (operator C6; ref: public_eda_pipeline.py:383-397 does this with Python
    sets — the idiomatic distributed form is a left-anti join on distincts).
    """
    t = test.select(col).na.drop().distinct()
    tr = train.select(col).na.drop().distinct()
    return t.join(tr, on=col, how="left_anti")


def unseen_rate_rows(train: DataFrame, test: DataFrame, col: str) -> DataFrame:
    """Row-weighted unseen rate (ref line 396): share of *test rows* whose
    category was never seen in train. Left join + null-mean, one shuffle."""
    tr = train.select(col).na.drop().distinct().withColumn("__seen", F.lit(1))
    joined = test.select(col).na.drop().join(tr, on=col, how="left")
    return joined.agg(
        F.avg(F.col("__seen").isNull().cast("double")).alias("unseen_rate"),
        F.count(F.lit(1)).alias("n_rows"),
    )
