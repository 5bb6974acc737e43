"""functions.litexpr: the one-expr literal renderers must be BIT-identical
to the F.array(*[F.lit(...)]) forms they replaced (r13 optimization — the
old forms cost k*dim py4j round-trips per plan build)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions import litexpr as LX


EDGE_DOUBLES = [
    0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1e-300, -1e-300, 1e300,
    1.7976931348623157e308, 5e-324, 2.2250738585072014e-308,
    0.30000000000000004, 1 / 3, -7.234561234987e-5,
]


def test_sql_double_roundtrips_bitwise(spark):
    import struct

    vals = EDGE_DOUBLES + [random.Random(7).uniform(-1e6, 1e6) for _ in range(50)]
    row = spark.range(1).select(
        *[F.expr(LX.sql_double(x)).alias(f"c{i}") for i, x in enumerate(vals)]
    ).first()
    for i, x in enumerate(vals):
        got = row[f"c{i}"]
        assert struct.pack("<d", got) == struct.pack("<d", x), (x, got)


def test_sql_long_edges(spark):
    vals = [0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    row = spark.range(1).select(
        *[F.expr(LX.sql_long(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).first()
    for i, v in enumerate(vals):
        assert row[f"c{i}"] == v


def test_dots_literal_matches_old_form(spark):
    rng = random.Random(13)
    dim, k, n = 16, 5, 40
    mat = [[rng.uniform(-2, 2) for _ in range(dim)] for _ in range(k)]
    df = spark.createDataFrame(
        [(i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(n)],
        "id bigint, unit_arr array<double>",
    )

    def dot_old(vec):
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return F.aggregate(
            F.zip_with(F.col("unit_arr"), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    old = df.select(
        "id", F.array(*[dot_old(c) for c in mat]).alias("d")
    ).orderBy("id").collect()
    new = df.select(
        "id", LX.dots_literal("unit_arr", mat).alias("d")
    ).orderBy("id").collect()
    import struct

    for a, b in zip(old, new):
        assert a["id"] == b["id"]
        for x, y in zip(a["d"], b["d"]):
            assert struct.pack("<d", x) == struct.pack("<d", y)


def test_sqdists_literal_matches_old_form(spark):
    rng = random.Random(29)
    dim, k, n = 12, 4, 30
    # QSCALE-magnitude components (|x| ~ 2^20): (x-c)^2 summed over
    # dim stays far inside int64, matching the real quantized range
    mat = [[rng.randint(-(2**20), 2**20) for _ in range(dim)] for _ in range(k)]
    df = spark.createDataFrame(
        [(i, [rng.randint(-(2**20), 2**20) for _ in range(dim)]) for i in range(n)],
        "id bigint, q array<bigint>",
    )
    old = df.select(
        "id",
        F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "q",
                        F.array(*[F.lit(int(c)).cast("long") for c in cq]),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                for cq in mat
            ]
        ).alias("d"),
    ).orderBy("id").collect()
    new = df.select(
        "id", LX.sqdists_literal_q("q", mat).alias("d")
    ).orderBy("id").collect()
    assert [tuple(r["d"]) for r in old] == [tuple(r["d"]) for r in new]


def test_dot_literal_matches_old_form(spark):
    rng = random.Random(31)
    dim, n = 24, 25
    vec = [rng.uniform(-1, 1) for _ in range(dim)]
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)],
        "id bigint, unit_arr array<double>",
    )
    arr = F.array(*[F.lit(float(x)) for x in vec])
    old = df.select(
        "id",
        F.aggregate(
            F.zip_with(F.col("unit_arr"), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d"),
    ).orderBy("id").collect()
    new = df.select(
        "id", LX.dot_literal("unit_arr", vec).alias("d")
    ).orderBy("id").collect()
    import struct

    assert [struct.pack("<d", r["d"]) for r in old] == [
        struct.pack("<d", r["d"]) for r in new
    ]


# ---- SQL-text aggregate lists: each builder vs the Column form it
# replaced, on a frame with nulls, NaN and both zero signs ----------------

WIDE_ROWS = [
    (1, 0.0, -0.0, 1.5, 1, 0),
    (2, -0.0, 0.0, None, 0, 1),
    (3, float("nan"), 2.25, -3.0, 1, 1),
    (4, None, None, 0.1, None, 0),
    (5, 3.5, -7.125, float("nan"), 0, None),
    (6, 1e-300, 1e300, -0.0, 1, 0),
    (7, -2.5, 0.3, 4.0, 0, 0),
    (8, 7.75, -0.1, None, 1, 1),
]


@pytest.fixture(scope="module")
def wide(spark):
    return spark.createDataFrame(
        WIDE_ROWS, "id bigint, a double, b double, c double, y1 int, y2 int"
    )


def _bits(v):
    import struct

    return struct.pack("<d", v) if isinstance(v, float) else v


def _assert_same(old, new):
    """Same optimized plan (canonicalized: the parsed text may spell a
    literal as an expression, e.g. -0.0D, that folds to the same value),
    the same names and bit-identical values."""
    plan = lambda df: df._jdf.queryExecution().optimizedPlan()  # noqa: E731
    assert plan(new).sameResult(plan(old))
    assert new.columns == old.columns
    a, b = old.collect(), new.collect()
    assert [[_bits(v) for v in r] for r in a] == [[_bits(v) for v in r] for r in b]


def test_moment_aggs_sql_matches_old_form(wide):
    from datafusion_cyberpolka_eda_spark.operators import stats as S

    xs, ys = ["a", "b", "c"], ["y1", "y2", "a"]
    old = [F.count(F.lit(1)).alias("__n")]
    for c in dict.fromkeys(xs + ys):
        d = F.col(c).cast("double")
        old += [F.sum(d).alias(f"s_{c}"), F.sum(d * d).alias(f"q_{c}")]
    for i, (x, y) in enumerate((x, y) for x in xs for y in ys):
        old.append(
            F.sum(F.col(x).cast("double") * F.col(y).cast("double")).alias(f"xy_{i}")
        )
    _assert_same(wide.agg(*old), wide.selectExpr(*S.moment_aggs_sql(xs, ys)))


def test_mean_impute_sql_matches_old_form(wide):
    from datafusion_cyberpolka_eda_spark.operators import stats as S

    cols = ["c", "a", "y1"]
    old_means = wide.agg(*[F.avg(F.col(c).cast("double")).alias(c) for c in cols])
    new_means = wide.selectExpr(*[f"avg(CAST(`{c}` AS DOUBLE)) AS `{c}`" for c in cols])
    _assert_same(old_means, new_means)
    # the projection, with literal means covering NaN, -0.0 and subnormals
    means = {"c": float("nan"), "a": -0.0, "y1": 5e-324}
    old = wide.select(
        *[c for c in wide.columns if c not in cols],
        *[F.coalesce(F.col(c).cast("double"), F.lit(means[c])).alias(c) for c in cols],
    )
    _assert_same(old, wide.selectExpr(*S.impute_sql(wide.columns, means)))
    # and the operator end to end
    got = S.mean_impute(wide, cols)
    assert got.columns == old.columns
    assert got.filter(F.col("c").isNull()).count() == 0


def test_contingency_aggs_sql_matches_old_form(wide):
    from datafusion_cyberpolka_eda_spark.operators import stats as S

    cut = {"a": 1e-300, "b": -0.0, "c": float("nan")}
    pairs = [(f, t) for f in cut for t in ("y1", "y2")]
    old = []
    for i, (f, t) in enumerate(pairs):
        top = F.col(f) >= F.lit(cut[f])
        y = F.col(t).cast("double")
        old += [
            F.sum(top.cast("long")).alias(f"tn_{i}"),
            F.sum(F.when(top, y).otherwise(F.lit(0.0))).alias(f"tp_{i}"),
            F.sum((~top).cast("long")).alias(f"rn_{i}"),
            F.sum(F.when(~top, y).otherwise(F.lit(0.0))).alias(f"rp_{i}"),
        ]
    _assert_same(wide.agg(*old), wide.selectExpr(*S.contingency_aggs_sql(pairs, cut)))


def test_indicator_sums_match_column_aggregate(wide):
    """The missing-indicator screen's driver sums equal, bit for bit, the
    Spark aggregate it replaced (NaN is not null; a null target adds 0)."""
    from datafusion_cyberpolka_eda_spark.pipeline.eda import indicator_sums

    feats, targets = ["a", "c"], ["y1", "y2"]
    old = [F.count(F.lit(1)).alias("__n")]
    for f in feats:
        ind = F.col(f).isNull().cast("double")
        old.append(F.sum(ind).alias(f"ind_{f}"))
        for t in targets:
            old.append(F.sum(ind * F.col(t).cast("double")).alias(f"iy_{f}_{t}"))
    for t in targets:
        old.append(F.sum(F.col(t).cast("double")).alias(f"y_{t}"))
    want = wide.agg(*old).first()
    got = indicator_sums(wide, feats, targets)
    assert got.n == want["__n"]
    for i, f in enumerate(feats):
        assert _bits(float(got.ind[i])) == _bits(want[f"ind_{f}"])
        for j, t in enumerate(targets):
            assert _bits(float(got.iy[i, j])) == _bits(want[f"iy_{f}_{t}"])
    for j, t in enumerate(targets):
        assert _bits(float(got.y[j])) == _bits(want[f"y_{t}"])
    assert got.ind.tolist() == [1, 2] and got.iy.tolist() == [[0, 0], [1, 2]]


def test_sql_ident_quotes_backquotes(spark):
    df = spark.createDataFrame([(1,)], "`we``ird` int")
    assert df.selectExpr(f"{LX.sql_ident('we`ird')} + 1 AS x").first()["x"] == 2
