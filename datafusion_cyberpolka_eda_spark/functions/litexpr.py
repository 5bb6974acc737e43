"""Render constant vectors/matrices as ONE Spark SQL literal expression.

Building a k x dim literal array with ``F.array(*[F.lit(x) ...])`` costs
k*dim py4j round-trips (~1-3 ms each) — measured 2.0 s at 8x64 and 5.4 s
at 32x64 of pure DRIVER-side Column construction, re-paid on EVERY plan
build (every bench rep, every Lloyd superstep, every streaming epoch;
guide §1.2 "per-task work" applied to the driver). Rendering the same
constants into one SQL string and parsing it with a single ``F.expr``
call is 50-100x cheaper and yields bit-identical values:

- longs: decimal text with the ``L`` suffix is exact;
- doubles: ``repr(float)`` is the shortest round-trip decimal form and
  both Python ``float()`` and Java ``Double.parseDouble`` are correctly
  rounded, so the parsed double is bit-identical to the source value
  (the ``D`` suffix forces DOUBLE — a bare decimal literal would parse
  as DECIMAL).

The dot-product/distance builders below keep the same element order and
fold direction (``aggregate`` left-fold over ``zip_with``) as the
``F.array``-based forms they replace, so integer results are identical
and float results are IEEE-identical — verified bitwise against the old
expressions in tests and by the full-registry sweeps.

The same holds for wide expression LISTS: under PySpark 4's origin
tracking each Column call (``F.col``, ``.cast``, ``F.sum``, ``.alias``)
is its own py4j round-trip or more, so an aggregate list of a few
hundred entries costs thousands of them. Rendering each expression as
SQL text (``sql_ident`` for names, the literals above) and passing the
list to ``DataFrame.selectExpr`` costs about one round-trip per
expression; the text spells each expression exactly as the Column form
did (same casts, same operand order), so Catalyst builds the same plan
and the values are bit-identical. (``spark.sql`` over a ``{df}``
argument would be cheaper still, but its temporary view hides the
DataFrame's lineage from the cache manager: a cached input is re-read.)
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

_I64_MIN = -(2**63)


def sql_long(v: int) -> str:
    """One exact BIGINT literal (Long.MIN_VALUE needs the subtraction
    form: the parser reads the digits before the unary minus)."""
    v = int(v)
    if v == _I64_MIN:
        return "(-9223372036854775807L - 1L)"
    return f"{v}L"


def sql_double(x: float) -> str:
    """One exact DOUBLE literal (see module docstring for why repr is
    bit-exact). Centroid/plane data is always finite; guard anyway."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def sql_ident(name: str) -> str:
    """One backquoted identifier (an embedded backquote is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_long_array(vec: Iterable[int]) -> str:
    return "array(" + ",".join(sql_long(v) for v in vec) + ")"


def sql_double_array(vec: Iterable[float]) -> str:
    return "array(" + ",".join(sql_double(x) for x in vec) + ")"


def sql_long_matrix(mat: Sequence[Iterable[int]]) -> str:
    return "array(" + ",".join(sql_long_array(r) for r in mat) + ")"


def sql_double_matrix(mat: Sequence[Iterable[float]]) -> str:
    return "array(" + ",".join(sql_double_array(r) for r in mat) + ")"


def double_matrix_lit(mat: Sequence[Iterable[float]]) -> Column:
    """The matrix itself as one array<array<double>> column."""
    return F.expr(sql_double_matrix(mat))


def dots_literal(vec_col: str, mat: Sequence[Iterable[float]]) -> Column:
    """array<double> of dot(row[vec_col], mat[j]) for every row j —
    same left-fold zip_with arithmetic as the per-centroid
    ``F.aggregate(F.zip_with(...))`` form it replaces."""
    return F.expr(
        f"transform({sql_double_matrix(mat)}, _ce -> "
        f"aggregate(zip_with(`{vec_col}`, _ce, (_a, _b) -> _a * _b), "
        f"0D, (_acc, _v) -> _acc + _v))"
    )


def dot_literal(vec_col: str, vec: Iterable[float]) -> Column:
    """dot(row[vec_col], vec) as one parsed expression."""
    return F.expr(
        f"aggregate(zip_with(`{vec_col}`, {sql_double_array(vec)}, "
        f"(_a, _b) -> _a * _b), 0D, (_acc, _v) -> _acc + _v)"
    )


def sqdists_literal_q(vec_col: str, mat_q: Sequence[Iterable[int]]) -> Column:
    """array<long> of exact integer squared distances from the quantized
    row vector to every quantized centroid — the _lloyd_dists arithmetic
    ((x-c)*(x-c) summed as int64, wrap-identical to the old form)."""
    return F.expr(
        f"transform({sql_long_matrix(mat_q)}, _cq -> "
        f"aggregate(zip_with(`{vec_col}`, _cq, (_x, _c) -> (_x - _c) * (_x - _c)), "
        f"0L, (_acc, _v) -> _acc + _v))"
    )
