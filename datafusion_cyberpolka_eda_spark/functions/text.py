"""Text-analysis column expressions (north-star extension, SURVEY.md §2
family L): tokenization, shingling, quality scoring, language-ID heuristic,
document fingerprinting. All built from JVM-side `pyspark.sql.functions`
(split/transform/aggregate/xxhash64) — no Python UDFs in the hot path, so
every expression runs inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str | Column, sep: str = " ") -> Column:
    """Whitespace tokenization. Single-space split (matches the oracle's
    string_split); swap sep for a regex for messier corpora."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, sep)


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def regex_token_count(col: str | Column, pattern: str = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]") -> Column:
    """BPE-ish token count: word pieces plus standalone punctuation — the
    cheap stand-in for a real tokenizer when budgeting training tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct not applied here), built by
    zipping n shifted slices of the token array.

    Deliberately avoids indexing (`element_at(tokens, i)` inside a
    transform): Catalyst inlines the `split` into every element access, so
    the text would be re-split O(tokens * n) times per row — a measured
    ~10x slowdown. With slices, `split` appears O(n) times per row.
    Documents with fewer than n tokens yield an empty array."""
    t = tokens(col)
    length = F.greatest(F.size(t) - (n - 1), F.lit(0))
    acc = F.slice(t, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(t, j + 1, length), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return acc


# Minimal marker-word sets for the language-ID heuristic. On real corpora
# these would be the top character n-grams / stopwords per language.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "un"],
    "es": ["el", "la", "de", "que", "los"],
    "zh": ["的", "是", "了", "在", "我"],
}


def marker_hits(col: str | Column, markers: list[str]) -> Column:
    """Count of marker tokens present (distinct) — a lang score."""
    t = tokens(col)
    m = F.array(*[F.lit(w) for w in markers])
    return F.size(F.array_intersect(t, m))


def lang_id(col: str | Column, marker_sets: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: argmax of marker-hit scores, 'und' when no
    marker matches. Deterministic tie-break by language code order."""
    marker_sets = marker_sets or LANG_MARKERS
    best = F.lit("und")
    best_score = F.lit(0)
    for code in sorted(marker_sets):
        score = marker_hits(col, marker_sets[code])
        is_better = score > best_score
        best = F.when(is_better, F.lit(code)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


def doc_fingerprint(col: str | Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    token xxhash64 values, mod the Mersenne prime 2^31-1 so intermediate
    products stay inside signed-long range (Spark 4 runs ANSI mode — plain
    wraparound multiplication raises ARITHMETIC_OVERFLOW). Pure JVM
    expression; docs with identical token sequences collide."""
    p = F.lit(2147483647).cast("long")  # 2^31 - 1
    t = tokens(col)
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * F.lit(31) + F.pmod(F.xxhash64(w), p), p),
    )


N_SIMHASH_BITS = 63  # bits 0..62 of xxhash64; bit 63 skipped so the
# fingerprint stays in non-negative signed-long range (no unsigned type in
# Spark SQL, and shift-by-column isn't exposed — 2^i via exact double pow)


def simhash(col: str | Column, hash_fn=None, n_bits: int | None = None) -> Column:
    """63-bit SimHash over tokens: per bit, sum +1/-1 according to each
    token's xxhash64 bit; the sign becomes the output bit. Expressed as
    nested array aggregation — per-row, JVM-side, no shuffle.

    `hash_fn`/`n_bits` swap the token hash family — e.g. the portable
    60-bit md5 hash (functions/hashing.md5_hash64) whose fingerprints the
    DuckDB oracle recomputes bit-for-bit."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    if n_bits is None:
        n_bits = N_SIMHASH_BITS
    # Fast path: the whole fingerprint as ONE parsed SQL expression.
    # The unrolled per-bit when-array below costs ~400 py4j round-trips
    # of driver time per plan build (~0.7 s, re-paid every build — r13
    # litexpr finding); the parsed form replaces the unrolled whens with
    # transform over sequence(0, n_bits-1) using shift-by-column (not
    # exposed in the Python API, fine in SQL). Bit arithmetic, token
    # hashing, fold order and the pow-based bit values are unchanged —
    # tests/test_llm_ops.py::test_portable_simhash_matches_python pins the
    # md5 family's fingerprints to a plain-Python simhash, and
    # ::test_xxhash_simhash_fast_path_matches_unrolled pins this path to
    # the unrolled form below for the xxhash64 family.
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    if isinstance(col, str) and (hash_fn is F.xxhash64 or hash_fn is md5_hash64):
        hsql = (
            "xxhash64(_w)"
            if hash_fn is F.xxhash64
            else "CAST(conv(substring(md5(_w), 1, 15), 16, 10) AS BIGINT)"
        )
        return F.expr(
            f"aggregate("
            f"  zip_with("
            f"    aggregate("
            f"      transform(split(`{col}`, ' '), _w -> {hsql}),"
            f"      array_repeat(0, {n_bits}),"
            f"      (_acc, _h) -> zip_with(_acc,"
            f"        transform(sequence(0, {n_bits - 1}),"
            f"          _i -> IF((shiftright(_h, _i) & 1) = 1, 1, -1)),"
            f"        (_a, _b) -> _a + _b)),"
            f"    sequence(0, {n_bits - 1}),"
            f"    (_cnt, _i) -> IF(_cnt > 0,"
            f"      CAST(power(2.0D, CAST(_i AS DOUBLE)) AS BIGINT),"
            f"      CAST(0 AS BIGINT))),"
            f"  CAST(0 AS BIGINT), (_acc, _x) -> _acc + _x)"
        )
    t = tokens(col)
    zero = F.array_repeat(F.lit(0), n_bits)
    # hash each token ONCE into a lambda variable; referencing `h` inside
    # the per-bit whens is a variable read — writing xxhash64(w) there
    # would re-inline the hash 63 times per token (measured ~4x slowdown)
    hashes = F.transform(t, lambda w: hash_fn(w))
    bit_counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for i in range(n_bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    # set-bit values: 2^i is exact as double for i <= 62, so pow+cast is a
    # safe stand-in for shiftleft-by-column; bits are disjoint, sum == OR
    return F.aggregate(
        F.zip_with(
            bit_counts,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda cnt, i: F.when(
                cnt > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
