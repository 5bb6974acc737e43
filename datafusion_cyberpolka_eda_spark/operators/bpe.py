"""Iterative BPE training loop (r6 verdict task 3) — the tokenizer-training
primitive l28 only showed one step of: k rounds of (count adjacent pairs ->
pick the most frequent -> greedily merge its occurrences -> re-pair).

Reference scope note: the reference engine has no tokenizer training at
all (ref:eda_workspace/public_eda_pipeline.py is EDA-only); this is the
SURVEY §2-L training-data extension surface, modeled on how production
BPE vocabularies are actually trained.

Scale design (the PageRank superstep pattern, registry/extra.py): each
round is ONE map-side-combined pair-count groupBy + a TakeOrdered(1)
reduction (the argmax pair — a single row to the driver, the
driver-matrix boundary) + a map-side fold that rewrites each doc's token
array in place. The corpus never leaves the executors; lineage is cut
per round so the k-round plan stays flat. At 100 TB you run the loop on
a corpus sample — exactly how real BPE vocabularies are trained.

Merged tokens are space-joined ("a b"), so a merged token is always the
exact text span it covers and can never collide with a single token
(single tokens are space-split and contain no spaces).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_col(text_col: str) -> Column:
    """Non-empty whitespace tokens. NOTE: unlike l28's pair filter (which
    keeps empty tokens in the array and drops empty-sided pairs), empties
    are removed from the array BEFORE pairing, so runs of whitespace do
    not break adjacency; the l28b oracle applies the same rule."""
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != "")


def pair_counts(toks: DataFrame, tok_col: str = "toks") -> DataFrame:
    """(a, b, pair_count) for every adjacent token pair — one explode +
    one map-side-combined groupBy, the l28 shape over an array column."""
    t = F.col(tok_col)
    n = F.size(t)
    a_arr = F.slice(t, 1, F.greatest(n - 1, F.lit(0)))
    b_arr = F.slice(t, 2, F.greatest(n - 1, F.lit(0)))
    pairs = toks.select(
        F.explode(
            F.zip_with(a_arr, b_arr, lambda x, y: F.struct(x.alias("a"), y.alias("b")))
        ).alias("p")
    ).select("p.a", "p.b")
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("pair_count"))


def greedy_merge_expr(tok_col: str, a: str, b: str) -> Column:
    """Left-to-right greedy merge of adjacent (a, b) into "a b" — the BPE
    apply step, as a single JVM fold (no shuffle, no UDF): walk the array
    once; when the previous kept token is `a` and the current is `b`,
    replace the pair with the merged token. Because the merged token
    contains a space it can never re-match `a` within the same pass, which
    is exactly the textbook non-overlapping greedy rule ("a a a" with pair
    (a,a) -> ["a a", a])."""
    acc0 = F.array().cast("array<string>")
    merged = F.lit(a + " " + b)
    return F.aggregate(
        F.col(tok_col),
        acc0,
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str,
    k: int = 5,
    carry_cols: tuple[str, ...] = (),
    encode: bool = True,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Train k BPE merges over the corpus; returns (merge_table,
    encoded_docs) — the merge table [(step, a, b, pair_count), ...] in
    learned order (fewer than k rows only if the corpus runs out of
    adjacent pairs) and the corpus's token arrays AFTER all merges (the
    encode side of tokenizer training), with ``carry_cols`` (e.g. doc_id,
    lang) threaded through. Ties broken deterministically (count desc,
    a asc, b asc) so the learned merges are engine-reproducible — the
    l28b/l28c DuckDB oracles unroll the same k supersteps as chained
    CTEs and must pick identical pairs.

    ``encode=False`` skips the k-th merge application (it only affects
    the encoded corpus, never the merge table) — the merge-table-only
    caller saves one fold+checkpoint job per train."""
    toks = docs.select(*carry_cols, tokens_col(text_col).alias("toks"))
    # one cut up front: the source text column is dropped from lineage.
    # LAZY: the first round's pair-count TakeOrdered materializes it
    # (computes every partition), so no dedicated checkpoint job runs.
    toks = toks.localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, k + 1):
        top = (
            pair_counts(toks)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
        merges.append((step, a, b, c))
        if step == k and not encode:
            break  # last apply only matters for the encoded corpus
        # apply: the fold rewrites arrays map-side; cut lineage every
        # SECOND round (and before returning the encoded corpus) — a
        # two-fold-deep plan stays flat. Lazy cut: the next round's
        # TakeOrdered (or the caller's first action on the encoded
        # corpus) materializes it — no dedicated checkpoint job.
        toks = toks.select(
            *carry_cols, greedy_merge_expr("toks", a, b).alias("toks")
        )
        if step % 2 == 0 or step == k:
            toks = toks.localCheckpoint(eager=False)
    return merges, toks


def bpe_train_merges(
    docs: DataFrame, text_col: str, k: int = 5
) -> list[tuple[int, str, str, int]]:
    """Merge table only — see bpe_train (skips the final apply)."""
    return bpe_train(docs, text_col, k, encode=False)[0]
