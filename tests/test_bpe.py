"""Iterative BPE training (operators/bpe.py, l28b): greedy-merge fold
semantics and the k-merge loop vs hand-computed tiny corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators.bpe import (
    bpe_train_merges,
    greedy_merge_expr,
    pair_counts,
    tokens_col,
)


def _toks(spark, *texts):
    return spark.createDataFrame(
        [(t,) for t in texts], "text string"
    ).select(tokens_col("text").alias("toks"))


class TestGreedyMerge:
    def _apply(self, spark, text, a, b):
        df = _toks(spark, text).select(greedy_merge_expr("toks", a, b).alias("out"))
        return df.collect()[0]["out"]

    def test_simple_merge(self, spark):
        assert self._apply(spark, "x a b y", "a", "b") == ["x", "a b", "y"]

    def test_non_overlapping_same_token_run(self, spark):
        # textbook greedy: "a a a" with pair (a,a) merges positions 1-2 only
        assert self._apply(spark, "a a a", "a", "a") == ["a a", "a"]
        assert self._apply(spark, "a a a a", "a", "a") == ["a a", "a a"]
        assert self._apply(spark, "a a a a a", "a", "a") == ["a a", "a a", "a"]

    def test_adjacent_repeats_distinct_pair(self, spark):
        assert self._apply(spark, "a b a b", "a", "b") == ["a b", "a b"]
        assert self._apply(spark, "a b b", "a", "b") == ["a b", "b"]

    def test_no_match_identity(self, spark):
        assert self._apply(spark, "x y z", "a", "b") == ["x", "y", "z"]

    def test_merged_token_does_not_rematch_in_pass(self, spark):
        # after merging (a,b) -> "a b", a following b must NOT merge again
        assert self._apply(spark, "a b b b", "a", "b") == ["a b", "b", "b"]

    def test_empty_tokens_removed_before_pairing(self, spark):
        # double space: empties dropped, so adjacency survives
        assert self._apply(spark, "a  b", "a", "b") == ["a b"]


class TestPairCounts:
    def test_counts(self, spark):
        rows = {
            (r["a"], r["b"]): r["pair_count"]
            for r in pair_counts(_toks(spark, "x y x y x", "y x")).collect()
        }
        assert rows == {("x", "y"): 2, ("y", "x"): 3}


class TestBpeTrainMerges:
    def test_hand_computed_three_docs(self, spark):
        docs = spark.createDataFrame(
            [("the cat sat",), ("the cat ran",), ("a cat sat",)], "text string"
        )
        merges = bpe_train_merges(docs, "text", k=5)
        # step 1: (cat,sat)=2 ties (the,cat)=2; 'cat' < 'the'
        # step 2: all count 1; 'a' sorts first -> (a, "cat sat")
        # step 3: (cat, ran) wins on a asc among count-1 pairs
        # step 4: (the, "cat ran") < (the, "cat sat") on b
        # step 5: the last remaining pair
        assert merges == [
            (1, "cat", "sat", 2),
            (2, "a", "cat sat", 1),
            (3, "cat", "ran", 1),
            (4, "the", "cat ran", 1),
            (5, "the", "cat sat", 1),
        ]

    def test_same_token_run_then_merged_pair(self, spark):
        docs = spark.createDataFrame([("a a a a",)], "text string")
        merges = bpe_train_merges(docs, "text", k=3)
        # round 1: (a,a)x3 -> ["a a","a a"]; round 2: ("a a","a a")x1 ->
        # ["a a a a"]; round 3: no pairs left -> loop stops early
        assert merges == [(1, "a", "a", 3), (2, "a a", "a a", 1)]

    def test_exhausts_pairs_early(self, spark):
        docs = spark.createDataFrame([("x",), ("y",)], "text string")
        assert bpe_train_merges(docs, "text", k=4) == []


class TestL28bOracleParity:
    def test_small_sf_parity(self, spark, duck, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            _l28b_oracle,
            l28b_bpe_train_k_merges,
        )

        got = [
            (r["step"], r["a"], r["b"], r["pair_count"])
            for r in l28b_bpe_train_k_merges(spark, sf_dir)
            .orderBy("step")
            .collect()
        ]
        want = [tuple(t) for t in duck.sql(_l28b_oracle(5)).fetchall()]
        want = sorted(want)
        assert got == want


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


class TestBpeEncode:

    def test_train_encode_skips_nothing(self, spark):
        """encode=True's returned corpus reflects ALL k merges, including
        the k-th (the merge-table-only path skips that final apply)."""
        from datafusion_cyberpolka_eda_spark.operators.bpe import bpe_train

        docs = spark.createDataFrame([("a b a b",)], "text string")
        merges, enc = bpe_train(docs, "text", k=2)
        assert merges == [(1, "a", "b", 2), (2, "a b", "a b", 1)]
        assert enc.collect()[0]["toks"] == ["a b a b"]

    def test_l28c_oracle_parity(self, spark, duck, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            _l28c_oracle,
            l28c_bpe_encode,
        )

        got = sorted(
            (r["lang"], r["n_docs"], r["tokens_before"], r["tokens_after"],
             r["compression"])
            for r in l28c_bpe_encode(spark, sf_dir).collect()
        )
        want = sorted(tuple(t) for t in duck.sql(_l28c_oracle(5)).fetchall())
        assert got == want
