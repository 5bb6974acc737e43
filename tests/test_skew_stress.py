"""Skew stress for the training-export pair (packing l19, sharded export
a10): a hot-key corpus (one lang = 80% of rows, doc_ids dense in a narrow
band) must NOT straggler-collapse either operator.

Why this matters at 100 TB: real corpora are Zipf-skewed (English dwarfs
everything). The packing shard key is id arithmetic — NOT the skewed
attribute — so shards stay balanced no matter how skewed lang is; the
range-export's partitioner SAMPLES doc_id, so a dense hot band splits
across partitions instead of landing on one executor. These tests pin
both properties with explicit per-shard/per-partition row bounds.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """10k docs: 80% lang='hot' with doc_ids dense in [0, 8000) (one id
    apart), 20% spread over a 10x wider sparse band. Token sizes differ
    by stratum so packing sees skewed work per row too."""
    hot = spark.range(0, 8000).select(
        F.col("id").alias("doc_id"),
        F.lit("hot").alias("lang"),
        (F.pmod(F.col("id") * 2654435761, F.lit(200)) + 20)
        .cast("long")
        .alias("n_tokens"),
    )
    cold = spark.range(0, 2000).select(
        (8000 + F.col("id") * 41).alias("doc_id"),
        F.concat(F.lit("c"), F.pmod(F.col("id"), F.lit(19)).cast("string")).alias(
            "lang"
        ),
        (F.pmod(F.col("id") * 2246822519, F.lit(500)) + 50)
        .cast("long")
        .alias("n_tokens"),
    )
    return hot.unionByName(cold)


class TestPackingSkew:
    def test_shards_balanced_under_lang_skew(self, spark, skewed_docs):
        from datafusion_cyberpolka_eda_spark.operators.packing import (
            pack_greedy_by_shard,
        )

        n_shards = 8
        out = pack_greedy_by_shard(
            skewed_docs, "doc_id", "n_tokens", cap=1024, n_shards=n_shards
        ).collect()
        assert all(r["within_cap"] for r in out)
        docs_per_shard = {}
        for r in out:
            docs_per_shard[r["shard"]] = docs_per_shard.get(r["shard"], 0) + int(
                r["n_docs"]
            )
        assert len(docs_per_shard) == n_shards
        assert sum(docs_per_shard.values()) == 10_000
        # id-mod sharding ignores the skewed attribute entirely: every
        # shard holds 10000/8 = 1250 docs +- the cold-stride aliasing
        lo, hi = min(docs_per_shard.values()), max(docs_per_shard.values())
        assert hi <= 1.3 * lo, f"shard imbalance: {docs_per_shard}"

    def test_per_shard_work_is_linear_not_global(self, spark, skewed_docs):
        """The greedy loop runs per shard: total bins across shards must be
        within one partial bin per shard of the token-volume lower bound —
        proof no shard degenerated into per-row bins under skew."""
        from datafusion_cyberpolka_eda_spark.operators.packing import (
            pack_greedy_by_shard,
        )

        cap, n_shards = 1024, 8
        out = pack_greedy_by_shard(
            skewed_docs, "doc_id", "n_tokens", cap=cap, n_shards=n_shards
        ).collect()
        total_tokens = sum(int(r["total_tokens"]) for r in out)
        n_bins = len(out)
        lower = -(-total_tokens // cap)  # ceil: perfect packing
        # greedy waste is bounded: each bin except the last per shard is
        # > cap/2 full ONLY for adversarial sizes; a loose 2x + shards
        # bound still catches per-row-bin collapse (which would be ~10k)
        assert n_bins <= 2 * lower + n_shards, (n_bins, lower)


class TestRangeExportSkew:
    def test_hot_band_splits_across_partitions_and_files(
        self, spark, skewed_docs
    ):
        cap = 500
        n_parts = 8
        with tempfile.TemporaryDirectory(prefix="skew_export_") as d:
            path = os.path.join(d, "shards")
            (
                skewed_docs.repartitionByRange(n_parts, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .option("maxRecordsPerFile", cap)
                .parquet(path)
            )
            back = spark.read.parquet(path)
            assert back.count() == 10_000
            fstats = (
                back.select("doc_id", "_metadata.file_path")
                .groupBy("file_path")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.min("doc_id").alias("lo"),
                    F.max("doc_id").alias("hi"),
                )
                .collect()
            )
            # row cap holds per file even inside the hot band
            assert max(r["n_rows"] for r in fstats) <= cap
            # the dense 80% band [0, 8000) must occupy MULTIPLE range
            # partitions (sampled boundaries adapt to density) — i.e. the
            # files covering it come from >= 4 distinct write tasks
            hot_files = [r for r in fstats if r["hi"] < 8000]
            hot_tasks = {
                os.path.basename(r["file_path"]).split("-")[1]
                for r in hot_files
            }
            assert len(hot_tasks) >= 4, (
                f"hot band collapsed onto {len(hot_tasks)} task(s)"
            )
            # global range order: per-file [lo, hi] pairwise disjoint
            spans = sorted((r["lo"], r["hi"]) for r in fstats)
            for (_, prev_hi), (lo, _) in zip(spans, spans[1:]):
                assert prev_hi < lo


class TestAqeSkewJoinFires:
    """AQE skew-join evidence (r6 verdict task 5): the automatic
    counterpart of the hand-salted c9/c12 entries. Build a deliberately
    skewed sort-merge join, run it, and assert Spark's runtime skew
    split actually fired — SortMergeJoin(skew=true) in the FINAL
    adaptive plan. At 100x data a hot key relies on exactly this path,
    so a config/regression that silently disables it must fail CI."""

    def test_skew_split_fires_in_final_plan(self, spark):
        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # keep AQE from first coalescing tiny test partitions into one
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        }
        saved = {}
        for k, v in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            # 400k rows on ONE hot key vs 40k spread keys; the probe side
            # carries a fat payload so the hot partition crosses the 64KB
            # skew threshold by orders of magnitude
            left = spark.range(0, 440_000).select(
                F.when(F.col("id") < 400_000, F.lit(7))
                .otherwise(F.pmod(F.col("id"), F.lit(1000)) + 100)
                .alias("k"),
                F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias(
                    "payload"
                ),
            )
            right = spark.range(0, 2000).select(
                F.pmod(F.col("id"), F.lit(1100)).alias("k"),
                F.col("id").alias("rv"),
            )
            # GLOBAL agg, not groupBy(k): a grouped agg on the join key
            # requires the join's hash partitioning downstream, and AQE
            # (correctly) refuses to skew-split a join whose output
            # partitioning is still needed — the global agg's partial
            # stage has no such requirement, so the split is legal.
            # The agg MUST consume the payload: otherwise column pruning
            # shuffles bare 8-byte keys whose near-constant hot partition
            # compresses below any realistic skew threshold
            joined = left.join(right, "k").agg(
                F.sum(F.length("payload")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            joined.collect()  # AQE finalizes the plan only on execution
            final_plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in final_plan
            assert "skew=true" in final_plan, (
                "AQE skew split did not fire:\n" + final_plan[:4000]
            )
        finally:
            for k, v in saved.items():
                if v is None:
                    try:
                        spark.conf.unset(k)
                    except Exception:
                        pass
                else:
                    spark.conf.set(k, v)


class TestChunkingMegaDoc:
    def test_mega_doc_chunks_correctly_and_boundedly(self, spark):
        """A single 100k-token document (the Zipf tail of real corpora —
        one book among tweets) must chunk to exactly the arithmetic
        count with bounded per-chunk size, via the map-side explode (no
        window state, so a mega-doc costs one task's CPU, not a spilled
        sort): ceil fanout = floor((n-1)/stride)+1, every non-final
        chunk exactly `window` tokens."""
        from datafusion_cyberpolka_eda_spark.registry.llm import chunk_docs

        n = 100_000
        mega = spark.createDataFrame(
            [(1, "en", " ".join(["w"] * n))],
            "doc_id long, lang string, text string",
        )
        ch = chunk_docs(mega).collect()
        starts = sorted(r.start_tok for r in ch)
        # starts 0, 24, 48, ... ; last start <= n-1; tails < 8 dropped
        expected = [s for s in range(0, n, 24) if min(32, n - s) >= 8 or s == 0]
        assert starts == expected
        assert all(r.chunk_tokens <= 32 for r in ch)
        total = sum(r.chunk_tokens for r in ch)
        # overlap-adjusted coverage: every token covered at least once
        assert total >= n


class TestSparseCosineHotTerm:
    def test_hot_term_is_pruned_not_joined(self, spark, tmp_path):
        """A stopword-grade bigram shared by EVERY doc must contribute
        zero candidate pairs (df > cap prunes it before the self-join) —
        the property that keeps the term-join fanout linear at 100 TB.
        200 docs all containing 'the end' but otherwise unique: without
        the prune the join would emit 19,900 candidate pairs; with it,
        none."""
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            l48_sparse_cosine_pairs,
        )

        docs = [
            (i, "en", f"u{i} v{i} the end w{i} x{i}", "s") for i in range(200)
        ]
        df = spark.createDataFrame(
            docs, "doc_id long, lang string, text string, source string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = l48_sparse_cosine_pairs(spark, str(tmp_path)).collect()
        assert out == []
