"""Incremental survivor maintenance (l34) and cluster-safe splitting
(l35): the survivor re-pick must reproduce from-scratch picks (including
the 'changed' transition a longer day-2 arrival causes), and the split
must never put two near-duplicate documents in different splits."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.registry.llm_incremental import _pick_survivors
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


class TestPickPolicy:
    def test_longest_wins_ties_to_lowest_id(self, spark):
        members = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "id bigint, comp bigint",
        )
        toks = spark.createDataFrame(
            [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)],
            "doc_id bigint, n_tokens bigint",
        )
        got = {
            r["comp"]: (r["picked_id"], r["picked_n_tokens"])
            for r in _pick_survivors(members, toks).collect()
        }
        # comp 1: 2 and 3 tie at 9 tokens -> lowest id 2; comp 10: tie -> 10
        assert got == {1: (2, 9), 10: (10, 4)}


class TestIncrementalSurvivorTransitions:
    def test_changed_pick_when_longer_doc_joins(self, spark):
        """Day-1 cluster {10, 11} picks 10 (4 tokens, tie to lowest id).
        Day-2 doc 50 (9 tokens) joins it -> the re-pick over the affected
        cluster must switch to 50 ('changed'), while untouched cluster
        {1, 2} stays out of the delta entirely."""
        old_edges = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a bigint, id_b bigint"
        )
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        toks_old = spark.createDataFrame(
            [(1, 7), (2, 6), (10, 4), (11, 4)], "doc_id bigint, n_tokens bigint"
        )
        old_surv = _pick_survivors(old_labels, toks_old)
        assert {
            r["comp"]: r["picked_id"] for r in old_surv.collect()
        } == {1: 1, 10: 10}

        new_edges = spark.createDataFrame([(11, 50)], "id_a bigint, id_b bigint")
        updated = D.incremental_components(old_labels, new_edges)
        toks = toks_old.union(
            spark.createDataFrame([(50, 9)], "doc_id bigint, n_tokens bigint")
        )
        pick = _pick_survivors(updated, toks)
        status = (
            pick.join(
                old_surv.select("comp", F.col("picked_id").alias("old_picked_id")),
                "comp",
                "left",
            )
            .select(
                "comp",
                "picked_id",
                F.when(F.col("old_picked_id").isNull(), F.lit("new_cluster"))
                .when(F.col("old_picked_id") != F.col("picked_id"), F.lit("changed"))
                .otherwise(F.lit("unchanged"))
                .alias("status"),
            )
            .collect()
        )
        got = {r["comp"]: (r["picked_id"], r["status"]) for r in status}
        assert got == {10: (50, "changed")}

    def test_registry_entry_reuses_stores_across_calls(self, spark, sf_dir):
        """The l34 stats/survivor stores are memoized per (session, data):
        a second call must reuse the SAME parquet files."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        L.l34_incremental_survivors(spark, sf_dir).collect()
        stores = [v for k, v in L._INCR_SURV_CACHE.items() if sf_dir in k]
        assert stores, "survivor-store cache empty after l34 run"
        stats_path, surv_path = stores[-1]

        def mtimes():
            out = []
            for path in (stats_path, surv_path):
                for r, _d, files in os.walk(path):
                    out.extend((f, os.stat(os.path.join(r, f)).st_mtime_ns) for f in files)
            return sorted(out)

        before = mtimes()
        L.l34_incremental_survivors(spark, sf_dir).collect()
        assert mtimes() == before


class TestClusterSafeSplit:
    def test_no_near_dup_pair_straddles_splits(self, spark, sf_dir):
        """The leakage guarantee: for EVERY exact-Jaccard>=0.5 pair, both
        endpoints carry the same split (split is a function of the shared
        canonical id — recomputed here independently of the registry
        aggregation, which only exposes per-split counts)."""
        from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

        docs = load_table(spark, sf_dir, "documents")
        pairs = D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).localCheckpoint(eager=True)
        assert pairs.count() > 0, "test needs at least one near-dup pair"
        comps = D.connected_components(pairs, "id_a", "id_b")
        lab = docs.join(
            comps.withColumnRenamed("id", "doc_id"), "doc_id", "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("canonical_id"),
        )
        bucket = F.pmod(md5_hash64(F.col("canonical_id").cast("string")), F.lit(100))
        assign = lab.select(
            "doc_id",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("validation"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        straddle = (
            pairs.join(
                assign.select(
                    F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
                ),
                "id_a",
            )
            .join(
                assign.select(
                    F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
                ),
                "id_b",
            )
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )
        assert straddle == 0

    def test_split_covers_every_doc_exactly_once(self, spark, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            l35_cluster_safe_split,
        )

        docs_n = load_table(spark, sf_dir, "documents").count()
        agg = l35_cluster_safe_split(spark, sf_dir)
        assert agg.agg(F.sum("n_docs")).collect()[0][0] == docs_n
        splits = {r["split"] for r in agg.select("split").distinct().collect()}
        assert splits <= {"train", "validation", "test"}
        assert "train" in splits


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
