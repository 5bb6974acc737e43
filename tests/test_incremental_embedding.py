"""Incremental semantic (embedding) dedup (l41): day-2 vectors deduped
against a persisted day-1 store under a FROZEN quantizer must (a) equal
the full from-scratch build restricted to >=1-new-id pairs, (b) never
re-read day-1 vectors (pushed increment predicate), and (c) assign
cells identically on the literal-expression and Arrow-matmul paths."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.operators import similarity as SIM
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


class TestAssignCellsLiteral:
    def test_matches_arrow_path(self, spark):
        """The literal-expression and Arrow-matmul assignment paths must
        emit the same (id, cell) multiset — first-max tiebreak to the
        lowest centroid index on both."""
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
        ]
        unit = SIM.unit_vec_df(
            spark.createDataFrame(rows, "id bigint, v array<double>"),
            "id",
            "v",
        ).localCheckpoint(eager=True)
        centers = [
            r["unit_arr"] for r in unit.filter(F.col("id") < 6).collect()
        ]
        lit = {
            (r["id"], r["cell"])
            for r in SIM.assign_cells_literal(unit, centers, n_probe=3).collect()
        }
        arw = {
            (r["id"], r["cell"])
            for r in SIM.assign_cells_arrow(unit, centers, n_probe=3).collect()
        }
        assert lit == arw

    def test_probe_clamped_to_centroid_count(self, spark):
        """n_probe > len(centers) must clamp (identity coverage), not
        emit duplicate or out-of-range cells."""
        unit = SIM.unit_vec_df(
            spark.createDataFrame(
                [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id bigint, v array<double>"
            ),
            "id",
            "v",
        )
        got = SIM.assign_cells_literal(
            unit, [[1.0, 0.0], [0.0, 1.0]], n_probe=5
        ).collect()
        assert sorted((r["id"], r["cell"]) for r in got) == [
            (1, 0),
            (1, 1),
            (2, 0),
            (2, 1),
        ]


class TestIncrementalEmbeddingDedup:
    def test_equals_full_build_restricted(self, spark, sf_dir):
        """The store-driven incremental pair set must equal the full
        from-scratch bucketed build (same frozen centroids/probes/
        threshold) restricted to pairs with >= 1 new id."""
        from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

        got = {
            (r["id_a"], r["id_b"], r["cosine"], r["kind"])
            for r in LS.l41_incremental_embedding_dedup(spark, sf_dir).collect()
        }
        cutoff, *_ = LS._semantic_store(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 5 == 0
        )
        full = D.embedding_neardup_bucketed(
            emb, "vec_id", "embedding", threshold=0.25, n_centroids=8, n_probe=4
        )
        want = {
            (
                r["id_a"],
                r["id_b"],
                round(r["cosine"], 6),
                "new_new" if r["id_a"] >= cutoff else "new_old",
            )
            for r in full.collect()
            if r["id_b"] >= cutoff
        }
        assert got == want and got

    def test_frozen_centroids_are_day1(self, spark, sf_dir):
        """The quantizer freeze contract: every persisted centroid id
        must be a day-1 vector (otherwise day-2 arrival would change the
        quantizer and invalidate the store's cells)."""
        from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

        cutoff, units_path, _, centers_path = LS._semantic_store(spark, sf_dir)
        n_centers = spark.read.parquet(centers_path).count()
        day1_ids = [
            r["id"]
            for r in spark.read.parquet(units_path)
            .orderBy("id")
            .limit(n_centers)
            .collect()
        ]
        assert len(day1_ids) == n_centers
        assert all(i < cutoff for i in day1_ids)

    def test_increment_scan_is_predicate_pushed(self, spark, sf_dir):
        """The only embeddings access in the incremental path is the
        day-2 slice: the scan must carry a pushed vec_id >= cutoff
        predicate so day-1 vectors are never re-read."""
        from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

        cutoff, *_ = LS._semantic_store(spark, sf_dir)
        new = load_table(spark, sf_dir, "embeddings").filter(
            (F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= cutoff)
        )
        df = SIM.unit_vec_df(new, "vec_id", "embedding")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        assert f"GreaterThanOrEqual(vec_id,{cutoff})" in plan.replace(
            " ", ""
        ), "expected the cutoff predicate pushed into the embeddings scan"


class TestIncrementalSemDeDup:
    def test_day2_scans_all_carry_increment_filter(self, spark, sf_dir):
        """Every embeddings scan in the l69 day-2 plan must carry the
        pushed vec_id >= cutoff predicate: day-1 vectors (including the
        day-1 bases of planted twins) enter ONLY via the persisted
        (id, cluster, q) store parquet."""
        from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

        cutoff, _cent, day1_path = LS._semdedup_store(spark, sf_dir)
        # rebuild the entry's ONLY embeddings-touching stage without the
        # localCheckpoint (which would truncate the lineage the plan
        # assertion needs): natural day-2 arrivals + twin synthesis over
        # store-union-increment bases
        day1 = spark.read.parquet(day1_path)
        day2q = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") >= cutoff)
            .select(
                F.col("vec_id").alias("id"),
                F.transform(
                    "embedding",
                    lambda x: F.floor(x * F.lit(100000.0)).cast("long"),
                ).alias("q"),
            )
        )
        bases = day1.select("id", "q").unionByName(day2q)
        twins = bases.filter(F.col("id") % 9 == 4).select(
            (F.col("id") + F.lit(LS.SEMDEDUP_TWIN_OFFSET)).alias("id"),
            "q",
        )
        newq = day2q.unionByName(twins)
        buf = io.StringIO()
        with redirect_stdout(buf):
            newq.explain(mode="formatted")
        plan = buf.getvalue()
        blocks = [
            b
            for b in plan.split("\n\n")
            if "Scan parquet" in b or "Location" in b
        ]
        emb_scans = [b for b in blocks if "embeddings.parquet" in b]
        store_scans = [b for b in blocks if "day1.parquet" in b]
        assert emb_scans, "expected at least one embeddings scan (the increment)"
        assert store_scans, "expected the day-1 store parquet to be scanned"
        for b in emb_scans:
            assert f"GreaterThanOrEqual(vec_id,{cutoff})" in b.replace(" ", ""), (
                "embeddings scan without the pushed increment filter -- "
                "day-1 vectors would be re-read:\n" + b
            )

    def test_store_reused_across_calls(self, spark, sf_dir):
        """The l69 store build is memoized per (session, data): a second
        call must reuse the SAME store files (mtimes frozen)."""
        import glob
        import os

        from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

        LS.l69_incremental_semdedup(spark, sf_dir).collect()
        stores = [
            v for k, v in LS._SEMDEDUP_STORE_CACHE.items() if sf_dir in k
        ]
        assert stores, "expected a memoized semdedup store for this sf_dir"
        _, _, day1_path = stores[0]
        files = sorted(glob.glob(os.path.join(day1_path, "*.parquet")))
        mtimes = [os.path.getmtime(f) for f in files]
        LS.l69_incremental_semdedup(spark, sf_dir).collect()
        assert [os.path.getmtime(f) for f in files] == mtimes, (
            "store files were rewritten on the second call"
        )


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
