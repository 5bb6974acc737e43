"""Incremental mixture refresh (l36): the persisted per-source ledger
must merge with the increment commutatively (including sources first
seen in the increment), never re-read old text, and reproduce the
from-scratch l27 weights on the merged totals."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


class TestLedgerMerge:
    def test_weights_match_full_recompute(self, spark, sf_dir):
        """l36 (ledger + increment merge) must equal l27's from-scratch
        weights computed over the whole corpus."""
        from datafusion_cyberpolka_eda_spark.registry.llm import l27_mixture_weights
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            l36_incremental_mixture_refresh,
        )

        got = {
            r["source"]: (r["n_tokens"], r["weight"], r["expected_tokens"])
            for r in l36_incremental_mixture_refresh(spark, sf_dir).collect()
        }
        want = {
            r["source"]: (r["n_tokens"], r["weight"], r["expected_tokens"])
            for r in l27_mixture_weights(spark, sf_dir).collect()
        }
        assert got == want

    def test_source_first_seen_in_increment_survives_merge(self, spark):
        """The full-outer coalesce-sum merge: a source absent from the
        ledger but present in the increment must appear with ledger-side
        zeros, and vice versa."""
        ledger = spark.createDataFrame(
            [("web", 10, 1000)], "source string, n_docs bigint, n_tokens bigint"
        ).select(
            "source",
            F.col("n_docs").alias("d1_docs"),
            F.col("n_tokens").alias("d1_tokens"),
        )
        inc = spark.createDataFrame(
            [("books", 2, 50)], "source string, i_docs bigint, i_tokens bigint"
        )
        merged = {
            r["source"]: (r["n_docs"], r["n_tokens"])
            for r in ledger.join(inc, "source", "full_outer")
            .select(
                "source",
                (F.coalesce("d1_docs", F.lit(0)) + F.coalesce("i_docs", F.lit(0)))
                .cast("bigint")
                .alias("n_docs"),
                (F.coalesce("d1_tokens", F.lit(0)) + F.coalesce("i_tokens", F.lit(0)))
                .cast("bigint")
                .alias("n_tokens"),
            )
            .collect()
        }
        assert merged == {"web": (10, 1000), "books": (2, 50)}

    def test_documents_scan_carries_increment_filter(self, spark, sf_dir):
        """In the l36 plan, every scan of the documents table must carry
        the pushed >= cutoff predicate — old text enters only via the
        ledger parquet."""
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            _source_ledger_store,
            l36_incremental_mixture_refresh,
        )

        cutoff, _path = _source_ledger_store(spark, sf_dir)
        df = l36_incremental_mixture_refresh(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        blocks = [
            b
            for b in buf.getvalue().split("\n\n")
            if "Scan parquet" in b or "Location" in b
        ]
        doc_scans = [b for b in blocks if "documents.parquet" in b]
        ledger_scans = [b for b in blocks if "ledger.parquet" in b]
        assert doc_scans and ledger_scans
        for b in doc_scans:
            assert f"GreaterThanOrEqual(doc_id,{cutoff})" in b, (
                "documents scan without the increment filter:\n" + b
            )

    def test_ledger_store_memoized(self, spark, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        L.l36_incremental_mixture_refresh(spark, sf_dir).collect()
        stores = [v for k, v in L._LEDGER_STORE_CACHE.items() if sf_dir in k]
        assert stores
        _cutoff, path = stores[-1]

        def mtimes():
            return sorted(
                (f, os.stat(os.path.join(r, f)).st_mtime_ns)
                for r, _d, files in os.walk(path)
                for f in files
            )

        before = mtimes()
        L.l36_incremental_mixture_refresh(spark, sf_dir).collect()
        assert mtimes() == before


class TestIncrementalPipelineComposition:
    def test_all_five_stages_present_and_consistent(self, spark, sf_dir):
        """l37 must emit every stage, its route counts must sum to the
        increment size, and its component/survivor scalars must agree
        with the standalone l33/l34 entries run on the same stores."""
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            _incremental_store,
            l33_incremental_components,
            l34_incremental_survivors,
            l37_incremental_pipeline,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        out = {
            (r["stage"], r["metric"]): r["value"]
            for r in l37_incremental_pipeline(spark, sf_dir).collect()
        }
        stages = {s for s, _m in out}
        assert stages == {"route", "pairs", "components", "survivors", "mixture"}

        docs = load_table(spark, sf_dir, "documents")
        cutoff, _ = _incremental_store(spark, sf_dir)
        n_inc = docs.filter(F.col("doc_id") >= cutoff).count()
        assert sum(v for (s, _m), v in out.items() if s == "route") == n_inc

        l33 = l33_incremental_components(spark, sf_dir).toPandas()
        assert out[("components", "affected_clusters")] == l33["component"].nunique()
        for status, n in l33["status"].value_counts().items():
            assert out[("components", status)] == n

        l34 = l34_incremental_survivors(spark, sf_dir).toPandas()
        for status, n in l34["status"].value_counts().items():
            assert out[("survivors", status)] == n

        assert out[("mixture", "total_tokens")] > out[("mixture", "inc_tokens")]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


class TestTrainingExportPipeline:
    def test_stage_arithmetic_is_consistent(self, spark, sf_dir):
        """l44: the export manifest's stages must reconcile — every doc
        routed exactly once, dedup+mixture monotone, packing conserves
        the kept docs/tokens, no multi-doc bin over the cap."""
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            l44_training_export_pipeline,
        )

        got = {
            (r["stage"], r["metric"]): r["value"]
            for r in l44_training_export_pipeline(spark, sf_dir).collect()
        }
        assert len(got) == 16
        q = got
        assert q[("quality", "n_input")] == (
            q[("quality", "n_accepted")]
            + q[("quality", "n_reject_short")]
            + q[("quality", "n_reject_repetitive")]
        )
        assert q[("dedup", "n_unique")] + q[("dedup", "n_collapsed")] == q[
            ("quality", "n_accepted")
        ]
        assert q[("mixture", "n_docs_kept")] <= q[("dedup", "n_unique")]
        assert q[("pack", "n_docs_packed")] == q[("mixture", "n_docs_kept")]
        assert q[("pack", "tokens_packed")] == q[("mixture", "tokens_kept")]
        assert q[("pack", "n_over_cap")] == 0
        assert q[("pack", "n_bins")] >= q[("shards", "n_shards_used")]
        assert (
            q[("shards", "max_shard_tokens")]
            >= q[("shards", "min_shard_tokens")]
            > 0
        )
