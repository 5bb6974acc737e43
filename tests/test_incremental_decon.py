"""Incremental decontamination (l32): the persisted benchmark gram store
must (a) reproduce exactly the full-corpus screen (l20 semantics)
restricted to increment docs, (b) never re-tokenize the old corpus or
the benchmark on the steady-state path — the benchmark enters only via
the gram-store parquet — and (c) reuse the same store files across
calls (no rebuild)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.registry.llm import l20_contamination_screen
from datafusion_cyberpolka_eda_spark.registry.llm_base import _doc_gram_hashes
from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
    _L32_CUTOFF_FRAC,
    l32_incremental_decontamination,
)
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


class TestIncrementalScreenEquivalence:
    def test_matches_full_screen_restricted_to_increment(self, spark, sf_dir):
        """Contamination is per-document against a static benchmark set,
        so the incremental screen must equal the from-scratch screen
        computed over ONLY increment docs."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(_L32_CUTOFF_FRAC * (max_id + 1))
        is_bench = F.col("source").isin("src0", "src1")

        g = _doc_gram_hashes(docs, n=5)
        bench = g.filter(is_bench).select("h").distinct()
        inc = docs.filter((F.col("doc_id") >= cutoff) & ~is_bench)
        want_hits = {
            (r["lang"], r["n"])
            for r in _doc_gram_hashes(inc, n=5)
            .join(bench, "h", "left_semi")
            .select("doc_id", "lang")
            .distinct()
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = l32_incremental_decontamination(spark, sf_dir).collect()
        got_hits = {
            (r["lang"], r["n_contaminated"])
            for r in got
            if r["n_contaminated"] > 0
        }
        assert got_hits == want_hits
        want_docs = {
            (r["lang"], r["n"])
            for r in inc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {(r["lang"], r["n_docs"]) for r in got} == want_docs
        for r in got:
            assert r["contamination_rate"] == pytest.approx(
                round(r["n_contaminated"] / r["n_docs"], 6)
            )

    def test_rates_bounded_and_check_nontrivial(self, spark, sf_dir):
        """The increment must contain real contamination hits at test/
        sweep scale — an all-zero result would make the oracle check
        trivially green (the reason the cutoff is 0.6, not l31's 0.8)."""
        rows = l32_incremental_decontamination(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["contamination_rate"] <= 1.0
            assert r["n_contaminated"] <= r["n_docs"]
        assert sum(r["n_contaminated"] for r in rows) > 0

    def test_full_screen_unchanged_by_refactor(self, spark, sf_dir):
        """The shared-gram-helper refactor must not move l20's numbers:
        n_contaminated <= n_docs per lang and totals consistent with a
        direct recount of train docs."""
        rows = l20_contamination_screen(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        want_total = docs.filter(
            ~F.col("source").isin("src0", "src1")
        ).count()
        assert sum(r["n_docs"] for r in rows) == want_total
        for r in rows:
            assert 0 <= r["n_contaminated"] <= r["n_docs"]


class TestNoRescan:
    def _scan_blocks(self, df) -> list[str]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        return [
            b
            for b in plan.split("\n\n")
            if "Scan parquet" in b or "Location" in b
        ]

    def test_documents_scans_carry_increment_filter(self, spark, sf_dir):
        """Every documents scan in the steady-state screen plan must carry
        the pushed increment predicate; the benchmark may enter ONLY via
        the gram-store parquet. A documents scan without the cutoff
        filter would mean old-corpus (or benchmark) text is re-read."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        out = l32_incremental_decontamination(spark, sf_dir)
        stores = [v for k, v in L._DECON_STORE_CACHE.items() if sf_dir in k]
        assert stores, "gram-store cache empty after l32 build"
        cutoff, _path = stores[-1]
        blocks = self._scan_blocks(out)
        doc_scans = [b for b in blocks if "documents.parquet" in b]
        store_scans = [b for b in blocks if "bench_grams.parquet" in b]
        assert doc_scans, "expected the increment documents scan"
        assert store_scans, "expected the gram store parquet to be scanned"
        for b in doc_scans:
            assert f"GreaterThanOrEqual(doc_id,{cutoff})" in b, (
                "documents scan without the pushed increment filter:\n" + b
            )

    def test_store_reused_across_calls(self, spark, sf_dir):
        """A second l32 call must reuse the SAME store files (mtimes
        frozen — no benchmark re-shingle)."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        l32_incremental_decontamination(spark, sf_dir).collect()
        stores = [v for k, v in L._DECON_STORE_CACHE.items() if sf_dir in k]
        _cutoff, path = stores[-1]

        def mtimes():
            return sorted(
                (f, os.stat(os.path.join(r, f)).st_mtime_ns)
                for r, _d, files in os.walk(path)
                for f in files
            )

        before = mtimes()
        l32_incremental_decontamination(spark, sf_dir).collect()
        assert mtimes() == before


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
