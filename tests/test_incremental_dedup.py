"""Incremental cross-snapshot dedup (r6 verdict task 1): the persisted
MinHash store path must (a) reproduce exactly the full-corpus pair set
restricted to pairs with >= 1 new doc, (b) never rescan old-corpus text —
the old corpus enters only through the signature store parquet — and
(c) compose across days (store + increment -> updated store -> next
increment)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


def _pair_key(r):
    return (r["id_a"], r["id_b"])


def _full_pairs_at_least_one_new(docs, is_new_ids):
    full = D.minhash_banded_pairs_portable(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, est_threshold=0.45
    ).collect()
    out = {}
    for r in full:
        a_new, b_new = r["id_a"] in is_new_ids, r["id_b"] in is_new_ids
        if a_new or b_new:
            kind = "new_new" if (a_new and b_new) else "new_old"
            out[_pair_key(r)] = (round(r["est_jaccard"], 6), kind)
    return out


class TestIncrementalEquivalence:
    def test_matches_full_corpus_restriction(self, spark, sf_dir, tmp_path):
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        day1 = docs.filter(F.col("doc_id") < cutoff)
        inc = docs.filter(F.col("doc_id") >= cutoff)

        store_path = str(tmp_path / "store.parquet")
        D.minhash_signatures_portable(
            day1, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).write.parquet(store_path)
        store = spark.read.parquet(store_path)
        new_sigs = D.minhash_signatures_portable(
            inc, "doc_id", "text", n=3, num_hashes=32, bands=8
        )
        got = {
            _pair_key(r): (round(r["est_jaccard"], 6), r["kind"])
            for r in D.incremental_minhash_pairs(
                new_sigs, store, num_hashes=32, est_threshold=0.45
            ).collect()
        }
        new_ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
        want = _full_pairs_at_least_one_new(docs, new_ids)
        assert got == want
        assert any(k == "new_old" for _e, k in got.values()) or len(got) == 0

    def test_multi_day_composition(self, spark, sf_dir, tmp_path):
        """Day-1 store + day-2 increment -> updated store; day-3 increment
        against the UPDATED store still equals the full-corpus restriction
        (the store contract: grow by increment rows, never recompute)."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        c1, c2 = int(0.6 * (max_id + 1)), int(0.8 * (max_id + 1))
        day1 = docs.filter(F.col("doc_id") < c1)
        day2 = docs.filter((F.col("doc_id") >= c1) & (F.col("doc_id") < c2))
        day3 = docs.filter(F.col("doc_id") >= c2)

        p1 = str(tmp_path / "store_v1.parquet")
        D.minhash_signatures_portable(
            day1, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).write.parquet(p1)
        sigs2 = D.minhash_signatures_portable(
            day2, "doc_id", "text", n=3, num_hashes=32, bands=8
        )
        v1 = spark.read.parquet(p1)
        p2 = str(tmp_path / "store_v2.parquet")
        v1.unionByName(sigs2).write.parquet(p2)
        v2 = spark.read.parquet(p2)
        assert v2.count() == day1.count() + day2.count() or v2.count() == (
            # docs with < 3 tokens emit no signature row on either path
            v1.count() + sigs2.count()
        )

        sigs3 = D.minhash_signatures_portable(
            day3, "doc_id", "text", n=3, num_hashes=32, bands=8
        )
        got = {
            _pair_key(r): (round(r["est_jaccard"], 6), r["kind"])
            for r in D.incremental_minhash_pairs(
                sigs3, v2, num_hashes=32, est_threshold=0.45
            ).collect()
        }
        day3_ids = {r["doc_id"] for r in day3.select("doc_id").collect()}
        want = _full_pairs_at_least_one_new(docs, day3_ids)
        assert got == want


class TestNoOldCorpusRescan:
    def _scan_blocks(self, df) -> list[str]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # formatted details: one block per node, blank-line separated
        return [b for b in plan.split("\n\n") if "Scan parquet" in b or "Location" in b]

    def test_documents_scans_all_carry_increment_filter(
        self, spark, sf_dir, tmp_path
    ):
        """Every scan of the documents table in the incremental-pairs plan
        must carry the pushed increment predicate (the old corpus may
        enter ONLY via the store parquet): a scan without it would mean
        day-1 text is being re-read."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        store_path = str(tmp_path / "store.parquet")
        D.minhash_signatures_portable(
            docs.filter(F.col("doc_id") < cutoff), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        ).write.parquet(store_path)
        store = spark.read.parquet(store_path)
        # deliberately NOT checkpointed: the full lineage must be visible
        new_sigs = D.minhash_signatures_portable(
            docs.filter(F.col("doc_id") >= cutoff), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        )
        pairs = D.incremental_minhash_pairs(
            new_sigs, store, num_hashes=32, est_threshold=0.45
        )
        blocks = self._scan_blocks(pairs)
        doc_scans = [b for b in blocks if "documents.parquet" in b]
        store_scans = [b for b in blocks if "store.parquet" in b]
        assert doc_scans, "expected at least one documents scan (the increment)"
        assert store_scans, "expected the store parquet to be scanned"
        for b in doc_scans:
            assert f"GreaterThanOrEqual(doc_id,{cutoff})" in b, (
                "documents scan without the pushed increment filter — "
                "old corpus text would be rescanned:\n" + b
            )

    def test_registry_entry_reuses_store_across_calls(self, spark, sf_dir):
        """The l31 store build is memoized per (session, data): a second
        call must reuse the SAME store files (no rebuild, mtimes frozen)."""
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            l31_incremental_dedup,
        )

        l31_incremental_dedup(spark, sf_dir).collect()
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        stores = [v for k, v in L._INCR_STORE_CACHE.items() if sf_dir in k]
        assert stores, "store cache empty after l31 run"
        _cutoff, path = stores[-1]

        def mtimes():
            return sorted(
                (f, os.stat(os.path.join(r, f)).st_mtime_ns)
                for r, _d, files in os.walk(path)
                for f in files
            )

        before = mtimes()
        l31_incremental_dedup(spark, sf_dir).collect()
        assert mtimes() == before  # no rebuild: the parquet store is reused


class TestStoreUpdate:

    def test_incremental_empty_increment(self, spark):
        empty = spark.createDataFrame(
            [], "id bigint, sig array<bigint>, band_keys array<string>"
        )
        store = spark.createDataFrame(
            [(1, [1, 2], ["a", "b"])],
            "id bigint, sig array<bigint>, band_keys array<string>",
        )
        assert D.incremental_minhash_pairs(empty, store).count() == 0


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
