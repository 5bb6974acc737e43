"""Incremental multimodal fingerprint stores (r9 verdict task 3): the
persisted day-1 image/audio fingerprint path must (a) reproduce exactly
the full-corpus banded pair set restricted to pairs with >= 1 new
asset, (b) never re-decode day-1 payloads — old assets enter only
through the (id, fp) store parquet — and (c) reuse the memoized store
across registry calls."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.operators.multimodal import (
    N_AHASH_BITS,
    ahash63_fingerprints,
    make_ppm_neardup_assets,
)
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


def _pair_key(r):
    return (r["id_a"], r["id_b"])


class TestIncrementalEquivalence:
    def test_matches_full_corpus_restriction(self, spark, sf_dir, tmp_path):
        """incremental pairs == full-corpus banded pairs restricted to
        >= 1 new asset, with correct new_new/new_old tags."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        day1 = docs.filter(F.col("doc_id") < cutoff)
        inc = docs.filter(F.col("doc_id") >= cutoff)

        store_path = str(tmp_path / "fp_store.parquet")
        ahash63_fingerprints(make_ppm_neardup_assets(day1)).write.parquet(
            store_path
        )
        store = spark.read.parquet(store_path)
        new_fps = ahash63_fingerprints(
            make_ppm_neardup_assets(inc)
        ).localCheckpoint(eager=True)
        got = {
            _pair_key(r): (r["hamming"], r["kind"])
            for r in D.incremental_fingerprint_pairs(
                new_fps, store, max_hamming=3, n_bits=N_AHASH_BITS
            ).collect()
        }

        full_fps = ahash63_fingerprints(
            make_ppm_neardup_assets(docs)
        ).localCheckpoint(eager=True)
        want = {}
        for r in D.fingerprint_near_pairs(
            full_fps, max_hamming=3, n_bits=N_AHASH_BITS
        ).collect():
            a_new = r["id_a"] % (1 << 23) >= cutoff
            b_new = r["id_b"] % (1 << 23) >= cutoff
            if a_new or b_new:
                kind = "new_new" if (a_new and b_new) else "new_old"
                want[_pair_key(r)] = (r["hamming"], kind)
        assert got == want


class TestNoDay1Decode:
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

    def test_documents_scans_all_carry_increment_filter(
        self, spark, sf_dir, tmp_path
    ):
        """Every documents scan in the day-2 plan must carry the pushed
        increment predicate (day-1 assets may enter ONLY via the
        fingerprint store parquet): a scan without it would mean day-1
        payloads are being re-synthesized and re-decoded."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        store_path = str(tmp_path / "fp_store.parquet")
        ahash63_fingerprints(
            make_ppm_neardup_assets(docs.filter(F.col("doc_id") < cutoff))
        ).write.parquet(store_path)
        store = spark.read.parquet(store_path)
        # deliberately NOT checkpointed: the full lineage must be visible
        new_fps = ahash63_fingerprints(
            make_ppm_neardup_assets(docs.filter(F.col("doc_id") >= cutoff))
        )
        pairs = D.incremental_fingerprint_pairs(
            new_fps, store, max_hamming=3, n_bits=N_AHASH_BITS
        )
        blocks = self._scan_blocks(pairs)
        doc_scans = [b for b in blocks if "documents.parquet" in b]
        store_scans = [b for b in blocks if "fp_store.parquet" in b]
        assert doc_scans, "expected at least one documents scan (the increment)"
        assert store_scans, "expected the store parquet to be scanned"
        for b in doc_scans:
            assert f"GreaterThanOrEqual(doc_id,{cutoff})" in b, (
                "documents scan without the pushed increment filter — "
                "day-1 payloads would be re-decoded:\n" + b
            )

    def test_registry_entry_reuses_store_across_calls(self, spark, sf_dir):
        """The l66 store build is memoized per (session, data, modality):
        a second call must reuse the SAME store files (mtimes frozen)."""
        import glob
        import os

        from datafusion_cyberpolka_eda_spark.registry import llm_multimodal as L

        L.l66_incremental_image_neardup(spark, sf_dir).collect()
        stores = [
            v
            for k, v in L._MM_FP_STORE_CACHE.items()
            if sf_dir in k and ":image:" in k
        ]
        assert stores, "expected a memoized image fp store for this sf_dir"
        _, path = stores[0]
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        mtimes = [os.path.getmtime(f) for f in files]
        L.l66_incremental_image_neardup(spark, sf_dir).collect()
        assert [os.path.getmtime(f) for f in files] == mtimes, (
            "store files were rewritten on the second call"
        )
