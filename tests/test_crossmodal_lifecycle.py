"""Cross-modal incremental + takedown (r12 verdict task 5): the l78b
store-driven increment must reproduce the full-corpus tagged edge union
restricted to >= 1-new pairs; neither l78b nor l78c may re-shingle or
re-decode day-1 payloads (old pairs enter only via the persisted
signature/fingerprint stores)."""

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
from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
    _mm_fp_store,
    _paired_corpus,
    _xm_cc_store,
    _xm_text_store,
    _xm_union_edges,
    l78b_crossmodal_incremental,
    l78c_crossmodal_takedown,
)
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

BASE_MOD = 1 << 23  # both twin offsets are 0 mod 2^23


class TestCrossmodalIncrementalEquivalence:
    def test_matches_full_corpus_restriction(self, spark, sf_dir):
        """l78b == full-corpus tagged union edges restricted to pairs
        with >= 1 new BASE id, kinds included."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))

        got = {
            (r["id_a"], r["id_b"]): (r["is_text"], r["is_image"], r["kind"])
            for r in l78b_crossmodal_incremental(spark, sf_dir).collect()
        }

        corpus = _paired_corpus(docs).localCheckpoint(eager=True)
        tpairs = D.minhash_banded_pairs_portable(
            corpus, "doc_id", "text", n=3, num_hashes=32, bands=8,
            est_threshold=0.45,
        ).select("id_a", "id_b")
        fps = ahash63_fingerprints(
            make_ppm_neardup_assets(docs)
        ).localCheckpoint(eager=True)
        ipairs = D.fingerprint_near_pairs(
            fps, max_hamming=3, n_bits=N_AHASH_BITS
        ).select("id_a", "id_b")
        want = {}
        for r in _xm_union_edges(tpairs, ipairs).collect():
            a_new = r["id_a"] % BASE_MOD >= cutoff
            b_new = r["id_b"] % BASE_MOD >= cutoff
            if a_new or b_new:
                kind = "new_new" if (a_new and b_new) else "new_old"
                want[(r["id_a"], r["id_b"])] = (
                    r["is_text"], r["is_image"], kind,
                )
        assert got == want


class TestCrossmodalNoDay1Rescan:
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

    def test_increment_scans_carry_pushed_filter(
        self, spark, sf_dir, tmp_path
    ):
        """With UNCUT lineage (no checkpoints), every documents scan in
        the cross-modal increment plan — caption AND image side — must
        carry the pushed doc_id >= cutoff predicate; day-1 content may
        enter only via the two store parquets."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        day1 = docs.filter(F.col("doc_id") < cutoff)
        sig_path = str(tmp_path / "xm_sig_store.parquet")
        D.minhash_signatures_portable(
            _paired_corpus(day1), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        ).write.parquet(sig_path)
        fp_path = str(tmp_path / "xm_fp_store.parquet")
        ahash63_fingerprints(make_ppm_neardup_assets(day1)).write.parquet(
            fp_path
        )
        inc = docs.filter(F.col("doc_id") >= cutoff)
        tpairs = D.incremental_minhash_pairs(
            D.minhash_signatures_portable(
                _paired_corpus(inc), "doc_id", "text",
                n=3, num_hashes=32, bands=8,
            ),
            spark.read.parquet(sig_path),
            num_hashes=32,
            est_threshold=0.45,
        ).select("id_a", "id_b")
        ipairs = D.incremental_fingerprint_pairs(
            ahash63_fingerprints(make_ppm_neardup_assets(inc)),
            spark.read.parquet(fp_path),
            max_hamming=3,
            n_bits=N_AHASH_BITS,
        ).select("id_a", "id_b")
        blocks = self._scan_blocks(_xm_union_edges(tpairs, ipairs))
        doc_scans = [b for b in blocks if "documents.parquet" in b]
        store_scans = [b for b in blocks if "store.parquet" in b]
        assert doc_scans, "expected documents scans (the increment)"
        assert store_scans, "expected both store parquets to be scanned"
        for b in doc_scans:
            assert f"GreaterThanOrEqual(doc_id,{cutoff})" in b, (
                "documents scan without the pushed increment filter — "
                "day-1 payloads would be re-processed:\n" + b
            )

    def test_takedown_plan_reads_only_stores(self, spark, sf_dir, monkeypatch):
        """The l78c delta plans must scan only the persisted label store
        — never the documents table (edge rebuilds slice the two
        persisted stores). The affected members and the CC stage are
        checkpoint-materialized, so the plan of every cut is checked
        along with the returned plan."""
        _xm_text_store(spark, sf_dir)
        _mm_fp_store(spark, sf_dir, "image")
        _xm_cc_store(spark, sf_dir)
        plans = []
        frame_cls = type(spark.range(1))
        real_cut = frame_cls.localCheckpoint

        def recording_cut(self, eager=True):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return real_cut(self, eager)

        monkeypatch.setattr(frame_cls, "localCheckpoint", recording_cut)
        df = l78c_crossmodal_takedown(spark, sf_dir)
        plan = "\n".join(
            plans + [df._jdf.queryExecution().executedPlan().toString()]
        )
        assert "xm_cc_store_" in plan, "expected the label-store scan"
        assert "documents.parquet" not in plan, (
            "cross-modal takedown plan scanned documents text"
        )
