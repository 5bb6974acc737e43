"""PSI drift monitor (l39): per-feature population-stability-index between
the day-1 corpus and the day-2 increment. PSI's defining properties — every
(p-q)*ln(p/q) term is non-negative, the total is the sum of the terms, and
identical distributions score 0 — are checked on real data plus a
hand-computed two-bucket case."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.registry.llm_incremental import l39_psi_drift
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


class TestPsiDrift:
    def test_shape_and_nonnegativity(self, spark, sf_dir):
        pdf = l39_psi_drift(spark, sf_dir).toPandas()
        assert set(pdf["feature"]) == {"lang", "source", "len_band", "tok_band"}
        # each term (p-q)ln(p/q) >= 0 (both factors share sign); rounding
        # can only produce tiny negatives, which would signal a math bug
        assert (pdf["psi_contrib"] >= 0).all()
        assert (pdf["psi"] >= 0).all()
        # the feature total equals the sum of its bucket contributions
        for feat, grp in pdf.groupby("feature"):
            assert grp["psi"].nunique() == 1
            assert abs(grp["psi"].iloc[0] - grp["psi_contrib"].sum()) < 1e-5

    def test_bucket_counts_partition_the_corpus(self, spark, sf_dir):
        """Every doc lands in exactly one bucket per feature, so per-feature
        day1_n/day2_n totals equal the day-1/day-2 corpus sizes."""
        docs = load_table(spark, sf_dir, "documents")
        n = docs.count()
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        n1 = docs.filter(F.col("doc_id") < cutoff).count()
        pdf = l39_psi_drift(spark, sf_dir).toPandas()
        for _feat, grp in pdf.groupby("feature"):
            assert grp["day1_n"].sum() == n1
            assert grp["day2_n"].sum() == n - n1

    def test_hand_computed_two_bucket_psi(self):
        """The smoothing + PSI formula the operator implements, checked
        against a by-hand two-bucket example: day1 = {a: 3, b: 1},
        day2 = {a: 1, b: 3}, K = 2 buckets."""
        p = [(3 + 1) / (4 + 2), (1 + 1) / (4 + 2)]
        q = [(1 + 1) / (4 + 2), (3 + 1) / (4 + 2)]
        want = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
        # (2/3-1/3)*ln(2) * 2 terms = (1/3)*ln(2)*2
        assert abs(want - 2 * (1 / 3) * math.log(2)) < 1e-12


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
