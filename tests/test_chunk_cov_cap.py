"""Round-7 additions: l45 context-window chunking, l46 distributed
embedding covariance (Gram partials), l47 per-source cap rebalancing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestChunkDocs:
    """chunk_docs boundary semantics vs hand-computed expectations
    (window=32, stride=24, min_len=8)."""

    def _chunks(self, spark, texts):
        from datafusion_cyberpolka_eda_spark.registry.llm import chunk_docs

        docs = spark.createDataFrame(
            [(i, "en", " ".join(["w"] * n)) for i, n in enumerate(texts)],
            "doc_id long, lang string, text string",
        )
        rows = chunk_docs(docs).collect()
        return {
            doc_id: sorted(
                (r.chunk_id, r.start_tok, r.chunk_tokens)
                for r in rows
                if r.doc_id == doc_id
            )
            for doc_id in {r.doc_id for r in rows}
        }

    def test_hand_computed_boundaries(self, spark):
        got = self._chunks(spark, [10, 33, 25, 32, 1, 80])
        # n=10: single short chunk survives via the chunk_id==0 escape
        assert got[0] == [(0, 0, 10)]
        # n=33: full window + 9-token tail (>= min_len, kept)
        assert got[1] == [(0, 0, 32), (1, 24, 9)]
        # n=25: tail chunk at 24 has 1 token < 8 -> dropped
        assert got[2] == [(0, 0, 25)]
        # n=32: tail at 24 has exactly 8 tokens -> kept (boundary)
        assert got[3] == [(0, 0, 32), (1, 24, 8)]
        # n=1: minimal doc still emits one chunk
        assert got[4] == [(0, 0, 1)]
        # n=80: starts 0,24,48,72; lens 32,32,32,8 (all kept)
        assert got[5] == [(0, 0, 32), (1, 24, 32), (2, 48, 32), (3, 72, 8)]

    def test_every_doc_emits_at_least_one_chunk(self, spark, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm import chunk_docs
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        n_chunked = chunk_docs(docs).select("doc_id").distinct().count()
        assert n_chunked == n_docs


class TestEmbeddingCovariance:
    def test_matches_numpy_cov(self, spark):
        from datafusion_cyberpolka_eda_spark.operators.similarity import QSCALE
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            embedding_gram_partials,
        )

        rng = np.random.default_rng(7)
        dim, n = 5, 40
        X = rng.normal(size=(n, dim)).astype(np.float64)
        emb = spark.createDataFrame(
            [(i, X[i].tolist()) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        # float32 storage + floor-quantization: the truth is the exact
        # integer Gram of q = floor(float32(x) * QSCALE), scaled back.
        X32 = X.astype(np.float32).astype(np.float64)
        Q = np.floor(X32 * float(QSCALE)).astype(np.int64)
        truth = np.cov(
            Q.astype(np.float64) / float(QSCALE), rowvar=False, bias=True
        )

        part = embedding_gram_partials(emb, dim=dim)
        flat = (
            part.select(F.posexplode("st").alias("idx", "v"))
            .groupBy("idx")
            .agg(F.sum("v").alias("v"))
        )
        vals = {r.idx: r.v for r in flat.collect()}
        assert vals[0] == n
        # partial sums are exact integers: compare == against numpy int64
        assert all(isinstance(vals[k], int) for k in vals)
        s_true = Q.sum(axis=0)
        G_true = Q.T @ Q
        s = np.array([vals[1 + i] for i in range(dim)], dtype=np.int64)
        G = np.array(
            [[vals[1 + dim + i * dim + j] for j in range(dim)] for i in range(dim)],
            dtype=np.int64,
        )
        assert (s == s_true).all()
        assert (G == G_true).all()
        cov = (
            G.astype(np.float64) / n
            - np.outer(s / n, s / n)
        ) / float(QSCALE) ** 2
        assert np.allclose(cov, truth, atol=1e-9)
        # Gram state symmetric by construction
        assert (G == G.T).all()

    def test_cov_bit_identical_under_partitioning(self, spark, sf_dir):
        """The r7 flake killer: l46's rounded covariance must be
        BIT-IDENTICAL whether the input arrives as 1 partition or 32 —
        integer-quantized partials make every sum exact, so summation
        order can't move any value across a rounding boundary."""
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            l46_embedding_covariance,
        )
        from datafusion_cyberpolka_eda_spark.sources import catalog

        base = catalog.load_table(spark, sf_dir, "embeddings")

        def run(nparts):
            orig = catalog.load_table

            def patched(sp, d, name):
                t = orig(sp, d, name)
                return t.repartition(nparts) if name == "embeddings" else t

            catalog.load_table = patched
            # the registry module binds load_table at import; patch there too
            from datafusion_cyberpolka_eda_spark.registry import llm_similarity as LS

            saved = LS.load_table
            LS.load_table = patched
            try:
                rows = l46_embedding_covariance(spark, sf_dir).collect()
            finally:
                catalog.load_table = orig
                LS.load_table = saved
            return sorted((r.i, r.j, r.cov) for r in rows)

        a, b = run(1), run(32)
        assert a == b  # exact equality, not allclose

    def test_partials_are_fixed_size(self, spark):
        """Each Arrow batch reduces to exactly one row of width
        1 + dim + dim^2 — the property that makes the pattern scale."""
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            embedding_gram_partials,
        )

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(100)],
            "vec_id long, embedding array<float>",
        ).repartition(4)
        rows = embedding_gram_partials(emb, dim=2).collect()
        assert 1 <= len(rows) <= 8
        assert all(len(r.st) == 1 + 2 + 4 for r in rows)
        total_n = sum(r.st[0] for r in rows)
        assert total_n == 100


class TestSourceCapRebalance:
    def test_cap_and_tiebreak(self, spark, sf_dir, monkeypatch, tmp_path):
        """Toy corpus: 20 docs in srcA (ties on n -> doc_id tie-break),
        3 docs in srcB (under cap, untouched); shares re-normalize."""
        docs = [
            (i, "en", " ".join(["w"] * (10 if i < 18 else 50)), "srcA")
            for i in range(20)
        ] + [(100 + i, "en", " ".join(["w"] * 30), "srcB") for i in range(3)]
        df = spark.createDataFrame(
            docs, "doc_id long, lang string, text string, source string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            l47_source_cap_rebalance,
        )

        out = {
            r.source: r
            for r in l47_source_cap_rebalance(spark, str(tmp_path)).collect()
        }
        a, b = out["srcA"], out["srcB"]
        assert (a.n_docs_before, a.n_docs_kept) == (20, 15)
        # kept = the two 50-token docs (18,19) + thirteen 10-token docs
        # (tie-break: lowest doc_id first -> ids 0..12)
        assert a.tokens_kept == 2 * 50 + 13 * 10
        assert (b.n_docs_before, b.n_docs_kept) == (3, 3)
        gtb = a.tokens_before + b.tokens_before
        gtk = a.tokens_kept + b.tokens_kept
        assert a.share_before == pytest.approx(a.tokens_before / gtb, abs=1e-6)
        assert a.share_after == pytest.approx(a.tokens_kept / gtk, abs=1e-6)
        # the over-represented source's share strictly drops
        assert a.share_after < a.share_before


class TestSparseCosinePairs:
    def _run(self, spark, tmp_path, docs):
        df = spark.createDataFrame(
            docs, "doc_id long, lang string, text string, source string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            l48_sparse_cosine_pairs,
        )

        return {
            (r.id_a, r.id_b): r.cosine
            for r in l48_sparse_cosine_pairs(spark, str(tmp_path)).collect()
        }

    def test_stop_terms_pruned_rare_pair_scores(self, spark, tmp_path):
        # 60 docs all share the bigram "the end" -> df=60 > 50 cap, pruned:
        # no pair may arise from it. Docs 100/101 share the rare bigram
        # "rare gem" (plus their own unique bigrams).
        docs = [(i, "en", "the end", "s") for i in range(60)]
        docs += [
            (100, "en", "rare gem alpha", "s"),
            (101, "en", "rare gem alpha beta", "s"),
        ]
        got = self._run(spark, tmp_path, docs)
        assert set(got) == {(100, 101)}
        # hand-computed: shared bigrams {rare gem, gem alpha} (df=2),
        # doc 101's extra {alpha beta} (df=1); N = 62 docs with bigrams.
        import math

        n = 62
        w2 = math.log(n / 2)
        w1 = math.log(n / 1)
        cos = (2 * w2 * w2) / (
            math.sqrt(2 * w2 * w2) * math.sqrt(2 * w2 * w2 + w1 * w1)
        )
        assert cos >= 0.5  # the pair clears the emission threshold
        assert got[(100, 101)] == pytest.approx(cos, abs=1e-6)

    def test_identical_docs_cosine_one(self, spark, tmp_path):
        docs = [
            (0, "en", "lorem ipsum dolor sit", "s"),
            (1, "en", "lorem ipsum dolor sit", "s"),
            (2, "en", "completely different words here", "s"),
        ]
        got = self._run(spark, tmp_path, docs)
        assert got[(0, 1)] == pytest.approx(1.0, abs=1e-6)
        assert (0, 2) not in got and (1, 2) not in got


class TestEpochShuffle:
    def test_deterministic_and_epochs_distinct(self, spark, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm import l49_epoch_shuffle
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        rows1 = sorted(tuple(r) for r in l49_epoch_shuffle(spark, sf_dir).collect())
        rows2 = sorted(tuple(r) for r in l49_epoch_shuffle(spark, sf_dir).collect())
        assert rows1 == rows2  # reproducible from (doc_id, epoch) alone
        n_docs = load_table(spark, sf_dir, "documents").count()
        per_epoch = {}
        for epoch, shard, n, ks, oc in rows1:
            per_epoch.setdefault(epoch, [0, []])
            per_epoch[epoch][0] += n
            per_epoch[epoch][1].append((shard, oc))
        assert set(per_epoch) == {0, 1, 2}
        for epoch, (tot, _) in per_epoch.items():
            assert tot == n_docs  # every doc appears exactly once per epoch
        # different epochs produce different shard orders
        assert per_epoch[0][1] != per_epoch[1][1] != per_epoch[2][1]

    def test_key_formula_spot_check(self, spark, tmp_path):
        docs = [(7, "en", "x", "s")]
        df = spark.createDataFrame(
            docs, "doc_id long, lang string, text string, source string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from datafusion_cyberpolka_eda_spark.registry.llm import l49_epoch_shuffle

        rows = l49_epoch_shuffle(spark, str(tmp_path)).collect()
        for r in rows:
            h = ((7 + 1) * 1103515245 + r.epoch * 12345) % 2147483647
            assert r.key_sum == h
            assert r.shard == h % 16
            assert r.order_checksum == 1 * 7  # single doc, rank 1


class TestQualityCalibratedKeep:
    def test_keeps_best_ninety_percent_per_lang(self, spark, tmp_path):
        # 10 'en' docs: 9 natural repeats of the same text (low NLL) and
        # one scrambled doc (high NLL) -> the scrambled one is dropped.
        # 1 'de' doc: ceil(0.9*1)=1 -> kept. A 1-token doc is unscoreable
        # and excluded from the population entirely.
        docs = [(i, "en", "a b a b a b", "s") for i in range(9)]
        docs.append((9, "en", "b b a a b a", "s"))  # rare bigrams: b b, a a
        docs.append((20, "de", "x y x y", "s"))
        docs.append((30, "fr", "solo", "s"))  # single token: no bigrams
        df = spark.createDataFrame(
            docs, "doc_id long, lang string, text string, source string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            l50_quality_calibrated_keep,
        )

        out = {
            r.lang: r for r in l50_quality_calibrated_keep(spark, str(tmp_path)).collect()
        }
        assert "fr" not in out  # unscoreable doc is outside the population
        en, de = out["en"], out["de"]
        assert (en.n_docs, en.n_kept) == (10, 9)
        assert en.kept_id_sum == sum(range(9))  # doc 9 (scrambled) dropped
        assert (de.n_docs, de.n_kept) == (1, 1)
        assert de.kept_id_sum == 20


class TestIncrementalCovariance:
    def test_merged_equals_from_scratch(self, spark, sf_dir):
        """The merged store+increment state must equal l46's from-scratch
        covariance diagonal (same vectors, same statistic)."""
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            l46_embedding_covariance,
            l51_incremental_covariance,
        )

        inc = {
            r.i: (r.mean, r.var)
            for r in l51_incremental_covariance(spark, sf_dir).collect()
        }
        full_diag = {
            r.i: r.cov
            for r in l46_embedding_covariance(spark, sf_dir).collect()
            if r.i == r.j
        }
        assert set(inc) == set(full_diag) == set(range(64))
        for i in range(64):
            assert inc[i][1] == pytest.approx(full_diag[i], abs=2e-6)

    def test_store_is_fixed_size_and_increment_scan_pushed(self, spark, sf_dir):
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            _gram_store,
            l51_incremental_covariance,
        )

        cutoff, path = _gram_store(spark, sf_dir)
        store = spark.read.parquet(path)
        assert store.count() == 1 + 64 + 64 * 64  # fixed, corpus-independent
        # memoized: second call returns the same store, no rebuild
        assert _gram_store(spark, sf_dir) == (cutoff, path)
        plan = l51_incremental_covariance(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(vec_id" in plan  # increment-only scan


class TestStreamChunking:
    def test_streamed_equals_batch(self, spark, tmp_path):
        """Chunks accumulated across 3 forced micro-batch epochs must
        equal one batch chunking pass — exactly once, no doc lost."""
        from datafusion_cyberpolka_eda_spark.registry.llm import chunk_docs
        from datafusion_cyberpolka_eda_spark.streaming.documents import (
            stream_chunking,
        )

        docs = spark.createDataFrame(
            [(i, "en" if i % 2 else "de", " ".join(["w"] * (5 + 7 * i)), "s")
             for i in range(12)],
            "doc_id long, lang string, text string, source string",
        )
        out = {
            r.lang: tuple(r)[1:]
            for r in stream_chunking(
                spark, docs, str(tmp_path / "scratch")
            ).collect()
        }
        cs = (F.col("start_tok") * 8191 + F.col("chunk_tokens")) * (
            F.col("doc_id") % 97 + 1
        )
        per = chunk_docs(docs).groupBy("doc_id", "lang").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("chunk_tokens").alias("tk"),
            F.sum(cs).alias("cs"),
        )
        batch = {
            r.lang: tuple(r)[1:]
            for r in per.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("c").cast("bigint").alias("n_chunks"),
                F.sum("tk").cast("bigint").alias("total_chunk_tokens"),
                F.max("c").cast("bigint").alias("max_chunks_per_doc"),
                F.sum("cs").cast("bigint").alias("boundary_checksum"),
            )
            .collect()
        }
        assert out == batch


class TestChunkThenPack:
    def test_bin_arithmetic_reconciles(self, spark, sf_dir):
        """Composed invariants: total packed tokens == total chunk tokens;
        every bin within cap or a lone oversized chunk (impossible here:
        chunks are <= 32 <= 128, so within_cap must be ALL true); chunk
        count conserved."""
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            chunk_docs,
            l52_chunk_then_pack,
        )
        from datafusion_cyberpolka_eda_spark.sources.catalog import load_table

        bins = l52_chunk_then_pack(spark, sf_dir).collect()
        ch = chunk_docs(load_table(spark, sf_dir, "documents")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("chunk_tokens").alias("tk")
        ).collect()[0]
        assert sum(b.n_chunks for b in bins) == ch.n
        assert sum(b.total_tokens for b in bins) == ch.tk
        assert all(b.within_cap for b in bins)
        assert all(b.total_tokens <= 128 for b in bins)
        # shards actually spread (the 8191 multiplier property)
        assert len({b.shard for b in bins}) == 16
