"""At-least-once replay idempotency (r7 ADVICE): Structured Streaming
may re-deliver a foreachBatch epoch with the SAME epoch_id after a
transient failure. Every foreachBatch handler in streaming/ writes
epoch-keyed directories with mode('overwrite'), so a replayed epoch must
rewrite — never duplicate, never throw path-exists. These tests flip the
documents module's _TEST_REPLAY shim (j11's test patches the stream
writer itself) so EVERY epoch is delivered twice, then assert the
accumulated result still equals the batch answer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
from datafusion_cyberpolka_eda_spark.streaming import documents as SD


@pytest.fixture()
def replay_every_epoch():
    SD._TEST_REPLAY = True
    try:
        yield
    finally:
        SD._TEST_REPLAY = False


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestReplayIdempotency:
    def test_incremental_dedup_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        store_path = str(tmp_path / "store.parquet")
        D.minhash_signatures_portable(
            docs.filter(F.col("doc_id") < cutoff), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        ).write.parquet(store_path)
        inc = docs.filter(F.col("doc_id") >= cutoff)

        streamed = SD.stream_incremental_dedup(
            spark, inc, store_path, str(tmp_path / "scratch"), cutoff
        )
        want = D.incremental_minhash_pairs(
            D.minhash_signatures_portable(
                inc, "doc_id", "text", n=3, num_hashes=32, bands=8
            ),
            spark.read.parquet(store_path),
            num_hashes=32,
            est_threshold=0.45,
        ).select(
            "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
        )
        got = streamed.select("id_a", "id_b", "est_jaccard")
        assert _rows(got) == _rows(want)
        # no duplicates despite every epoch delivered twice
        assert streamed.count() == streamed.select(
            "id_a", "id_b"
        ).distinct().count()

    def test_quality_routing_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        docs = load_table(spark, sf_dir, "documents")
        streamed = SD.stream_quality_routing(
            spark, docs, str(tmp_path / "scratch")
        )
        batch = (
            docs.select(
                "doc_id",
                "lang",
                F.size(F.split(F.col("text"), " "))
                .cast("bigint")
                .alias("n_tokens"),
                SD.quality_sink_col().alias("sink"),
            )
            .groupBy("sink", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
        )
        assert _rows(streamed) == _rows(batch)

    def test_chunking_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        from datafusion_cyberpolka_eda_spark.registry.llm import chunk_docs

        docs = load_table(spark, sf_dir, "documents")
        streamed = SD.stream_chunking(spark, docs, str(tmp_path / "scratch"))
        ch = chunk_docs(docs)
        cs = (F.col("start_tok") * 8191 + F.col("chunk_tokens")) * (
            F.col("doc_id") % 97 + 1
        )
        per = ch.groupBy("doc_id", "lang").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("chunk_tokens").alias("tk"),
            F.sum(cs).alias("cs"),
        )
        batch = per.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").cast("bigint").alias("n_chunks"),
            F.sum("tk").cast("bigint").alias("total_chunk_tokens"),
            F.max("c").cast("bigint").alias("max_chunks_per_doc"),
            F.sum("cs").cast("bigint").alias("boundary_checksum"),
        )
        assert _rows(streamed) == _rows(batch)

    def test_takedown_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """Replayed takedown epochs must neither double-append tombstones
        nor throw path-exists on the version-chain write (the exact r7
        ADVICE failure modes)."""
        docs = load_table(spark, sf_dir, "documents")
        sig_store_path = str(tmp_path / "sigs.parquet")
        sigs = D.minhash_signatures_portable(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).withColumnRenamed("doc_id", "id")
        sigs.write.parquet(sig_store_path)
        edges = D.banded_pairs_from_signatures(
            spark.read.parquet(sig_store_path),
            num_hashes=32,
            est_threshold=0.45,
        ).select("id_a", "id_b")
        labels = D.connected_components(edges, "id_a", "id_b")
        labels_path = str(tmp_path / "labels.parquet")
        labels.write.parquet(labels_path)
        # remove a few members of real components so relabeling happens
        comp_of = {r["id"]: r["comp"] for r in labels.collect()}
        multi = [
            i for i, c in comp_of.items()
            if sum(1 for v in comp_of.values() if v == c) > 1
        ]
        removed_ids = sorted(multi)[:3] or sorted(comp_of)[:3]
        requests = spark.createDataFrame(
            [(i,) for i in removed_ids], "id bigint"
        )

        streamed = SD.stream_takedown(
            spark, requests, labels_path, sig_store_path,
            str(tmp_path / "scratch"),
        )
        rows = streamed.collect()
        removed_rows = [r for r in rows if r["status"] == "removed"]
        # each removed id appears EXACTLY once (no tombstone duplication)
        assert sorted(r["doc_id"] for r in removed_rows) == removed_ids
        # survivors unique per doc
        ids = [r["doc_id"] for r in rows]
        assert len(ids) == len(set(ids))

    def test_psi_drift_replay(self, spark, sf_dir, tmp_path, replay_every_epoch):
        """Streamed PSI from twice-delivered epochs must equal the batch
        l39 answer bit-for-bit (integer count merges are replay-proof
        under epoch-keyed overwrite)."""
        from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
            l39_psi_drift,
        )

        docs = load_table(spark, sf_dir, "documents")
        streamed = SD.stream_psi_drift(spark, docs, str(tmp_path / "scratch"))
        batch = l39_psi_drift(spark, sf_dir)
        assert _rows(streamed) == _rows(batch)


class TestAssetIngestReplay:
    def test_asset_fingerprint_dedup_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j20's epoch body (decode+hash+band-join+append) must be
        idempotent under double delivery: the accumulated pair set
        equals the batch incremental answer with no duplicates."""
        from datafusion_cyberpolka_eda_spark.operators.multimodal import (
            N_AHASH_BITS,
            ahash63_fingerprints,
            make_ppm_neardup_assets,
        )

        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        store_path = str(tmp_path / "fp_store.parquet")
        ahash63_fingerprints(
            make_ppm_neardup_assets(docs.filter(F.col("doc_id") < cutoff))
        ).write.parquet(store_path)
        inc = docs.filter(F.col("doc_id") >= cutoff)

        streamed = SD.stream_incremental_fingerprint_dedup(
            spark, inc, store_path, str(tmp_path / "scratch"), cutoff
        )
        want = D.incremental_fingerprint_pairs(
            ahash63_fingerprints(make_ppm_neardup_assets(inc)),
            spark.read.parquet(store_path),
            max_hamming=3,
            n_bits=N_AHASH_BITS,
        ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
        got = streamed.select("id_a", "id_b", "hamming")
        assert _rows(got) == _rows(want)
        # no duplicates despite every epoch delivered twice
        assert streamed.count() == streamed.select(
            "id_a", "id_b"
        ).distinct().count()

    def test_model_filter_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j21: every epoch delivered twice must still reproduce the
        one-shot batch deployment of the same frozen weights."""
        from datafusion_cyberpolka_eda_spark.registry.llm import (
            _qc_keep_expr,
            _qc_weights,
        )

        docs = load_table(spark, sf_dir, "documents")
        w = _qc_weights(spark, sf_dir)
        streamed = SD.stream_model_filter(
            spark, docs, _qc_keep_expr(w), str(tmp_path / "scratch")
        )
        batch = (
            docs.select(
                "source",
                F.size(F.split(F.col("text"), " "))
                .cast("bigint")
                .alias("nt"),
                _qc_keep_expr(w).alias("keep"),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("keep").cast("int"))
                .cast("bigint")
                .alias("n_kept"),
                F.sum("nt").cast("bigint").alias("total_tokens"),
                F.sum(F.when(F.col("keep"), F.col("nt")).otherwise(0))
                .cast("bigint")
                .alias("kept_tokens"),
                F.round(
                    F.sum(F.col("keep").cast("int")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("keep_rate"),
            )
        )
        assert _rows(streamed) == _rows(batch)

    def test_dsir_scoring_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j22: every epoch delivered twice must still reproduce the
        one-shot incremental selection over the frozen scorer."""
        from datafusion_cyberpolka_eda_spark.registry import llm as L

        docs = load_table(spark, sf_dir, "documents")
        cutoff, store_path = L._dsir_store(spark, sf_dir)
        sc_table = spark.read.parquet(store_path)

        def score_doc(batch_df):
            return L._dsir_score_batch(batch_df, sc_table)

        streamed = SD.stream_dsir_scoring(
            spark,
            docs.filter(F.col("doc_id") >= cutoff),
            score_doc,
            str(tmp_path / "scratch"),
        )
        batch = L.l73_incremental_dsir(spark, sf_dir)
        assert _rows(streamed) == _rows(batch)

    def test_semdedup_streaming_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j23: every epoch delivered twice must still reproduce the
        one-shot incremental SemDeDup over the frozen day-1 store."""
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            SEMDEDUP_TWIN_OFFSET,
            _semdedup_store,
            l69_incremental_semdedup,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cutoff, cent, day1_path = _semdedup_store(spark, sf_dir)
        day1 = spark.read.parquet(day1_path)
        day2q = emb.filter(F.col("vec_id") >= cutoff).select(
            F.col("vec_id").alias("id"),
            F.transform(
                "embedding",
                lambda x: F.floor(x * F.lit(100000.0)).cast("long"),
            ).alias("q"),
        )
        bases = day1.select("id", "q").unionByName(day2q)
        twins = bases.filter(F.col("id") % 9 == 4).select(
            (F.col("id") + F.lit(SEMDEDUP_TWIN_OFFSET)).alias("id"),
            F.transform(
                "q",
                lambda x, i: x
                + ((F.col("id") * 31 + i.cast("long") * 17) % 7 - 3).cast(
                    "long"
                ),
            ).alias("q"),
        )
        streamed = SD.stream_semdedup(
            spark,
            day2q.unionByName(twins),
            cent,
            day1_path,
            str(tmp_path / "scratch"),
            SEMDEDUP_TWIN_OFFSET,
        )
        batch = l69_incremental_semdedup(spark, sf_dir)
        assert _rows(streamed) == _rows(batch)

    def test_semdedup_adaptive_streaming_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j23b: the ADAPTIVE-store streaming path, every epoch
        delivered twice, must still reproduce the one-shot l69b answer
        — prune set AND assignment multiset — proving arrival-order
        independence + replay idempotency on the production surface."""
        from datafusion_cyberpolka_eda_spark.operators import (
            similarity as SIM,
        )
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            _adaptive_increment_unit,
            _semdedup_adaptive_store,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cutoff, k1, centers, day1_path = _semdedup_adaptive_store(
            spark, sf_dir
        )
        inc_unit = _adaptive_increment_unit(emb, cutoff).localCheckpoint(
            eager=True
        )
        cells, pruned, n_epochs = SD.stream_semdedup_adaptive(
            spark, inc_unit, centers, k1, day1_path,
            str(tmp_path / "scratch"),
        )
        assert n_epochs >= 2  # the stream must actually micro-batch

        # one-shot l69b semantics over the same frozen store + increment
        assign = (
            SIM.assign_cells_arrow
            if k1 > SIM._LITERAL_CELL_CAP
            else SIM.assign_cells_literal
        )
        cells_new = assign(inc_unit, centers, 1).localCheckpoint(eager=True)
        side_new = cells_new.join(inc_unit, "id").localCheckpoint(eager=True)
        day1 = spark.read.parquet(day1_path)
        side_all = day1.select("id", "cell", "unit_arr").unionByName(side_new)
        a = side_all.select(
            F.col("id").alias("id_a"), "cell",
            F.col("unit_arr").alias("arr_a"),
        )
        b = side_new.select(
            F.col("id").alias("id_b"), "cell",
            F.col("unit_arr").alias("arr_b"),
        )
        oneshot = (
            a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(SIM.dot_expr("arr_a", "arr_b") >= F.lit(0.999))
            .select(F.col("id_b").alias("id"))
            .distinct()
        )
        assert _rows(pruned) == _rows(oneshot)
        assert _rows(cells) == _rows(cells_new.select("id", "cell"))

    def test_crossmodal_dedup_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j24: the streaming cross-modal path, every epoch delivered
        twice, must still reproduce l78b's one-shot incremental tagged
        edge union — both modalities' stores append exactly once per
        epoch and each pair is emitted exactly once."""
        from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
            _mm_fp_store,
            _xm_text_store,
            l78b_crossmodal_incremental,
        )

        cutoff, sig_path = _xm_text_store(spark, sf_dir)
        icutoff, fp_path = _mm_fp_store(spark, sf_dir, "image")
        assert icutoff == cutoff
        docs = load_table(spark, sf_dir, "documents")
        streamed = SD.stream_crossmodal_dedup(
            spark,
            docs.filter(F.col("doc_id") >= cutoff),
            sig_path,
            fp_path,
            str(tmp_path / "scratch"),
            cutoff,
        )
        want = l78b_crossmodal_incremental(spark, sf_dir)
        assert _rows(streamed) == _rows(want)
        assert streamed.count() == streamed.select(
            "id_a", "id_b"
        ).distinct().count()

    def test_crossmodal_commits_keep_the_query_job_group(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """j24 runs two of its three commits on pool threads: each must
        run under the handler thread's job group (the query's run id),
        or q.stop() cannot cancel its jobs."""
        from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
            _mm_fp_store,
            _xm_text_store,
        )

        sc = spark.sparkContext
        handler_groups, commit_groups = [], []
        real_deliver, real_commit = SD._deliver, SD._commit_epoch

        def recording_deliver(handle):
            def recorded(batch_df, epoch_id):
                handler_groups.append(sc.getLocalProperty("spark.jobGroup.id"))
                handle(batch_df, epoch_id)

            return real_deliver(recorded)

        def recording_commit(df, root, epoch_id):
            commit_groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            real_commit(df, root, epoch_id)

        monkeypatch.setattr(SD, "_deliver", recording_deliver)
        monkeypatch.setattr(SD, "_commit_epoch", recording_commit)
        cutoff, sig_path = _xm_text_store(spark, sf_dir)
        _, fp_path = _mm_fp_store(spark, sf_dir, "image")
        docs = load_table(spark, sf_dir, "documents")
        SD.stream_crossmodal_dedup(
            spark,
            docs.filter(F.col("doc_id") >= cutoff),
            sig_path,
            fp_path,
            str(tmp_path / "scratch"),
            cutoff,
        )
        assert handler_groups
        assert None not in handler_groups
        assert len(set(handler_groups)) == 1  # one query, one run id
        # three commits per epoch, two of them on pool threads
        assert commit_groups == handler_groups[:1] * (3 * len(handler_groups))

    def test_domain_mixture_replay(
        self, spark, sf_dir, tmp_path, replay_every_epoch
    ):
        """j25: the streaming mixture re-balance, every epoch delivered
        twice, must still reproduce l79c's one-shot incremental report
        — aggregate deltas commit exactly once per epoch (a doubled
        delta would corrupt every share/budget/selection downstream)."""
        from datafusion_cyberpolka_eda_spark.functions import text as T
        from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
            _mixture_store,
            l79c_domain_mixture_incremental,
        )

        cutoff, cent, rows_path, aggs_path = _mixture_store(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        docs = load_table(spark, sf_dir, "documents")
        inc = emb.filter(F.col("vec_id") >= cutoff).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ).join(
            docs.filter(F.col("doc_id") >= cutoff).select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        streamed = SD.stream_domain_mixture(
            spark, inc, cent, rows_path, aggs_path,
            str(tmp_path / "scratch"),
        )
        want = l79c_domain_mixture_incremental(spark, sf_dir)
        assert _rows(streamed) == _rows(want)


class TestForeachBatchSinkReplay:
    def test_j11_rollup_survives_double_delivery(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """Every epoch delivered twice with the same epoch_id (patched at
        the writer, so no driver can bypass it): the rolled-up partials
        must still equal the direct batch aggregation."""
        from datafusion_cyberpolka_eda_spark.sources.catalog import (
            normalize_event_ts,
        )
        from datafusion_cyberpolka_eda_spark.streaming.events import (
            stream_foreachbatch_incremental,
        )

        real = DataStreamWriter.foreachBatch

        def twice(self, func):
            def replayed(batch_df, epoch_id):
                func(batch_df, epoch_id)
                func(batch_df, epoch_id)

            return real(self, replayed)

        monkeypatch.setattr(DataStreamWriter, "foreachBatch", twice)
        path = os.path.join(sf_dir, "events.parquet")
        got = stream_foreachbatch_incremental(spark, path, str(tmp_path / "fb"))
        want = (
            normalize_event_ts(spark.read.parquet(path))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        assert _rows(got) == _rows(want)
