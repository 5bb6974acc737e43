"""Streaming takedown (j17): epoch-at-a-time removal batches applied to
the persisted day-1 label store must reproduce the one-shot batch
takedown — including the cross-epoch case where one component loses
members in DIFFERENT epochs (split in epoch A, shrunk again in epoch B)
— while each epoch commits a label delta holding only the day-1 members
of the components its batch touched."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.streaming import documents as SD
from datafusion_cyberpolka_eda_spark.streaming.documents import stream_takedown


def _toy_store(spark, tmp_path):
    """Hand-built signature store forming the CHAIN 1-2-3: doc 2 shares
    its first 4 bands (and 16/32 signature slots -> est 0.5) with doc 1
    and its last 4 bands with doc 3; docs 1 and 3 share nothing. Plus a
    far-away singleton pair 10-11 that no request touches."""
    def sig_row(id_, first, second):
        sig = [first] * 16 + [second] * 16
        keys = [",".join(str(v) for v in sig[b * 4:(b + 1) * 4]) for b in range(8)]
        return (id_, sig, keys)

    rows = [
        sig_row(1, 1, 1),
        sig_row(2, 1, 3),
        sig_row(3, 3, 3),
        sig_row(10, 7, 7),
        sig_row(11, 7, 7),
    ]
    sig = spark.createDataFrame(
        rows, "id bigint, sig array<bigint>, band_keys array<string>"
    )
    sig_path = str(tmp_path / "sigs.parquet")
    sig.write.parquet(sig_path)
    pairs = D.banded_pairs_from_signatures(sig, num_hashes=32, est_threshold=0.45)
    edges_path = str(tmp_path / "edges.parquet")
    pairs.select("id_a", "id_b").write.parquet(edges_path)
    labels = D.connected_components(pairs, "id_a", "id_b")
    labels_path = str(tmp_path / "labels.parquet")
    labels.write.parquet(labels_path)
    return sig_path, labels_path, edges_path


def _edge_store(spark, tmp_path, edges):
    """Day-1 stores straight from an edge list: (labels_path, edges_path)."""
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    edges_path = str(tmp_path / "edges.parquet")
    df.write.parquet(edges_path)
    labels_path = str(tmp_path / "labels.parquet")
    D.connected_components(df, "id_a", "id_b").write.parquet(labels_path)
    return labels_path, edges_path


def _recording_batches(monkeypatch):
    """Record each delivered epoch's request ids: {eid: sorted ids}."""
    batches = {}
    real_deliver = SD._deliver

    def recording(handle):
        def recorded(batch_df, eid):
            batches[eid] = sorted(r["id"] for r in batch_df.collect())
            handle(batch_df, eid)

        return real_deliver(recorded)

    monkeypatch.setattr(SD, "_deliver", recording)
    return batches


def _rollup(df):
    return {
        r["doc_id"]: (
            r["old_component"],
            r["new_component"],
            r["status"],
            r["new_cluster_size"],
        )
        for r in df.collect()
    }


class TestStreamTakedownToy:
    def test_chain_topology_is_as_designed(self, spark, tmp_path):
        sig_path, labels_path, edges_path = _toy_store(spark, tmp_path)
        sig = spark.read.parquet(sig_path)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.banded_pairs_from_signatures(sig).collect()
        }
        assert pairs == {(1, 2), (2, 3), (10, 11)}
        assert {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(edges_path).collect()
        } == pairs
        labels = {
            r["id"]: r["comp"]
            for r in spark.read.parquet(labels_path).collect()
        }
        assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_cross_epoch_removals_equal_batch(self, spark, tmp_path):
        """Docs 1 and 3 are removed in DIFFERENT epochs
        (repartitionByRange on id splits them), so component 1 is
        re-derived twice: epoch A relabels {2,3} -> 2, epoch B shrinks
        it to {2}. The final rollup must equal the one-shot batch
        takedown of {1, 3}, and the untouched component {10, 11} must
        not appear."""
        sig_path, labels_path, edges_path = _toy_store(spark, tmp_path)
        requests = spark.createDataFrame([(1,), (3,)], "id bigint")
        got = _rollup(
            stream_takedown(
                spark,
                requests,
                labels_path,
                edges_path,
                str(tmp_path / "scratch"),
                n_files=2,
            )
        )
        assert got == {
            1: (1, None, "removed", None),
            2: (1, 2, "relabeled", 1),
            3: (1, None, "removed", None),
        }

        # one-shot batch truth over the same stores
        sig = spark.read.parquet(sig_path)

        def edges_fn(remaining):
            sub = sig.join(F.broadcast(remaining.select("id")), "id", "semi")
            return D.banded_pairs_from_signatures(sub).select("id_a", "id_b")

        batch = {
            r["id"]: (r["old_comp"], r["comp"])
            for r in D.takedown_components(
                spark.read.parquet(labels_path), requests, edges_fn
            ).collect()
        }
        assert batch == {1: (1, None), 2: (1, 2), 3: (1, None)}


class TestStreamTakedownDeltaLog:
    def test_epoch_delta_holds_only_touched_components(
        self, spark, tmp_path, monkeypatch
    ):
        """Each epoch's committed label delta holds exactly the day-1
        members of the components its batch touched — its write tracks
        the request batch, not the store (rewriting the whole store per
        epoch would put the untouched components in every delta)."""
        labels_path, edges_path = _edge_store(
            spark,
            tmp_path,
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21),
             (30, 31), (40, 41)],
        )
        batches = _recording_batches(monkeypatch)
        requests = spark.createDataFrame(
            [(2,), (3,), (11,), (21,)], "id bigint"
        )
        scratch = str(tmp_path / "scratch")
        stream_takedown(spark, requests, labels_path, edges_path, scratch)
        assert len(batches) >= 2
        day1 = {
            r["id"]: r["comp"] for r in spark.read.parquet(labels_path).collect()
        }
        for eid, ids in batches.items():
            touched = {day1[i] for i in ids}
            want = sorted(i for i, c in day1.items() if c in touched)
            got = spark.read.parquet(
                SD._epoch_dir(f"{scratch}/label_delta", eid)
            ).collect()
            assert sorted(r["id"] for r in got) == want, (eid, ids)

    def test_three_epoch_chain_under_replay_equals_batch(
        self, spark, tmp_path, monkeypatch
    ):
        """Chain 1-...-7 loses 1, 4 and 7 in three different epochs, each
        delivered twice: the streamed rollup equals the one-shot batch
        takedown. In request order, member 5 is labeled 2 by the first
        epoch and 5 by the second, so the read-back must take the last
        epoch's label, not the first's."""
        chain = [(i, i + 1) for i in range(1, 7)]
        labels_path, edges_path = _edge_store(spark, tmp_path, chain)
        monkeypatch.setattr(SD, "_TEST_REPLAY", True)
        batches = _recording_batches(monkeypatch)
        requests = spark.createDataFrame([(1,), (4,), (7,)], "id bigint")
        got = _rollup(
            stream_takedown(
                spark, requests, labels_path, edges_path,
                str(tmp_path / "scratch"),
            )
        )
        assert sorted(batches.values()) == [[1], [4], [7]]
        assert got == {
            1: (1, None, "removed", None),
            2: (1, 2, "relabeled", 2),
            3: (1, 2, "relabeled", 2),
            4: (1, None, "removed", None),
            5: (1, 5, "relabeled", 2),
            6: (1, 5, "relabeled", 2),
            7: (1, None, "removed", None),
        }
        edges = spark.read.parquet(edges_path)
        batch = {
            r["id"]: (r["old_comp"], r["comp"])
            for r in D.takedown_components(
                spark.read.parquet(labels_path),
                requests,
                lambda members: D.edges_among(edges, members),
            ).collect()
        }
        assert batch == {i: row[:2] for i, row in got.items()}


class TestStreamTakedownRealData:
    def test_equals_batch_l38(self, spark, sf_dir):
        """On the documents-table stores: the streamed rollup must equal
        the batch l38 entry row-for-row."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L
        from datafusion_cyberpolka_eda_spark.registry.events import (
            j17_stream_takedown,
        )

        def key(df):
            return {
                (
                    r["doc_id"],
                    r["old_component"],
                    r["new_component"],
                    r["status"],
                    r["new_cluster_size"],
                )
                for r in df.collect()
            }

        got = key(j17_stream_takedown(spark, sf_dir))
        want = key(L.l38_takedown_propagation(spark, sf_dir))
        assert got == want and got


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
