"""Streaming takedown (j17): epoch-at-a-time removal batches applied to
the persisted label store must reproduce the one-shot batch takedown —
including the cross-epoch case where one component loses members in
DIFFERENT epochs (split in epoch A, shrunk again in epoch B)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
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
    labels = D.connected_components(pairs, "id_a", "id_b")
    labels_path = str(tmp_path / "labels.parquet")
    labels.write.parquet(labels_path)
    return sig_path, labels_path


class TestStreamTakedownToy:
    def test_chain_topology_is_as_designed(self, spark, tmp_path):
        sig_path, labels_path = _toy_store(spark, tmp_path)
        sig = spark.read.parquet(sig_path)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.banded_pairs_from_signatures(sig).collect()
        }
        assert pairs == {(1, 2), (2, 3), (10, 11)}
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
        sig_path, labels_path = _toy_store(spark, tmp_path)
        requests = spark.createDataFrame([(1,), (3,)], "id bigint")
        got = {
            r["doc_id"]: (
                r["old_component"],
                r["new_component"],
                r["status"],
                r["new_cluster_size"],
            )
            for r in stream_takedown(
                spark,
                requests,
                labels_path,
                sig_path,
                str(tmp_path / "scratch"),
                n_files=2,
            ).collect()
        }
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
