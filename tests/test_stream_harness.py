"""The forced-epoch stream harness (``streaming.documents._stream_epochs``)
is the one place that fans an increment into range files, opens the
file stream with maxFilesPerTrigger=1 and runs the foreachBatch query;
every foreachBatch driver in ``streaming/`` calls it. These tests keep
that shape in one function and pin the takedown epoch's job count: it
computes its affected members once. Replay of every driver, j11's
included, is covered by test_streaming_replay.py."""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
from datafusion_cyberpolka_eda_spark.streaming import documents as SD

_STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datafusion_cyberpolka_eda_spark",
    "streaming",
)


def _harness_sites(tree: ast.AST) -> list[int]:
    """Line numbers of the harness's shape in code (docstrings and
    comments do not count): a ``foreachBatch(`` call, the
    ``"maxFilesPerTrigger"`` option and ``spark.read.parquet(src_dir)
    .schema``."""
    sites = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "foreachBatch"
        ):
            sites.append(node.lineno)
        elif isinstance(node, ast.Constant) and node.value == "maxFilesPerTrigger":
            sites.append(node.lineno)
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "schema"
            and isinstance(node.value, ast.Call)
            and ast.unparse(node.value) == "spark.read.parquet(src_dir)"
        ):
            sites.append(node.lineno)
    return sites


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class TestHarnessOwnsTheShape:
    def test_stream_shape_only_inside_the_harness(self):
        harness = None
        outside = []
        for name in ("documents.py", "events.py"):
            tree = ast.parse(open(os.path.join(_STREAMING, name)).read())
            span = range(0)
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "_stream_epochs":
                    span = range(node.lineno, node.end_lineno + 1)
                    harness = name
            outside += [
                f"{name}:{ln}" for ln in _harness_sites(tree) if ln not in span
            ]
        assert outside == [], "stream harness re-spelled outside _stream_epochs"
        assert harness == "documents.py"


class TestTakedownEpochJobs:
    def test_delta_computes_members_once(self, spark):
        """After the CC, the delta's consumers read the one tagged-member
        cut: collecting the delta runs its result job and one broadcast,
        and no job that re-derives removed, affected or members (6 jobs
        when the tombstones re-joined the members with the removed set)."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
            "id_a bigint, id_b bigint",
        )
        labels = D.connected_components(edges, "id_a", "id_b").localCheckpoint(
            eager=True
        )
        removed = spark.createDataFrame([(2,), (21,)], "id bigint")

        def edges_fn(remaining):
            ids = remaining.select("id")
            return (
                edges.join(ids.withColumnRenamed("id", "id_a"), "id_a", "semi")
                .join(ids.withColumnRenamed("id", "id_b"), "id_b", "semi")
                .select("id_a", "id_b")
            )

        delta = D.takedown_components(labels, removed, edges_fn)
        j0 = _jobs(spark)
        rows = delta.collect()
        jobs = _jobs(spark) - j0
        assert sorted((r["id"], r["old_comp"], r["comp"]) for r in rows) == [
            (1, 1, 1), (2, 1, None), (3, 1, 3),
            (20, 20, 20), (21, 20, None), (22, 20, 22),
        ]
        assert jobs <= 2, f"the delta re-derived its members: {jobs} jobs"

    def test_stream_takedown_epoch_jobs(self, spark, sf_dir, tmp_path, monkeypatch):
        """j17's per-epoch jobs outside the connected-components call
        (whose edge rebuild and rounds depend on the data): one
        tagged-member cut per epoch, a delta that re-derives nothing and
        a store read that plans no schema job."""
        docs = load_table(spark, sf_dir, "documents")
        sig_path = str(tmp_path / "sigs.parquet")
        D.minhash_signatures_portable(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).withColumnRenamed("doc_id", "id").write.parquet(sig_path)
        labels = D.connected_components(
            D.banded_pairs_from_signatures(
                spark.read.parquet(sig_path), num_hashes=32, est_threshold=0.45
            ).select("id_a", "id_b"),
            "id_a",
            "id_b",
        )
        labels_path = str(tmp_path / "labels.parquet")
        labels.write.parquet(labels_path)
        requests = (
            spark.read.parquet(labels_path)
            .filter(F.col("id") != F.col("comp"))
            .select(F.col("comp").alias("id"))
            .distinct()
        )

        per_epoch, in_cc = [], []
        real_deliver, real_cc = SD._deliver, D.connected_components

        def counting(handle):
            def counted(batch_df, eid):
                in_cc.clear()
                j0 = _jobs(spark)
                handle(batch_df, eid)
                per_epoch.append(_jobs(spark) - j0 - sum(in_cc))

            return real_deliver(counted)

        def counted_cc(*args, **kwargs):
            j0 = _jobs(spark)
            out = real_cc(*args, **kwargs)
            in_cc.append(_jobs(spark) - j0)
            return out

        monkeypatch.setattr(SD, "_deliver", counting)
        monkeypatch.setattr(D, "connected_components", counted_cc)
        SD.stream_takedown(
            spark, requests, labels_path, sig_path, str(tmp_path / "scratch")
        ).collect()
        # 15, 15, 17 when each epoch re-read its store's schema and its
        # delta re-derived the members
        assert len(per_epoch) >= 2
        assert max(per_epoch) <= 13, per_epoch
