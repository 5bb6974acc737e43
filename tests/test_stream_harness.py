"""The forced-epoch stream harness (``streaming.documents._stream_epochs``)
is the one place that fans an increment into range files, opens the
file stream with maxFilesPerTrigger=1 and runs the foreachBatch query;
every foreachBatch driver in ``streaming/`` calls it. These tests keep
that shape in one function, keep every epoch write in ``_commit_epoch``,
pin the takedown epoch's job count (it computes its affected members
once and commits one delta) and keep an empty store's read taskless.
Replay of every driver, j11's included, is covered by
test_streaming_replay.py."""

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

        delta = D.takedown_components(
            labels, removed, lambda members: D.edges_among(edges, members)
        )
        j0 = _jobs(spark)
        rows = delta.collect()
        jobs = _jobs(spark) - j0
        assert sorted((r["id"], r["old_comp"], r["comp"]) for r in rows) == [
            (1, 1, 1), (2, 1, None), (3, 1, 3),
            (20, 20, 20), (21, 20, None), (22, 20, 22),
        ]
        assert jobs <= 2, f"the delta re-derived its members: {jobs} jobs"

    def test_stream_takedown_epoch_jobs(self, spark, sf_dir, tmp_path, monkeypatch):
        """j17's per-epoch jobs: the tagged-member cut, the delta commit
        and nothing else outside the connected-components call (whose
        edge slice and rounds depend on the data), and at most 12 in
        all. The epoch reads only immutable inputs and commits one
        delta: no store read plans a schema job and no store rewrite
        runs."""
        docs = load_table(spark, sf_dir, "documents")
        edges = D.banded_pairs_from_signatures(
            D.minhash_signatures_portable(
                docs, "doc_id", "text", n=3, num_hashes=32, bands=8
            ).withColumnRenamed("doc_id", "id"),
            num_hashes=32,
            est_threshold=0.45,
        ).select("id_a", "id_b")
        edges_path = str(tmp_path / "edges.parquet")
        edges.write.parquet(edges_path)
        labels_path = str(tmp_path / "labels.parquet")
        D.connected_components(
            spark.read.parquet(edges_path), "id_a", "id_b"
        ).write.parquet(labels_path)
        requests = (
            spark.read.parquet(labels_path)
            .filter(F.col("id") != F.col("comp"))
            .select(F.col("comp").alias("id"))
            .distinct()
        )

        per_epoch, outside_cc, in_cc = [], [], []
        real_deliver, real_cc = SD._deliver, D.connected_components

        def counting(handle):
            def counted(batch_df, eid):
                in_cc.clear()
                j0 = _jobs(spark)
                handle(batch_df, eid)
                per_epoch.append(_jobs(spark) - j0)
                outside_cc.append(per_epoch[-1] - sum(in_cc))

            return real_deliver(counted)

        def counted_cc(*args, **kwargs):
            j0 = _jobs(spark)
            out = real_cc(*args, **kwargs)
            in_cc.append(_jobs(spark) - j0)
            return out

        monkeypatch.setattr(SD, "_deliver", counting)
        monkeypatch.setattr(D, "connected_components", counted_cc)
        SD.stream_takedown(
            spark, requests, labels_path, edges_path, str(tmp_path / "scratch")
        ).collect()
        # 13 when each epoch rebuilt its edges with a banded self-join,
        # cut its delta and rewrote the whole label store beside its
        # tombstones
        assert len(per_epoch) >= 2
        assert max(outside_cc) <= 6, outside_cc

    def test_stream_takedown_epoch_total_jobs(self, spark, tmp_path, monkeypatch):
        """A whole j17 epoch is at most 12 jobs when its connected
        components have no edges left to propagate over (17 when the
        epoch re-ran the banded self-join and rewrote the store): 30
        stars lose their centers, so every survivor is a singleton and
        the count is the epoch's fixed cost — member cut, edge slice,
        the CC's first pass, and the commit."""
        edges = [(b, b + k) for b in range(0, 300, 10) for k in (1, 2, 3)]
        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        edges_path = str(tmp_path / "edges.parquet")
        df.write.parquet(edges_path)
        labels_path = str(tmp_path / "labels.parquet")
        D.connected_components(df, "id_a", "id_b").write.parquet(labels_path)
        requests = spark.createDataFrame(
            [(b,) for b in range(0, 300, 10)], "id bigint"
        )
        per_epoch = []
        real_deliver = SD._deliver

        def counting(handle):
            def counted(batch_df, eid):
                j0 = _jobs(spark)
                handle(batch_df, eid)
                per_epoch.append(_jobs(spark) - j0)

            return real_deliver(counted)

        monkeypatch.setattr(SD, "_deliver", counting)
        rows = SD.stream_takedown(
            spark, requests, labels_path, edges_path, str(tmp_path / "scratch")
        ).collect()
        assert sorted(r["status"] for r in rows) == (
            ["relabeled"] * 90 + ["removed"] * 30
        )
        assert len(per_epoch) == 3
        assert max(per_epoch) <= 12, per_epoch


class TestEpochWritesGoThroughTheCommit:
    def test_write_only_in_commit_and_fan_out(self):
        """Every epoch write of a stream driver goes through
        ``_commit_epoch`` (epoch-keyed overwrite + manifest swap): a
        ``.write`` elsewhere in ``streaming/`` is a store rewrite the
        replay contract does not cover. The harness's fan-out of the
        source files is the one other writer, and j14's restart test
        stages its two source halves before any query starts."""
        allowed = {
            ("documents.py", "_commit_epoch"),
            ("documents.py", "_stream_epochs"),
            ("events.py", "stream_checkpoint_recovery_rollup"),
        }
        outside = []
        for name in ("documents.py", "events.py"):
            tree = ast.parse(open(os.path.join(_STREAMING, name)).read())
            for fn in tree.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                outside += [
                    f"{name}:{node.lineno} in {fn.name}"
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Attribute)
                    and node.attr == "write"
                    and (name, fn.name) not in allowed
                ]
        assert outside == [], "epoch write outside _commit_epoch"


class TestEmptyEpochStore:
    def test_empty_store_reads_with_no_partition(self, spark, tmp_path):
        """A store with no committed epoch (every handler's epoch-0 view
        of its own log) reads as a frame with no partition, so a plan
        that reads it schedules no task for it; an empty local list
        would parallelize into one Python-worker task per core."""
        root = str(tmp_path / "store")
        os.makedirs(SD._manifest_dir(root))
        for store in (root, str(tmp_path / "no_manifest")):
            df = SD._read_epochs(spark, store, "id bigint, comp bigint")
            assert df.schema.simpleString() == "struct<id:bigint,comp:bigint>"
            assert df.rdd.getNumPartitions() == 0
