"""Takedown propagation (l38): deleting docs from the persisted dedup
stores must (a) re-derive affected clusters exactly as a from-scratch
build over the remaining corpus would — including the SPLIT case where
the removed doc was the only bridge — (b) leave untouched components out
of the delta, and (c) never rescan day-1 text (connectivity is sliced
purely from the persisted day-1 edge list)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


def _edges_fn_from(full_edges):
    """Edge rebuild over a toy edge list: the production slice."""
    return lambda remaining: D.edges_among(full_edges, remaining)


def _delta(df) -> dict[int, tuple]:
    return {
        r["id"]: (r["old_comp"], r["comp"]) for r in df.collect()
    }


class TestTakedownToy:
    def test_bridge_removal_splits_component(self, spark):
        """Chain 1-2-3: removing the bridge doc 2 must split {1,2,3} into
        singletons {1} and {3}, each labeled by its own id."""
        edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(2,)], "id bigint")
        got = _delta(D.takedown_components(labels, removed, _edges_fn_from(edges)))
        assert got == {1: (1, 1), 2: (1, None), 3: (1, 3)}

    def test_min_member_removal_relabels(self, spark):
        """Triangle {1,2,3}: removing the label-carrying min member 1 keeps
        {2,3} connected but retires label 1 -> relabel to 2."""
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)], "id_a bigint, id_b bigint"
        )
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(1,)], "id bigint")
        got = _delta(D.takedown_components(labels, removed, _edges_fn_from(edges)))
        assert got == {1: (1, None), 2: (1, 2), 3: (1, 2)}

    def test_untouched_component_excluded(self, spark):
        """A component containing no removed doc must not appear in the
        delta at all — nothing is recomputed for it."""
        edges = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a bigint, id_b bigint"
        )
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(1,)], "id bigint")
        got = _delta(D.takedown_components(labels, removed, _edges_fn_from(edges)))
        assert got == {1: (1, None), 2: (1, 2)}
        assert 10 not in got and 11 not in got

    def test_whole_component_removed(self, spark):
        """Removing every member yields tombstones only — no survivor rows
        and no empty-edge CC breakage."""
        edges = spark.createDataFrame([(4, 5)], "id_a bigint, id_b bigint")
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(4,), (5,)], "id bigint")
        got = _delta(D.takedown_components(labels, removed, _edges_fn_from(edges)))
        assert got == {4: (4, None), 5: (4, None)}

    def test_partial_split_keeps_surviving_subcluster(self, spark):
        """Path 1-2-3-4: removing 3 leaves {1,2} intact (unchanged label 1)
        and 4 as a singleton."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "id_a bigint, id_b bigint"
        )
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(3,)], "id bigint")
        got = _delta(D.takedown_components(labels, removed, _edges_fn_from(edges)))
        assert got == {1: (1, 1), 2: (1, 1), 3: (1, None), 4: (1, 4)}

    def test_gone_removed_only_inside_touched_components(self, spark):
        """Path 1-2-3-4-5 plus pair 10-11, with 2 and 10 gone from an
        earlier takedown: removing 4 re-derives component 1 without 2
        (both tombstoned, 1/3/5 split into singletons), while component
        10, which only a gone id touches, stays out of the delta.
        Duplicate ids in either set change nothing."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
            "id_a bigint, id_b bigint",
        )
        labels = D.connected_components(edges, "id_a", "id_b")
        removed = spark.createDataFrame([(4,), (4,)], "id bigint")
        gone = spark.createDataFrame([(2,), (2,), (10,)], "id bigint")
        got = _delta(
            D.takedown_components(
                labels, removed, _edges_fn_from(edges), gone=gone
            )
        )
        assert got == {
            1: (1, 1), 2: (1, None), 3: (1, 3), 4: (1, None), 5: (1, 5)
        }


class TestTakedownRealData:
    def test_matches_from_scratch_remaining_corpus(self, spark, sf_dir):
        """On the documents table: the store-driven takedown delta must
        equal from-scratch CC over the full day-1 banded pair set with the
        removed docs dropped, restricted to affected components."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        day1 = docs.filter(F.col("doc_id") < cutoff)
        sigs = D.minhash_signatures_portable(
            day1, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).localCheckpoint(eager=True)
        pairs = D.banded_pairs_from_signatures(sigs).localCheckpoint(eager=True)
        labels = D.connected_components(pairs, "id_a", "id_b")
        removed = labels.filter(F.col("id") % 7 == 3).select("id")
        removed_ids = {r["id"] for r in removed.collect()}
        assert removed_ids, "expected a nonempty takedown set at test scale"

        def edges_fn(remaining):
            sub = sigs.join(F.broadcast(remaining.select("id")), "id", "semi")
            return D.banded_pairs_from_signatures(sub).select("id_a", "id_b")

        got = _delta(D.takedown_components(labels, removed, edges_fn))

        # from-scratch truth: CC over pairs among ALL remaining day-1 docs
        lab = {r["id"]: r["comp"] for r in labels.collect()}
        affected = {lab[i] for i in removed_ids}
        keep_pairs = [
            (r["id_a"], r["id_b"])
            for r in pairs.select("id_a", "id_b").collect()
            if r["id_a"] not in removed_ids and r["id_b"] not in removed_ids
        ]
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in keep_pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want: dict[int, tuple] = {}
        for i, c in lab.items():
            if c not in affected:
                continue
            if i in removed_ids:
                want[i] = (c, None)
            else:
                want[i] = (c, find(i))
        assert got == want


class TestTakedownNoRescan:
    def test_l38_plan_reads_only_stores(self, spark, sf_dir, monkeypatch):
        """The l38 entry's plans must scan only the persisted label store
        — never the documents table. The affected members and the CC
        stage are checkpoint-materialized during construction, so the
        plan of every cut is checked along with the returned plan (the
        signature store scan is asserted separately below)."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        L._incremental_store(spark, sf_dir)
        L._incremental_cc_store(spark, sf_dir)
        plans = []
        frame_cls = type(spark.range(1))
        real_cut = frame_cls.localCheckpoint

        def recording_cut(self, eager=True):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return real_cut(self, eager)

        monkeypatch.setattr(frame_cls, "localCheckpoint", recording_cut)
        df = L.l38_takedown_propagation(spark, sf_dir)
        plan = "\n".join(
            plans + [df._jdf.queryExecution().executedPlan().toString()]
        )
        assert "cc_store_" in plan, "expected the label-store scan in the plan"
        assert "documents.parquet" not in plan, (
            "takedown plan scanned documents text"
        )

    def test_edge_slice_reads_only_edge_store(self, spark, sf_dir, tmp_path):
        """The takedown edge rebuild (dedup.edges_among over the persisted
        day-1 edge list) must scan only the edge store: never the
        documents table, and no banded self-join over signatures — the
        same no-rescan contract the insert path (l31/l33) carries."""
        docs = load_table(spark, sf_dir, "documents")
        sigs = D.minhash_signatures_portable(
            docs.filter(F.col("doc_id") < 100), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        )
        edges_path = str(tmp_path / "edges.parquet")
        D.banded_pairs_from_signatures(sigs).select("id_a", "id_b").write.parquet(
            edges_path
        )
        remaining = spark.createDataFrame([(1,), (2,)], "id bigint")
        edges = D.edges_among(spark.read.parquet(edges_path), remaining)
        buf = io.StringIO()
        with redirect_stdout(buf):
            edges.explain(mode="formatted")
        plan = buf.getvalue()
        scans = [b for b in plan.split("\n\n") if "Location:" in b]
        assert scans and all("edges.parquet" in b for b in scans), (
            "takedown edge slice scanned more than the edge store:\n"
            + "\n".join(scans)
        )
        assert "documents.parquet" not in plan


class TestTakedownPipeline:
    """l40: the composed delete-side daily pipeline (components ->
    survivor re-pick -> ledger decrement) over the persisted stores."""

    def test_ledger_scan_is_column_pruned(self, spark, sf_dir):
        """The ledger stage's documents access must be column-pruned to
        (doc_id, source): the text column must not appear in the
        documents scan's ReadSchema — token counts come from the stats
        ledger, so a text scan would break the no-rescan contract."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        docs = load_table(spark, sf_dir, "documents")
        removed = spark.createDataFrame([(3,), (10,)], "id bigint")
        stats = spark.createDataFrame(
            [(3, 50), (10, 82)], "doc_id bigint, n_tokens bigint"
        )
        df = L._takedown_ledger_rows(docs, removed, stats)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        doc_scans = [
            b
            for b in plan.split("\n\n")
            if "documents.parquet" in b and "ReadSchema" in b
        ]
        assert doc_scans, "expected a documents scan block in the plan"
        for b in doc_scans:
            schema_line = next(
                ln for ln in b.splitlines() if "ReadSchema" in ln
            )
            assert "doc_id" in schema_line and "source" in schema_line
            assert "text" not in schema_line, (
                "ledger stage scanned documents.text:\n" + schema_line
            )

    def test_pipeline_invariants_and_ledger_truth(self, spark, sf_dir):
        """End-to-end at test scale: stage arithmetic must be internally
        consistent, and the ledger decrement must equal an independent
        recomputation from the stats store for the same removed set."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        got = {
            (r["stage"], r["metric"]): r["value"]
            for r in L.l40_takedown_pipeline(spark, sf_dir).collect()
        }
        assert len(got) == 11
        assert got[("request", "n_removed")] > 0
        assert got[("components", "survivor_rows")] == (
            got[("components", "relabeled")]
            + got[("components", "unchanged")]
        )
        assert (
            got[("survivors", "picks")]
            == got[("components", "clusters_after")]
        )
        assert (
            got[("survivors", "picks_changed")]
            <= got[("survivors", "picks")]
        )

        # independent ledger truth from the persisted stats store
        removed = (
            spark.read.parquet(L._incremental_cc_store(spark, sf_dir))
            .filter(F.col("id") % 7 == 3)
            .select(F.col("id").alias("doc_id"))
        )
        stats_path, _ = L._incremental_surv_store(spark, sf_dir)
        stats = spark.read.parquet(stats_path)
        want_tokens = (
            removed.join(stats, "doc_id").agg(F.sum("n_tokens")).collect()
        )[0][0]
        assert got[("ledger", "tokens_removed")] == want_tokens


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
