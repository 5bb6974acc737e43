"""Incremental connected-component maintenance (l33): merging a day's new
similarity edges into a persisted label store must (a) reproduce exactly
the from-scratch full-graph CC restricted to affected components —
labels, membership, and statuses — (b) never rescan day-1 text (day-1
connectivity enters ONLY via the signature/label stores), and (c) handle
the hard merge case (one new edge fusing two old components)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table


def _labels(df) -> dict[int, int]:
    return {r["id"]: r["comp"] for r in df.collect()}


class TestIncrementalComponentsToy:
    def test_new_edge_merges_two_old_components(self, spark):
        """Old graph: {1,2} and {10,11} as separate components. A new doc
        50 bridges 2 and 10 -> one merged component labeled 1, every old
        member relabeled or pulled in, membership identical to
        from-scratch CC over old+new edges."""
        old_edges = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a bigint, id_b bigint"
        )
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        assert _labels(old_labels) == {1: 1, 2: 1, 10: 10, 11: 10}

        new_edges = spark.createDataFrame(
            [(2, 50), (10, 50)], "id_a bigint, id_b bigint"
        )
        got = _labels(D.incremental_components(old_labels, new_edges))
        want = _labels(
            D.connected_components(old_edges.union(new_edges), "id_a", "id_b")
        )
        assert got == want == {1: 1, 2: 1, 10: 1, 11: 1, 50: 1}

    def test_untouched_component_excluded_from_delta(self, spark):
        """A component no new edge touches must NOT appear in the update
        delta (the store keeps its rows; nothing is recomputed for it)."""
        old_edges = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a bigint, id_b bigint"
        )
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        new_edges = spark.createDataFrame([(2, 50)], "id_a bigint, id_b bigint")
        got = _labels(D.incremental_components(old_labels, new_edges))
        assert got == {1: 1, 2: 1, 50: 1}
        assert 10 not in got and 11 not in got

    def test_new_new_only_component(self, spark):
        """A component formed purely by new docs (no old endpoint) comes
        out of the subgraph CC even though no store row matches."""
        old_edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        new_edges = spark.createDataFrame(
            [(60, 61), (61, 62)], "id_a bigint, id_b bigint"
        )
        got = _labels(D.incremental_components(old_labels, new_edges))
        assert got == {60: 60, 61: 60, 62: 60}

    def test_old_doc_without_store_row_first_cluster(self, spark):
        """An old doc that never had a pair (absent from the store) joining
        a cluster via a new edge is handled purely through the edge list."""
        old_edges = spark.createDataFrame([(5, 6)], "id_a bigint, id_b bigint")
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        # 3 is an old id with no store row; 50 is new
        new_edges = spark.createDataFrame([(3, 50)], "id_a bigint, id_b bigint")
        got = _labels(D.incremental_components(old_labels, new_edges))
        assert got == {3: 3, 50: 3}

    def test_chain_through_merged_minimum(self, spark):
        """Merged label must be the min over the UNION of members, even
        when the global min sits two old components away from the new
        edge: new edge (12, 50), old comps {1,2,12} and {40,41}; a second
        new edge (41, 50) chains everything onto label 1."""
        old_edges = spark.createDataFrame(
            [(1, 2), (2, 12), (40, 41)], "id_a bigint, id_b bigint"
        )
        old_labels = D.connected_components(old_edges, "id_a", "id_b")
        new_edges = spark.createDataFrame(
            [(12, 50), (41, 50)], "id_a bigint, id_b bigint"
        )
        got = _labels(D.incremental_components(old_labels, new_edges))
        assert got == {1: 1, 2: 1, 12: 1, 40: 1, 41: 1, 50: 1}


class TestIncrementalComponentsRealData:
    def test_matches_full_graph_restriction(self, spark, sf_dir, tmp_path):
        """On the documents table: incremental CC (day-1 label store + new
        pairs) == from-scratch CC over the full banded pair set,
        restricted to components containing >= 1 new-pair endpoint."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))

        sigs_all = D.minhash_signatures_portable(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8
        ).localCheckpoint(eager=True)
        full_pairs = D.banded_pairs_from_signatures(sigs_all).localCheckpoint(
            eager=True
        )
        full_cc = _labels(D.connected_components(full_pairs, "id_a", "id_b"))

        old_pairs = full_pairs.filter(
            (F.col("id_a") < cutoff) & (F.col("id_b") < cutoff)
        )
        old_labels = D.connected_components(old_pairs, "id_a", "id_b")
        new_pairs = full_pairs.filter(
            (F.col("id_a") >= cutoff) | (F.col("id_b") >= cutoff)
        )
        got = _labels(D.incremental_components(old_labels, new_pairs))

        new_ids = {
            r[0]
            for r in new_pairs.select("id_a").union(new_pairs.select("id_b")).collect()
        }
        touched = {full_cc[i] for i in new_ids}
        want = {i: c for i, c in full_cc.items() if c in touched}
        assert got == want
        assert got, "expected at least one affected component at test scale"


class TestNoDay1Rescan:
    def _blocks(self, df) -> list[str]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        return [b for b in plan.split("\n\n") if "Scan parquet" in b or "Location" in b]

    def test_day1_label_rebuild_reads_only_signature_store(
        self, spark, sf_dir, tmp_path
    ):
        """The day-1 pair/label rebuild starts from the persisted signature
        store — its plan must scan the store parquet and must NOT scan the
        documents table at all (no re-shingling of day-1 text)."""
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cutoff = int(0.8 * (max_id + 1))
        store_path = str(tmp_path / "store.parquet")
        D.minhash_signatures_portable(
            docs.filter(F.col("doc_id") < cutoff), "doc_id", "text",
            n=3, num_hashes=32, bands=8,
        ).write.parquet(store_path)
        pairs = D.banded_pairs_from_signatures(spark.read.parquet(store_path))
        blocks = self._blocks(pairs)
        assert any("store.parquet" in b for b in blocks)
        assert not any("documents.parquet" in b for b in blocks), (
            "day-1 label rebuild scanned documents text:\n" + "\n".join(blocks)
        )

    def test_registry_entry_reuses_label_store_across_calls(self, spark, sf_dir):
        """The l33 label store is memoized per (session, data): a second
        call must reuse the SAME parquet files (no rebuild)."""
        from datafusion_cyberpolka_eda_spark.registry import llm_incremental as L

        L.l33_incremental_components(spark, sf_dir).collect()
        paths = [v for k, v in L._INCR_CC_CACHE.items() if sf_dir in k]
        assert paths, "label-store cache empty after l33 run"
        path = paths[-1]

        def mtimes():
            return sorted(
                (f, os.stat(os.path.join(r, f)).st_mtime_ns)
                for r, _d, files in os.walk(path)
                for f in files
            )

        before = mtimes()
        L.l33_incremental_components(spark, sf_dir).collect()
        assert mtimes() == before


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


class TestIncrementalComponentsProperty:
    """Random-graph equivalence: incremental CC over (old-CC labels + new
    edges) must equal from-scratch CC over (old + new edges) restricted
    to components containing a new-edge endpoint — for ARBITRARY graphs,
    not just the curated cases above. Pure-Python union-find is the
    reference. Few examples, a handful of Spark jobs per example."""

    @staticmethod
    def _uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def test_random_graphs(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        nodes = st.integers(min_value=0, max_value=14)
        edge = st.tuples(nodes, nodes).filter(lambda e: e[0] != e[1])
        edge_lists = st.lists(edge, min_size=0, max_size=12)

        @given(old=edge_lists, new=edge_lists)
        @settings(
            max_examples=5,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        def check(old, new):
            def norm(edges):
                return sorted({(min(a, b), max(a, b)) for a, b in edges})

            old_e, new_e = norm(old), norm(new)
            if not new_e:
                return  # no delta -> empty update, nothing to compare
            want_full = self._uf_components(old_e + new_e)
            new_ends = {x for e in new_e for x in e}
            touched = {want_full[x] for x in new_ends}
            want = {n: c for n, c in want_full.items() if c in touched}

            old_labels_rows = sorted(self._uf_components(old_e).items())
            old_labels = spark.createDataFrame(
                old_labels_rows or [(None, None)], "id bigint, comp bigint"
            )
            if not old_labels_rows:
                old_labels = old_labels.filter(F.col("id").isNotNull())
            new_edges = spark.createDataFrame(new_e, "id_a bigint, id_b bigint")
            got = {
                r["id"]: r["comp"]
                for r in D.incremental_components(old_labels, new_edges).collect()
            }
            assert got == want

        check()
