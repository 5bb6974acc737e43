"""Frozen workload definitions: membership, pass order and pass count.

Membership is an explicit name list so that moving an entry between
registry modules never changes a workload, and pass order is derived from
the sorted names and the seed, never from registry.queries() order (that
order is re-sorted from committed correctness artifacts)."""

from __future__ import annotations

import random
from dataclasses import dataclass

# Every third name (from the third on) of the 84 read-only relational and
# statistical entries of registry/core.py, stats.py, extra.py and
# analytic.py, sorted: 8/7/5/8 from the four modules. A third of the 84 is
# what one cold pass can hold within the time a run may take; this third
# has no entry whose Spark job count varies between passes (the 84 hold two:
# g11_cohort_retention and p1_pagerank_trade_graph).
SQL_ANALYTICS = (
    "b1_b2_project_cast_filter", "b7_b8_horizontal_sum",
    "c13_order_revenue_topk", "c1_join_revenue_by_region",
    "c6_anti_join_unseen", "d12_group_median", "d15_cube",
    "d19_cms_heavy_hitters", "d20_hll_sketch_union",
    "d23_theta_sketch_set_ops", "d4_group_stats", "d8_distinct_counts",
    "e10_exact_quantiles", "e13_fisher_whale", "e17_upper_triangle_mean",
    "e20_winsorize", "e24_ab_test_proportions", "e28_gini_concentration",
    "e6_point_biserial", "g10_funnel_steps", "g3_grouped_topk",
    "g7_lag_lead", "h1_intersect", "i2_datetime_functions",
    "i5_map_functions", "j7_sliding_window", "l5b_quality_scores",
    "p2_triangle_count",
)

# Five of the twelve document-stream entries j15-j25/j23b; each streams ~3
# forced micro-batches into persisted stores (epoch commit, store append,
# manifest swap). The five reach the layers the workload is for: connected
# components (j17), similarity and literal expressions (j25), operators.ml
# (j21). Set-up runs the two heavy ones, j17 and j25, once: the first heavy
# entry of a cold JVM takes up to 1.7x its warm time, and which entry that
# is depends on the seed. Left out, for the time a run may take: j15, j16,
# j20 and j22-j24.
STREAM_INGEST = (
    "j17_stream_takedown", "j18_stream_chunking", "j19_stream_psi_drift",
    "j21_stream_model_filter", "j25_stream_domain_mixture",
)

# Input size of eda_pipeline's seeded fixture, and the one EdaConfig field
# that departs from the reference constants: the reference's 120-iteration
# adversarial GBT alone takes ~60 s on 4 cores at any fixture size (it is
# job-floor bound), longer than one run may take. Eight iterations keep
# the GBT thread running beside the main thread's stages instead of
# dominating the run.
EDA_ROWS = {"n_train": 60_000, "n_test": 20_000}
EDA_CONFIG = {"adv_max_iter": 8}


@dataclass(frozen=True)
class Workload:
    name: str
    names: tuple[str, ...]
    # latency sample: "query" (one registry call), "epoch" (one
    # micro-batch, from the streaming listener) or "pipeline" (one run)
    unit: str
    # seconds one warm pass took on the 4-core reference box; the pass
    # count is derived from it and --seconds, so it never depends on the
    # speed of the code under test
    nominal_pass_s: float
    # entries the set-up warm-up runs once, on a copy of the inputs that
    # the measured passes do not read: they load the code paths every
    # entry shares (parquet scan, joins, windows, foreachBatch, store
    # append), so the seed's first entry does not pay for them
    warm: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        # measured cold, as a one-off run sees it: a warm-up pipeline on a
        # small fixture took 20 s of each run and narrowed the spread of
        # pipeline_s over five seeds only from 0.10 to 0.086
        Workload("eda_pipeline", ("run_pipeline",), "pipeline", 27.0),
        Workload(
            "sql_analytics", SQL_ANALYTICS, "query", 16.0,
            warm=("c1_join_revenue_by_region", "g7_lag_lead", "d4_group_stats"),
        ),
        Workload(
            "stream_ingest", STREAM_INGEST, "epoch", 17.0,
            warm=("j17_stream_takedown", "j25_stream_domain_mixture"),
        ),
    )
}


def n_passes(workload: Workload, seconds: float) -> int:
    return max(1, round(seconds / workload.nominal_pass_s))


def pass_order(names: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """Sorted names permuted by the seed, a different permutation per pass."""
    order = sorted(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order
