"""One benchmark run inside the pinned environment that run.py prepares.

Closed loop, one client: this thread issues the next operation only after
the previous one returned. Prints a human-readable report and, as its last
stdout line, the result JSON."""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

from perfbench import metrics
from perfbench.trace import (
    LAYERS,
    EpochListener,
    SparkStatus,
    Tracer,
    instrument,
    jvm_counters,
    jvm_rss_mb,
    layer_totals,
)
from perfbench.workloads import (
    EDA_CONFIG,
    EDA_ROWS,
    WORKLOADS,
    n_passes,
    pass_order,
)

HERE = Path(__file__).resolve().parent
DATA_DIR = HERE / "data"
DIGESTS = HERE / "expected_digests.json"
# inputs are prepared this many times in set-up; setup_s takes the median
SETUP_REPS = 3

PIPELINE_STAGES = (
    "inventory_targets", "opened_histogram", "target_dependencies",
    "clustering", "missingness", "filled_count", "indicator_auc",
    "cardinality_unseen", "adversarial_launch", "linear_screen", "whale",
    "summary_report",
)
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    return "count"


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.run_dir = Path(args.run_dir)
        self.tracer = Tracer() if args.trace else None
        self.tally = metrics.Tally()
        self.samples: list[float] = []
        self.busy_s = 0.0  # summed wall time of the measured operations
        self.layer: dict[str, float] = {}
        self.spark_acc = {k: 0 for k in SPARK_FIELDS}
        self.spark_acc.update(
            job_busy_s=0.0, driver_only_s=0.0, max_task_s=0.0, tasks_per_stage=[]
        )
        self.stages = {s: 0.0 for s in PIPELINE_STAGES}
        self.stages.update(adversarial_gbt_wall=0.0, adversarial_join_wait=0.0)
        self.pipeline_runs = 0
        self.epochs: list[dict] = []

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    # ---- set-up --------------------------------------------------------
    def setup(self) -> None:
        if self.tracer:
            instrument(self.tracer)
        from datafusion_cyberpolka_eda_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload.name}",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["setup.session_s"] = time.perf_counter() - t0

        prep = []
        copies = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            copies.append(self.prepare(self.run_dir / f"inputs{k}"))
            prep.append(time.perf_counter() - t0)
        self.layer["setup.fixture_s"] = statistics.median(prep)
        self.inputs = copies[-1]

        t0 = time.perf_counter()
        self.warm_up(copies[0])
        self.layer["setup.warm_s"] = time.perf_counter() - t0
        self.setup_s = (
            self.layer["setup.session_s"]
            + self.layer["setup.fixture_s"]
            + self.layer["setup.warm_s"]
        )

        self.listener = None
        if self.workload.unit == "epoch":
            self.listener = EpochListener()
            self.spark.streams.addListener(self.listener)
        self.status = SparkStatus(self.spark) if self.tracer else None
        self.gc0 = jvm_counters(self.spark) if self.tracer else None

    def prepare(self, where: Path) -> str:
        """Write a run's inputs to a fresh directory: the seeded EDA
        fixture, or a copy of the committed tables (entries write beside
        their inputs, and the checkout's copy stays untouched)."""
        if self.workload.unit == "pipeline":
            from datafusion_cyberpolka_eda_spark.pipeline.fixtures import (
                generate_eda_fixture,
            )

            generate_eda_fixture(str(where), seed=self.args.seed, **EDA_ROWS)
        else:
            shutil.copytree(DATA_DIR, where)
        return str(where)

    def warm_up(self, spare_inputs: str) -> None:
        """Run the workload's warm-up entries on spare inputs, so that
        whichever entry the seed puts first does not pay for the cold code
        paths (JIT, code generation) the entries share."""
        if not self.workload.warm:
            return
        from datafusion_cyberpolka_eda_spark.registry import queries

        fns = queries()
        for name in self.workload.warm:
            fns[name](self.spark, spare_inputs).collect()
            self.spark.catalog.clearCache()

    # ---- measurement ---------------------------------------------------
    def measure(self) -> None:
        wl = self.workload
        if wl.unit == "pipeline":
            fns = None
            self.expected = self.pipeline_oracle()
        else:
            from datafusion_cyberpolka_eda_spark.registry import queries

            fns = queries()
            self.expected = json.loads(DIGESTS.read_text())
        if self.tracer:
            self.tracer.reset()
        with self.span("run", workload=wl.name, seed=self.args.seed):
            for p in range(n_passes(wl, self.args.seconds)):
                with self.span("pass", index=p):
                    for name in pass_order(wl.names, self.args.seed, p):
                        self.operation(name, fns, p)
                gc.collect()
                self.spark.sparkContext._jvm.System.gc()

    def operation(self, name: str, fns, pass_index: int) -> None:
        j0 = self.status.next_job_id() if self.status else 0
        n_epochs = len(self.listener.epochs) if self.listener else 0
        t0 = time.perf_counter()
        with self.span("op", entry=name) as op_span:
            if self.tracer:
                self.tracer.op_span = op_span["id"]
            if fns is None:
                ok, sec = metrics.run_checked(
                    lambda: self.pipeline_work(pass_index), self.pipeline_check
                )
            else:
                ok, sec = metrics.run_checked(
                    lambda: self.registry_work(fns[name]),
                    lambda result: self.registry_check(name, *result),
                )
            if self.tracer:
                self.tracer.op_span = None
        t1 = time.perf_counter()
        self.tally.record(ok)
        self.busy_s += sec
        log(f"op {name} {sec:.3f}s ok={ok}")
        if self.listener:
            self.listener.drain()
            new = self.listener.epochs[n_epochs:]
            log(f"  epochs {[e['trigger_s'] for e in new]}")
            self.epochs.extend(new)
            self.samples.extend(e["trigger_s"] for e in new)
        else:
            self.samples.append(sec)
        if self.status:
            s = self.status.read(j0, self.status.next_job_id(), t0, t1)
            for k in SPARK_FIELDS:
                self.spark_acc[k] += s[k]
            busy = metrics.union_seconds(s["intervals"])
            self.spark_acc["job_busy_s"] += busy
            self.spark_acc["driver_only_s"] += max(0.0, (t1 - t0) - busy)
            self.spark_acc["max_task_s"] = max(
                self.spark_acc["max_task_s"], s["max_task_s"]
            )
            self.spark_acc["tasks_per_stage"].extend(s["tasks_per_stage"])
        self.spark.catalog.clearCache()

    def registry_work(self, fn):
        """The query function and .collect(), each in its own span."""
        with self.span("registry.build"):
            df = fn(self.spark, self.inputs)
        with self.span("registry.collect"):
            rows = df.collect()
        return df.columns, rows

    def registry_check(self, name: str, columns, rows) -> bool:
        got = metrics.digest(columns, rows)
        if got != self.expected.get(name):
            log(f"operation {name}: digest {got} != expected {self.expected.get(name)}")
            return False
        return True

    def pipeline_work(self, pass_index: int) -> dict:
        from datafusion_cyberpolka_eda_spark.pipeline.eda import EdaConfig, run_pipeline

        out_dir = self.run_dir / f"pipeline_out{pass_index}"
        with self.span("pipeline.eda.run"):
            return run_pipeline(
                self.spark, self.inputs, str(out_dir), EdaConfig(**EDA_CONFIG)
            )

    def pipeline_oracle(self) -> dict:
        """The sample-free summary.json scalars, recomputed with DuckDB over
        this run's fixture (registry/pipeline.py's oracle pointed at it)."""
        import duckdb

        from datafusion_cyberpolka_eda_spark.registry import oracle_sql
        from datafusion_cyberpolka_eda_spark.registry.pipeline import FIXTURE_DIR

        sql = oracle_sql()["pipeline_summary"].replace(str(FIXTURE_DIR), self.inputs)
        con = duckdb.connect()
        try:
            expected = dict(con.sql(sql).fetchall())
        finally:
            con.close()
        # the screen stage samples 12% of rows under the reference config
        expected.pop("screen_sample_rows")
        return expected

    def pipeline_check(self, summary: dict) -> bool:
        self.pipeline_runs += 1
        for stage, sec in summary["stage_seconds"].items():
            self.stages[stage] = self.stages.get(stage, 0.0) + sec
        bad = [
            k
            for k, v in self.expected.items()
            if not math.isclose(float(summary[k]), v, rel_tol=0, abs_tol=1e-6)
        ]
        if bad:
            log(f"pipeline summary differs from the DuckDB oracle on {bad}")
        return not bad

    # ---- results -------------------------------------------------------
    def report(self) -> list[str]:
        """Human-readable lines under the workload's own metric names."""
        unit = self.workload.unit
        n = len(self.samples)
        p = metrics.tail_percentile(n)
        lines = [
            f"  {unit}_s_p50 {statistics.median(self.samples):.4f} s | "
            f"{unit}_s_p{p} {metrics.percentile(self.samples, p):.4f} s | "
            f"{unit}_s_mean {statistics.mean(self.samples):.4f} s | "
            f"n={n} | {unit}s_per_s {n / self.busy_s:.4f} 1/s"
        ]
        if unit == "epoch":
            lines.append(f"  stream_rows_per_s {self.stream_rows_per_s():.1f} 1/s")
        lines.append(
            f"  setup_s {self.setup_s:.3f} s | peak_rss_mb {self.peak_rss_mb():.1f} MB"
            f" | fail_ratio {self.tally.fail_ratio():.4f}"
            f" ({self.tally.failed}/{self.tally.attempted})"
        )
        return lines

    def stream_rows_per_s(self) -> float:
        trigger = sum(e["trigger_s"] for e in self.epochs)
        return sum(e["rows"] for e in self.epochs) / trigger if trigger else 0.0

    def peak_rss_mb(self) -> float:
        return jvm_rss_mb(self.spark) + self.python_rss_mb()

    @staticmethod
    def python_rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def end_to_end(self) -> dict[str, float]:
        # The mean, not the median: a run's samples are a fixed mix of
        # unlike operations (stream_ingest's epochs cluster by entry, from
        # ~0.25 s to ~1.8 s), so the median sits on a cluster edge; over
        # five seeds its quartile spread was 0.19 of the median, the mean's
        # 0.10.
        return {
            "setup_s": self.setup_s,
            "op_s_mean": statistics.mean(self.samples),
            "ops_per_s": len(self.samples) / self.busy_s,
        }

    def per_layer(self) -> dict[str, float]:
        spans = self.tracer.spans
        acc = self.spark_acc
        out: dict[str, float] = {f"spark.{k}": acc[k] for k in SPARK_FIELDS}
        tps = acc["tasks_per_stage"]
        out["spark.tasks_per_stage_p50"] = statistics.median(tps) if tps else 0
        for k in ("job_busy_s", "driver_only_s", "max_task_s"):
            out[f"spark.{k}"] = acc[k]
        for layer in ("registry.build", "registry.collect", *LAYERS):
            out[f"{layer}_s"], out[f"{layer}_calls"] = layer_totals(spans, layer)
        for kind, count in self.tracer.cuts.items():
            out[f"cuts.{kind}"] = count
        add_batch = sum(e["add_batch_s"] for e in self.epochs)
        trigger = sum(e["trigger_s"] for e in self.epochs)
        out["streaming.epochs"] = len(self.epochs)
        out["streaming.add_batch_s"] = add_batch
        out["streaming.non_batch_s"] = trigger - add_batch
        out["streaming.rows_per_s"] = self.stream_rows_per_s()
        st = self.stages
        out["pipeline.eda.runs"] = self.pipeline_runs
        out["pipeline.eda.adversarial_gbt_s"] = st["adversarial_gbt_wall"]
        out["pipeline.eda.join_wait_s"] = st["adversarial_join_wait"]
        out["pipeline.eda.main_thread_s"] = sum(st[s] for s in PIPELINE_STAGES)
        for s in PIPELINE_STAGES:
            out[f"pipeline.eda.{s}_s"] = st[s]
        jvm = jvm_counters(self.spark)
        out["jvm.gc_s"] = jvm["gc_s"] - self.gc0["gc_s"]
        out["jvm.gc_count"] = jvm["gc_count"] - self.gc0["gc_count"]
        out["jvm.codecache_used_mb"] = jvm["codecache_used_mb"]
        out["jvm.peak_rss_mb"] = jvm_rss_mb(self.spark)
        out["python.peak_rss_mb"] = self.python_rss_mb()
        for k in ("setup.session_s", "setup.fixture_s", "setup.warm_s"):
            out[k] = self.layer[k]
        # compare with op_s_mean of an untraced run: the tracing overhead
        out["trace.op_s_mean"] = statistics.mean(self.samples)
        out["trace.spans"] = len(spans)
        return out

    def write_spans(self) -> None:
        self_time = metrics.self_times([s for s in self.tracer.spans if s["end"]])
        for s in self.tracer.spans:
            s["self_s"] = self_time.get(s["id"])
        path = Path(self.args.spans_out)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.tracer.spans))
        log(f"wrote {len(self.tracer.spans)} spans to {path}")

    def environment(self) -> str:
        src = hashlib.sha256()
        for f in sorted((HERE.parent / "datafusion_cyberpolka_eda_spark").rglob("*.py")):
            src.update(f.read_bytes())
        jvm = self.spark.sparkContext._jvm.java.lang.System
        return (
            f"perfbench {self.workload.name} seed={self.args.seed} trace="
            f"{self.args.trace} cores={os.environ.get('SPARK_GRAFT_CPUS')} "
            f"driver_memory={os.environ.get('SPARK_DRIVER_MEMORY')} "
            f"spark={self.spark.version} java={jvm.getProperty('java.version')} "
            f"python={platform.python_version()} "
            f"commit={os.environ.get('PERFBENCH_COMMIT', 'unknown')} "
            f"package_sha256={src.hexdigest()[:16]}"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    run.setup()
    run.measure()
    values = run.per_layer() if args.trace else run.end_to_end()
    if args.trace:
        run.write_spans()
    print(run.environment())
    for line in run.report():
        print(line)
    for k, v in values.items():
        print(f"  {k} {v} {unit_of(k)}")
    run.spark.stop()
    result = {
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
