"""The repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py digests

Run it from the root of a checkout. The first form pins the environment
(SPARK_GRAFT_CPUS = usable cores, driver memory sized to the machine, a
per-run TMPDIR and SPARK_LOCAL_DIRS under .perfbench_run/, removed at exit),
runs perfbench/worker.py in its own process group, relays its report and
prints the result JSON as the last stdout line. It exits non-zero, printing
no result, when the run fails or overruns. Workloads are defined in
perfbench/workloads.py; BENCHMARK.json lists the ones the regression gate
runs. An untraced run (--trace 0) reports the end-to-end metrics; a traced
run (--trace 1) reports the per-layer ones and writes its spans, each with
its self time, to .perfbench_out/. The benchmark's unit tests run with
`python -m pytest perfbench/tests -q`.

`digests` recomputes perfbench/expected_digests.json: the digest of every
registry entry the workloads run, computed from its DuckDB oracle SQL over
perfbench/data. Some oracles take minutes, so this is never part of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# a run must end within 180 s; leave room for cleanup
RUN_TIMEOUT_S = 170


def driver_memory_gb() -> int:
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return max(2, min(8, ram_gb // 4))


def commit() -> str:
    if not (ROOT / ".git").exists():  # an exported checkout
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def wait_group_gone(pgid: int, timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run(args) -> int:
    run_dir = ROOT / ".perfbench_run" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "local").mkdir()
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{driver_memory_gb()}g",
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        # the JVM's own temp files (native libraries it unpacks, artifact
        # directories) would otherwise land in /tmp and outlive the run
        JAVA_TOOL_OPTIONS=" ".join(
            filter(
                None,
                [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir / 'tmp'}"],
            )
        ),
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PERFBENCH_COMMIT=commit(),
    )
    spans_out = ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.json"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", str(run_dir), "--spans-out", str(spans_out),
    ]
    lines: list[str] = []
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )

    def relay() -> None:
        # hold back the newest line: it is printed only once the run is
        # known to have succeeded, so a failed run never prints a result
        for line in proc.stdout:
            if lines:
                print(lines[-1], end="", flush=True)
            lines.append(line)

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    # a terminated run still stops the worker's process group below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        # the worker's JVM and Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
        reader.join(timeout=10)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass
    if rc != 0 or not lines:
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return 1
    print(lines[-1], end="", flush=True)
    return 0


def regenerate_digests() -> int:
    sys.path.insert(0, str(ROOT))
    import duckdb

    from datafusion_cyberpolka_eda_spark.registry import oracle_sql
    from perfbench.metrics import digest
    from perfbench.workloads import WORKLOADS

    names = sorted(
        {n for w in WORKLOADS.values() if w.unit != "pipeline" for n in w.names}
    )
    sqls = oracle_sql()
    spill = ROOT / ".perfbench_run" / "duckdb"
    spill.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET memory_limit='4GB'")
    con.sql(f"SET temp_directory='{spill}'")
    for f in sorted((HERE / "data").glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    out = {}
    try:
        for name in names:
            t0 = time.perf_counter()
            cur = con.execute(sqls[name])
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
            print(f"{name} {out[name]} {time.perf_counter() - t0:.1f}s", flush=True)
    finally:
        shutil.rmtree(ROOT / ".perfbench_run", ignore_errors=True)
    (HERE / "expected_digests.json").write_text(json.dumps(out, indent=1) + "\n")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["digests"]:
        return regenerate_digests()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
