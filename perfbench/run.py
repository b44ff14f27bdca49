"""Benchmark of the engine's tool surface and operator library.

    python3 perfbench/run.py --workload tool_calls --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. Workloads: tool_calls, doc_writes,
operator_batch (see workloads.py). The tables are the engine's own fixture:
``session.DEFAULT_SF_DIR`` (sf0.1), or its sibling ``sf<--sf>`` directory.
Every run starts a fresh worker process (worker.py) with a pinned
environment, so set-up time is real and nothing carries over between runs.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
untraced worker and then the traced worker on the same seed, and reports
the per-layer metrics of the traced one plus the tracing overhead: traced
minus untraced latency of the same operation, median over operations.
Every metric is printed on its own line with its unit, then the last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is non-zero, and no result is printed, when the engine or
its fixture tables are missing, a run fails, or it exceeds its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

from procfs import session_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TIME_LIMIT_S = 165.0  # the whole command must end within 180 s
DRIVER_MEM = "4g"

REPORT_UNITS = {"calls_per_s": "1/s", "batch_s": "s", "host_steal_pct": "%", "peak_rss_mb": "MB"}


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the BENCHMARK.json metrics of ``kind``
    (end_to_end or per_layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def fixture(sf: float) -> str | None:
    """The engine's fixture directory for scale factor ``sf``: its default
    (sf0.1) or the sibling directory of another scale; None when a table
    is missing."""
    sys.path.insert(0, ROOT)
    from database_toolbox_spark.session import DEFAULT_SF_DIR, TABLES, table_path

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf}")
    return sf_dir if all(os.path.isfile(table_path(sf_dir, t)) for t in TABLES) else None


def pinned_env(sf_dir: str, trace: bool) -> dict[str, str]:
    """The worker's environment: every engine knob the workloads depend on
    set explicitly, and every scratch path inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "DTS_", "PYSPARK_"))}
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
    ]
    if trace:  # keep every job and stage of the run in the status store
        confs += ["spark.ui.retainedJobs=1000000", "spark.ui.retainedStages=1000000"]
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM (launcher and driver): temp files inside the checkout,
        # and no /tmp/hsperfdata_<user> performance-counter file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in confs) + " pyspark-shell",
    )
    return env


def run_worker(args, trace: int, sf_dir: str, deadline: float) -> dict:
    """Run worker.py in its own session; afterwards make sure every
    process of that session has ended: the JVM, and the PySpark daemon
    (which moves to its own process group) with its Python workers."""
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{trace}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--root", ROOT, "--sf-dir", sf_dir, "--out", out]
    if args.expect_wrong:
        cmd += ["--expect-wrong", args.expect_wrong]
    proc = subprocess.Popen(cmd, env=pinned_env(sf_dir, bool(trace)), cwd=BUILD,
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            for pid in session_pids(proc.pid) if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10
            while session_pids(proc.pid) and time.monotonic() < end:
                time.sleep(0.1)
            if not session_pids(proc.pid):
                break
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        return json.load(f)


def trace_overhead(plain_ms: list[float], traced_ms: list[float]) -> dict[str, float]:
    """Median over operations of traced minus untraced latency. Both runs
    of a seed send the same requests in the same order, so operation i of
    one is paired with operation i of the other."""
    pairs = list(zip(plain_ms, traced_ms))
    return {"trace.overhead_ms": statistics.median(t - u for u, t in pairs),
            "trace.overhead_pct": 100 * statistics.median(t / u - 1 for u, t in pairs)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tool_calls", "doc_writes", "operator_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="fixture scale factor")
    ap.add_argument("--expect-wrong", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()

    for need in ("database_toolbox_spark/__init__.py", "scripts/driver_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a source checkout",
                  file=sys.stderr)
            return 2
    sf_dir = fixture(args.sf)
    if sf_dir is None:
        print(f"perfbench: the engine's sf{args.sf} fixture tables are missing", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S
    try:
        res = run_worker(args, 0, sf_dir, deadline)
        if args.trace:  # the same seed again, traced
            plain, res = res, run_worker(args, 1, sf_dir, deadline)
            res["per_layer"].update(trace_overhead(plain["op_ms"], res["op_ms"]))
            for k in ("attempted", "failed", "failures"):
                res[k] = plain[k] + res[k]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    attempted, failed = res["attempted"], res["failed"]
    print("phases " + " ".join(f"{k} {v:.2f}" for k, v in res["setup_phases"].items()), file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace} "
          f"cpus {len(os.sched_getaffinity(0))} sf {args.sf} data {sf_dir} driver_mem {DRIVER_MEM} "
          f"ops {res['ops_by_kind']}")
    for name, value in res["report"].items():
        print(f"{name} {value} {REPORT_UNITS.get(name, 'ms')}")
    print(f"error_rate {failed / attempted} failed/attempted ({failed}/{attempted})")
    for note in res["failures"]:
        print(f"failure: {note}")
    values = res["per_layer"] if args.trace else res["metrics"]
    units = metric_units("per_layer" if args.trace else "end_to_end")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
