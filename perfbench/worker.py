"""One benchmark run in a fresh process: set up, measure, check, report.

Started by run.py with the environment already pinned; writes one JSON
document (metrics, counts, first failures) to ``--out``. Set-up time runs
from this process's start (read from /proc) to the moment the workload's
warm-up is done and the first measured request can be sent.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import statistics
import sys
import time

import numpy as np

from procfs import cpu_since, host_ticks, process_age, session_cpu_s, vm_hwm_mb


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def load_canonicalizer(root: str):
    """The result canonicalizer of scripts/driver_check.py (pandas path,
    sorted columns and rows, hashed)."""
    spec = importlib.util.spec_from_file_location(
        "driver_check", os.path.join(root, "scripts", "driver_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def end_to_end(ops, setup_s: float, cpu_s: float) -> dict[str, float]:
    """The gated metrics (BENCHMARK.json end_to_end), same meaning on every
    workload: an operation is one tools/call or one query build+run."""
    return {"setup_s": setup_s, "cpu_ms_per_call": 1000 * cpu_s / len(ops)}


def report_only(ops, passes: list[float]) -> dict[str, float]:
    """Printed with the results but not gated: metrics that either apply
    to one workload only or failed to repeat across seeds (see
    perfbench/METRICS.md)."""
    ms = lambda kinds: [op.seconds * 1000 for op in ops if op.kind in kinds]  # noqa: E731
    writes = {"update_document", "add_documents", "delete_documents"}
    reads = {"get_documents", "query_collection"}
    lat = [op.seconds * 1000 for op in ops]
    out = {"call_p50_ms": pct(lat, 50), "call_p90_ms": pct(lat, 90), "call_p95_ms": pct(lat, 95),
           "calls_per_s": len(ops) / sum(passes), "batch_s": median(passes)}
    if any(op.kind == "bulk" for op in ops):
        out["bulk_p50_ms"] = pct(ms({"bulk"}), 50)
    if any(op.kind in writes for op in ops):
        out["write_p50_ms"] = pct(ms(writes), 50)
        out["read_p50_ms"] = pct(ms(reads), 50)
        out["doc_p90_ms"] = pct(ms(writes | reads), 90)
    return out


def per_layer(ctx, ops, n_units: int, spans_from: int, stage_rows: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced run: ``ops`` are its operations,
    ``n_units`` the number of units (rounds, episodes, passes) they form."""
    from workloads import ROUND, TIERS, DocWrites

    tracer = ctx.tracer
    measured = tracer.spans[spans_from:]
    dur = lambda name: [s[2] - s[1] for s in measured if s[0] == name]  # noqa: E731
    n = max(len(ops), 1)
    m: dict[str, float] = {}
    m["server.response_bytes"] = sum(len(op.response or "") for op in ops) / n
    for name in ("registry.call_tool", "executor.execute_sql", "executor.capped_mcp_content",
                 "catalog.list_tables", "catalog.search_entries", "looker.run_query",
                 "looker.run_look", "session.release_materialized"):
        key = "session.release" if name == "session.release_materialized" else name
        m[f"{key}_ms"] = median(dur(name)) * 1000
    for fn in ("update_document", "add_documents", "delete_documents",
               "get_documents", "query_collection"):
        m[f"document_store.{fn}_ms"] = median(dur(f"document_store.{fn}")) * 1000
    m["gate.check_us"] = median(dur("gate.check")) * 1e6
    m["gate.denied"] = tracer.denied
    m["executor.rows"] = tracer.rows / n
    m["executor.truncated"] = tracer.truncated
    # the set-up load (the first span), and the loads requests make
    m["session.setup_load_tables_ms"] = tracer.durations("session.load_tables")[0] * 1000
    m["session.call_load_tables_ms"] = median(dur("session.load_tables")) * 1000
    m["session.released_rdds"] = tracer.released
    storage = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    m["session.storage_mem_mb"] = sum(int(i.memSize()) for i in storage) / 1e6

    # self time per layer, per operation
    self_s = tracer.self_seconds(spans_from)
    for layer in ("server", "registry", "gate", "executor", "catalog", "looker",
                  "document_store", "session", "operators"):
        m[f"{layer}.self_ms"] = self_s.get(layer, 0.0) * 1000 / n

    # operator build / execution time per pass, overall and per tier
    passes = max(n_units, 1) if any(op.built for op in ops) else 1
    for tier in (None, *TIERS):
        sel = [op for op in ops if op.built and (tier is None or op.group == tier)]
        prefix = "operators" if tier is None else f"operators.{tier}"
        m[f"{prefix}.build_s"] = sum(op.built - op.start for op in sel) / passes
        m[f"{prefix}.exec_s"] = sum(op.end - op.built for op in sel) / passes

    # Spark stage counters per operation (job group), overall and per group
    rows = []
    for op in ops:
        r = stage_rows.get(op.job_group)
        if r is not None:
            rows.append((op, r))

    def spark_metrics(sel) -> dict[str, float]:
        k = max(len(sel), 1)
        tot = lambda f: sum(r[f] for _, r in sel)  # noqa: E731
        run_ms = tot("executorRunTime")
        cpu_ms = tot("executorCpuTime") / 1e6
        wall_s = sum(op.seconds for op, _ in sel)
        return {
            "jobs": tot("jobs") / k,
            "stages": tot("stages") / k,
            "tasks": tot("numTasks") / k,
            "executor_run_ms": run_ms / k,
            "executor_cpu_ms": cpu_ms / k,
            "python_worker_ms": max(run_ms - cpu_ms, 0.0) / k,
            "shuffle_read_bytes": tot("shuffleReadBytes") / k,
            "shuffle_write_bytes": tot("shuffleWriteBytes") / k,
            "spill_bytes": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / k,
            "idle_core_s": (wall_s * cores - run_ms / 1000) / k,
        }

    for key, value in spark_metrics(rows).items():
        m[f"spark.{key}"] = value
    groups = list(ROUND) + [w for w in dict.fromkeys(DocWrites.WRITES)] + list(TIERS)
    for g in groups:
        sm = spark_metrics([(op, r) for op, r in rows if op.group == g])
        m[f"spark.jobs.{g}"] = sm["jobs"]
        m[f"spark.run_ms.{g}"] = sm["executor_run_ms"]
    for tier in TIERS:
        sm = spark_metrics([(op, r) for op, r in rows if op.group == tier])
        m[f"spark.python_worker_ms.{tier}"] = sm["python_worker_ms"]
    return m


def shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(workload, ctx, seconds: float) -> list[list]:
    """Run units (round, episode or pass) until ``seconds`` have passed;
    unit k is seeded with (seed, k), so a traced and an untraced run of
    one seed send the same requests. Returns the ops of each unit."""
    units = []
    deadline = time.perf_counter() + seconds
    while True:
        units.append(workload.unit(random.Random(f"{ctx.seed}-{len(units)}")))
        if time.perf_counter() >= deadline:
            return units


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--expect-wrong", default="",
                    help="self-test: corrupt this op kind's expected answer so its check must fail")
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    import database_toolbox_spark

    pkg = os.path.realpath(database_toolbox_spark.__file__)
    if not pkg.startswith(os.path.realpath(args.root) + os.sep):
        print(f"engine imported from {pkg}, outside {args.root}", file=sys.stderr)
        return 2
    import duckdb

    from database_toolbox_spark import session
    from tracing import SparkCounters, Tracer
    from workloads import WORKLOADS, Context

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    phases = {"start": process_age()}
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    try:
        phases["session"] = process_age()
        session.load_tables(spark, args.sf_dir)
        phases["load_tables"] = process_age()
        ctx = Context(spark, args.sf_dir, args.seed, tracer=tracer)
        workload = WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.enabled = False  # the warm-up may run requests concurrently
        workload.setup()
        setup_s = phases["warmup"] = process_age()
        spans_from = len(tracer.spans) if tracer is not None else 0
        if tracer is not None:
            tracer.enabled = True
            ctx.counters = SparkCounters(spark, f"perfbench-{os.getpid()}")

        steal0, ticks0 = host_ticks()
        cpu0 = session_cpu_s(os.getsid(0))
        units = measure(workload, ctx, args.seconds)
        phases["measured"] = process_age()
        cpu_s = cpu_since(cpu0, session_cpu_s(os.getsid(0))) - workload.untimed_cpu_s
        steal1, ticks1 = host_ticks()
        steal_pct = 100 * (steal1 - steal0) / max(ticks1 - ticks0, 1)

        # --- outside the timed region: checks and counters
        ops = [op for unit in units for op in unit]
        duck = duckdb.connect()
        for t in session.TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{session.table_path(args.sf_dir, t)}')")
        if args.workload == "operator_batch":
            from database_toolbox_spark.operators import all_oracles

            oracles = all_oracles()
            if args.expect_wrong:
                oracles[args.expect_wrong] += " LIMIT 0"
            workload.check(ops, duck, oracles, load_canonicalizer(args.root))
        else:
            for op in ops:
                if op.kind == args.expect_wrong and op.check and op.check[0] == "sql":
                    op.check = ("sql", op.check[1] + " LIMIT 0", *op.check[2:])
            workload.check(ops, duck)
        failed = [op for op in ops if not op.ok]
        phases["checked"] = process_age()

        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        result = {
            "metrics": end_to_end(ops, setup_s, cpu_s),
            "report": {**report_only(ops, workload.passes), "peak_rss_mb": rss,
                       "host_steal_pct": steal_pct},
            "op_ms": [1000 * op.seconds for op in ops],
            "setup_phases": phases,
            "attempted": len(ops),
            "failed": len(failed),
            "failures": [f"{op.kind}: {op.note}" for op in failed[:5]],
            "ops_by_kind": {k: sum(op.kind == k for op in ops) for k in dict.fromkeys(op.kind for op in ops)},
        }
        if tracer is not None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
            result["per_layer"] = per_layer(ctx, ops, len(units), spans_from, ctx.counters.read(), cores)
            tracer.dump(args.out + ".spans.json")
        with open(args.out, "w") as f:
            json.dump(result, f)
    finally:
        if tracer is not None:
            tracer.uninstall()
        shutdown(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
