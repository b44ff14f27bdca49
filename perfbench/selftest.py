"""Fast self-test of the benchmark at sf0.001 (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that every workload runs clean and prints every metric named in
BENCHMARK.json with its unit (end-to-end with --trace 0, per-layer with
--trace 1); that a deliberately wrong expected answer is counted as a
failure; and that without the fixture tables, or in a directory holding
only the benchmark files, the command fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(cwd: str, workload: str, trace: int = 0, *extra: str, sf: str = "0.001") -> subprocess.CompletedProcess:
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--sf", sf, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"result keys {sorted(out)}")
    return out


def expect_metrics(out: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise AssertionError(f"{what}: metrics differ: missing {set(want) - set(got)}, "
                             f"extra {set(got) - set(want)}, units {set(want.items()) ^ set(got.items())}")
    for k, v in out["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{what}: {k} is not a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    checks = []
    for workload in ("tool_calls", "doc_writes", "operator_batch"):
        out = result(run(ROOT, workload))
        expect_metrics(out, bench["end_to_end"], workload)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
        checks.append(f"{workload}: {out['attempted']} ops correct, every end-to-end metric")
    for workload in ("tool_calls", "operator_batch"):
        out = result(run(ROOT, workload, 1))
        expect_metrics(out, bench["per_layer"], f"{workload} traced")
        assert out["correct"], out
        checks.append(f"{workload} traced: every per-layer metric")
    for workload, wrong in (("tool_calls", "sql_star"), ("operator_batch", "pricing_summary")):
        out = result(run(ROOT, workload, 0, "--expect-wrong", wrong))
        assert out["failed"] > 0 and not out["correct"], out
        checks.append(f"{workload}: wrong expected {wrong} -> error_rate "
                      f"{out['failed']}/{out['attempted']}")
    p = run(ROOT, "tool_calls", sf="0.5")
    assert p.returncode == 2 and not p.stdout.strip(), (p.returncode, p.stdout)
    checks.append("no sf0.5 fixture tables: exit 2, no result")
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "tool_calls")
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
        checks.append(f"bare benchmark directory: exit {p.returncode}, no result")
    print("\n".join(checks))
    print("selftest ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
