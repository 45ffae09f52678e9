"""Self-test of the benchmark itself (not of the program it measures).

    python3 perfbench/selftest.py

For every workload, at the tiny input size:
  * a clean run with --trace 0 prints every end-to-end metric of
    BENCHMARK.json with its unit, and counts no failure;
  * a run with --trace 1 --corrupt corrupts one output of each component
    (one dropped row or one changed value) before its check: the result
    counts exactly one failure per component, and prints every per-layer
    metric with its unit.
Then, in a directory holding only BENCHMARK.json and perfbench/, the
command must exit non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_report(proc, declared: list[dict], want_failed: int, label: str) -> list[str]:
    errors = []
    if proc.returncode != 0:
        return [f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(res)}")
    if res["failed"] != want_failed or res["correct"] != (want_failed == 0):
        errors.append(f"{label}: failed {res['failed']} of {res['attempted']}, want {want_failed}")
    if [m for m in res["metrics"]] != [m["name"] for m in declared]:
        errors.append(f"{label}: metric names differ from BENCHMARK.json")
    for m in declared:
        got = res["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got.get('unit')!r}, want {m['unit']!r}")
        printed = [ln.split() for ln in lines[:-1] if ln.split()[:1] == [m["name"]]]
        if not printed or printed[0][-1] != m["unit"]:
            errors.append(f"{label}: {m['name']} not printed with its unit")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from harness import load_spec

    errors: list[str] = []
    for name, wl in load_spec()["workloads"].items():
        common = ["--workload", name, "--seed", "1", "--seconds", "0", "--size", "tiny"]
        errors += check_report(bench(common + ["--trace", "0"]), spec["end_to_end"], 0, f"{name} clean")
        errors += check_report(bench(common + ["--trace", "1", "--corrupt"]), spec["per_layer"],
                               len(wl["components"]), f"{name} corrupted")
        print(f"{name}: checked", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = bench(["--workload", "reference_etl", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    if proc.returncode == 0 or proc.stdout.strip():
        errors.append(f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
