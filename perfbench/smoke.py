"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced at a small scale and
asserts that the result line carries every metric ``BENCHMARK.json`` names,
with its unit, that no operation failed, and that the benchmark refuses to
run (non-zero exit, no result) in a directory holding only the benchmark.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout


def check_spec(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END, "end_to_end differs from metrics.py"
    assert layer == {k: v[0] for k, v in PER_LAYER.items()}, "per_layer differs from metrics.py"
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(WORKLOADS), names


def check_run(spec: dict, workload: str, trace: int) -> None:
    code, out = _run(workload, trace)
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: {sorted(set(got) ^ set(want))}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, f"{workload}: {name} is {m['value']}"
    print(f"ok  {workload} trace={trace}")


def check_refuses_without_program() -> None:
    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        code, out = _run("ingest", 0, cwd=bare)
        assert code != 0 and not out.strip(), (code, out)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without the program")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_refuses_without_program()
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_run(spec, workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
