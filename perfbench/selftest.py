#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny corpus size.

    python3 perfbench/selftest.py        (from the repository root, ~3 min)

Checks that every workload of BENCHMARK.json runs untraced and traced,
answers correctly with no failed operation, and emits exactly the
metrics BENCHMARK.json names, each with its unit.  Also checks that the
benchmark exits non-zero without printing a result when the library is
absent (a directory holding only BENCHMARK.json and perfbench/).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def check_workload(spec: dict, workload: str, trace: int) -> None:
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, (workload, trace, p.stderr[-3000:])
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"], out
    assert out["correct"] is True and out["failed"] == 0, out
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1, out
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in wanted], out["metrics"]
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], float), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    if trace:
        assert out["metrics"]["trace.coverage"]["value"] >= 0.9, out


def check_without_library(spec: dict) -> None:
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(bare, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0, p.stdout
        assert not p.stdout.strip(), p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_without_library(spec)
    print("ok without library")
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_workload(spec, w["name"], trace)
            print(f"ok {w['name']} trace={trace}")


def test_selftest() -> None:
    main()


if __name__ == "__main__":
    main()
