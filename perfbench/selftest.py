#!/usr/bin/env python3
"""Self-test of the benchmark at the smallest input sizes.

Run from the repository root::

    python3 perfbench/selftest.py

For every workload, the hand-run ``lakehouse`` included, it checks that an
untraced run prints every end-to-end metric of ``BENCHMARK.json`` with its
unit and a correct verdict, and that a traced run with one planted wrong
expected result prints every per-layer metric (and ``lakehouse`` its extra
``io`` ones) and counts that op as failed. It also checks that the benchmark
refuses to run, without printing a result, in a directory holding only
``BENCHMARK.json`` and the benchmark's own files. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import LAKEHOUSE_LAYER, WORKLOADS  # noqa: E402

SMALL = {"headline": "0.001", "pipe_exec": "0.2", "lakehouse": "5000"}


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", *extra]
    res = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                         timeout=600)
    lines = res.stdout.strip().splitlines()
    try:
        return res.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return res.returncode, None


def check_result(res: dict, names: list[str], units: dict) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert set(res["metrics"]) == set(names), set(res["metrics"]) ^ set(names)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(LAKEHOUSE_LAYER)
    listed = [w["name"] for w in spec["workloads"]]
    assert set(listed) <= set(WORKLOADS), listed
    for w in WORKLOADS:
        code, res = run(w, "--trace", "0", "--scale", SMALL[w])
        assert code == 0 and res is not None, (w, code)
        check_result(res, e2e, units)
        assert res["correct"] and res["failed"] == 0, (w, res)
        assert all(res["metrics"][n]["value"] > 0 for n in e2e), (w, res)
        code, res = run(w, "--trace", "1", "--scale", SMALL[w], "--plant-wrong")
        assert code == 0 and res is not None, (w, code)
        extra = list(LAKEHOUSE_LAYER) if w == "lakehouse" else []
        check_result(res, layers + extra, units)
        assert not res["correct"] and res["failed"] >= 1, (w, res)
        print(f"selftest {w}: ok", flush=True)

    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run("headline", "--trace", "0", cwd=bare)
        assert code != 0 and res is None, (code, res)
    finally:
        shutil.rmtree(bare)
    print("selftest bare checkout: refused as expected")
    return 0


if __name__ == "__main__":
    sys.exit(main())
