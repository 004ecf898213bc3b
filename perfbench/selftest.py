#!/usr/bin/env python3
"""Self-test of the benchmark: a smoke-sized run of every workload, with
and without tracing, must pass its checks and emit every metric
BENCHMARK.json names, with its unit; a copy holding only the benchmark
(no engine) must exit non-zero without printing a result.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_result(p: subprocess.CompletedProcess, spec: list[dict]) -> None:
    assert p.returncode == 0, f"exit {p.returncode}:\n{p.stderr[-4000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == RESULT_KEYS, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    got = result["metrics"]
    assert list(got) == [m["name"] for m in spec], sorted(got)
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m["name"], v)
        assert isinstance(v["value"], (int, float)) \
            and math.isfinite(v["value"]), (m["name"], v)


def main() -> int:
    sys.path[0] = str(ROOT)
    from perfbench import metrics

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for key, ours in (("end_to_end", metrics.END_TO_END),
                      ("per_layer", metrics.PER_LAYER)):
        declared = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        assert declared == [tuple(m) for m in ours], \
            f"BENCHMARK.json {key} disagrees with perfbench/metrics.py"

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            p = run(ROOT, "--workload", wl, "--seed", "7", "--seconds", "4",
                    "--trace", trace, "--size", "smoke")
            check_result(p, spec)
            print(f"ok: {wl} --trace {trace}", flush=True)

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "--workload", "bulk", "--seed", "1", "--seconds", "1")
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: refuses to run without the engine", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
