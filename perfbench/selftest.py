#!/usr/bin/env python3
"""Self-test of the benchmark's metric path on FIXTURES ``points_tiny``.

    python3 perfbench/selftest.py

Runs the tiny input through ``run.py``'s full path twice per trace mode,
each in its own process, and asserts that every metric named in
BENCHMARK.json is emitted with its unit, that the run is correct with
oracle recall 1.0, and that the exact counts repeat on the second
same-seed run. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Counts that are a pure function of the input and the seed. Shuffle bytes
# are not among them here: on this 12-point input one single-task stage
# writes its rows in a varying order, so the compressed size moves by a few
# hundred bytes while the graph stays identical (on the benchmark workloads
# the bytes repeat exactly; see README.md).
EXACT = {
    0: ["recall_at_10", "success_ratio"],
    1: ["schemas.validate_jobs", "descent.iterations", "descent.updates.iter1", "descent.updates.iter2",
        "descent.jobs", "descent.stages", "descent.tasks", "descent.failed_tasks",
        "index.extend.jobs", "index.extend.tasks", "index.extend.files_written", "index.search.jobs",
        "index.search.tasks", "index.search.recall_at_10"],
}


def child(trace: int) -> int:
    """Register the tiny workload and run it through run.main."""
    sys.path.insert(0, str(HERE))
    import inputs
    import run

    run.WORKLOADS["tiny"] = run.Workload(inputs.tiny, n=12)
    return run.main(["--workload", "tiny", "--seed", "0", "--seconds", "0", "--trace", str(trace)])


def one_run(trace: int) -> dict:
    proc = subprocess.run([sys.executable, __file__, "--child", str(trace)], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"tiny run (trace={trace}) exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"result keys {sorted(result)}")
    return result


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for trace in (0, 1):
        first, second = one_run(trace), one_run(trace)
        for res in (first, second):
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"trace={trace}: run not correct: {res}")
            got = {name: m["unit"] for name, m in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared[trace]}
            if got != want:
                raise SystemExit(f"trace={trace}: metrics/units differ from BENCHMARK.json: "
                                 f"{sorted(set(got.items()) ^ set(want.items()))}")
            for name, m in res["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    raise SystemExit(f"trace={trace}: {name} is not a number: {m}")
        recall = "recall_at_10" if trace == 0 else "index.search.recall_at_10"
        if first["metrics"][recall]["value"] != 1.0:
            raise SystemExit(f"trace={trace}: {recall} = {first['metrics'][recall]['value']}, expected 1.0")
        for name in EXACT[trace]:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            if a != b:
                raise SystemExit(f"trace={trace}: {name} differs across same-seed runs: {a} != {b}")
        print(f"trace={trace}: ok ({len(first['metrics'])} metrics, exact counts repeat)")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        sys.exit(child(int(sys.argv[2])))
    sys.exit(main())
