"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all) it runs ``run.py`` once untraced and once
traced on a few thousand pages, and checks that

* the last stdout line is the result object with exactly the keys
  correct/attempted/failed/metrics, and the run was correct;
* the untraced run emits every ``end_to_end`` metric of BENCHMARK.json and
  the traced run every ``per_layer`` metric, each with its declared unit;
* a run told to make one pass or batch output wrong reports it: ``failed``
  rises, so error_rate = failed / attempted is above zero.

Takes a few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"flagship_agg": 3000, "arrow_grok_chain": 3000, "stream_publish": 300}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "2", "--trace", str(trace),
           "--pages", str(TINY[workload]), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload}: result keys {sorted(result)}")
    return result


def check_metrics(workload: str, result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        raise AssertionError(f"{workload}: metrics {sorted(set(got) ^ set(want))} "
                             "missing or undeclared")
    for name, unit in want.items():
        value = got[name]["value"]
        if got[name]["unit"] != unit or not isinstance(value, (int, float)):
            raise AssertionError(f"{workload}: {name} = {got[name]}")


def main(workloads: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for workload in workloads:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result = run(workload, trace)
            if not result["correct"] or result["failed"]:
                raise AssertionError(f"{workload} trace={trace}: {result}")
            check_metrics(workload, result, declared)
            print(f"ok  {workload} trace={trace}: {len(result['metrics'])} metrics, "
                  f"{result['attempted']} attempted", flush=True)
        if workload != "arrow_grok_chain":  # same pass checker as flagship_agg
            wrong = run(workload, 0, "--corrupt-pass", "1")
            error_rate = wrong["failed"] / wrong["attempted"]
            if wrong["correct"] or not error_rate > 0:
                raise AssertionError(f"{workload}: a wrong output went unnoticed: {wrong}")
            print(f"ok  {workload}: wrong output gives error_rate {error_rate:.3f}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or list(TINY)))
