#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload once untraced and once
traced with a 1-second window and asserts that

* each run exits 0 with a correct result and no failed operation;
* the untraced run prints every ``end_to_end`` metric of BENCHMARK.json and
  the traced run every ``per_layer`` metric, each with its declared unit;
* the traced self times (run, op, layer and job kinds) add up to the
  traced wall time.

  python3 perfbench/selftest.py        # from the root of a checkout
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = res["metrics"]
            for m in declared:
                assert m["name"] in got, f"{w}: {m['name']} not printed"
                assert got[m["name"]]["unit"] == m["unit"], f"{w}: {m['name']} unit"
                assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
            assert set(got) == {m["name"] for m in declared}, f"{w}: undeclared metrics"
            if trace:
                wall = got["trace.wall_s"]["value"]
                parts = sum(got[f"self.{k}_s"]["value"] for k in ("run", "op", "layer", "job"))
                assert abs(parts - wall) <= 0.02 * wall, f"{w}: self {parts} vs wall {wall}"
            print(f"ok  {w} trace={trace}", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
