#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 graftbench/selftest.py [--data DIR]

Run from the root of a checkout. For every workload it runs one tiny
measurement (two passes) and asserts that every end-to-end metric of
BENCHMARK.json prints with its unit and that the outputs check correct; it
runs the traced mode once and asserts every per-layer metric prints with
its unit; and it runs each workload once with a deliberately wrong expected
digest for one op and asserts that the failure is counted (correct is
false, ok_frac below 1).

SQL workloads read tables generated at scale factor 0.001, or the table
directory given with --data (for example a checked-in sf0.001 fixture).
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import run  # noqa: E402


def bench(workload, data, *extra, trace=0):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--data", str(data), *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def metrics_match(result, spec, workload):
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}, f"{workload}: metrics {sorted(got)}"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{workload}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{workload}: {m['name']} = {v['value']}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", help="table directory at a tiny scale factor")
    args = ap.parse_args()
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    data = Path(args.data).resolve() if args.data else run.dataset("tables", 0.001, 7, time.time() + 900)

    for w in sorted(run.WORKLOADS):
        r = bench(w, data)
        metrics_match(r, spec["end_to_end"], w)
        assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, f"{w}: {r}"
        print(f"ok   {w}: every end-to-end metric with its unit, outputs correct")

        # a provisioning op kind (users, plan, ...) runs in every pass
        wrong = run.WORKLOADS[w]["ops"][0].split(":")[0]
        r = bench(w, data, "--expect-wrong", wrong)
        assert not r["correct"] and r["failed"] > 0, f"{w}: wrong digest not counted: {r}"
        assert r["metrics"]["ok_frac"]["value"] < 1, f"{w}: {r['metrics']['ok_frac']}"
        print(f"ok   {w}: a wrong expected digest for {wrong} counts {r['failed']} failed ops")

    w = sorted(run.WORKLOADS)[0]
    r = bench(w, data, trace=1)
    metrics_match(r, spec["per_layer"], w)
    print(f"ok   {w}: every per-layer metric with its unit in the traced run")
    print("selftest passed")


if __name__ == "__main__":
    main()
