#!/usr/bin/env python3
"""Tests of the benchmark itself, at smoke size.

    python3 perfbench/smoke_test.py

For each workload, runs the benchmark once untraced and once traced with
--smoke (about 10 k flight rows, a 60-document corpus, every correctness
check on) and asserts that:
  - the result is correct, with no failed operation;
  - the metrics are exactly BENCHMARK.json's, with its units;
  - both runs ran the same number of Spark jobs per timed operation, i.e.
    tracing adds no job. On operator_mix one job of slack is allowed:
    q28_ivf_topk runs 24 or 25 jobs from run to run in either mode.
It prints traced minus untraced median operation time, from the runs'
summary lines (at smoke size this is mostly noise; see NOTES.md for the
overhead at full size). Finally it checks that the
benchmark refuses to run, without printing a result, from a directory that
holds only BENCHMARK.json and perfbench/.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, *args, timeout=180):
    cmd = ["python3", "perfbench/run.py"] + list(args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def summary(stderr):
    line = [l for l in stderr.splitlines() if l.startswith("perfbench: workload=")][-1]
    return dict(kv.split("=", 1) for kv in line.split()[1:])


def check_run(workload, trace):
    r = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
            "--trace", str(trace), "--smoke", timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, \
        f"{workload} trace={trace}: {res['attempted']} attempted, {res['failed']} failed\n" + \
        "\n".join(l for l in r.stderr.splitlines() if l.startswith("perfbench:"))
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}, f"{workload} trace={trace} metrics {got}"
    if not trace:
        zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
        assert not zero, f"{workload}: end-to-end metrics not positive: {zero}"
    return res, summary(r.stderr)


def main():
    for w in (x["name"] for x in SPEC["workloads"]):
        plain, plain_sum = check_run(w, 0)
        traced, traced_sum = check_run(w, 1)
        jobs = traced["metrics"]["spark.jobs"]["value"]
        slack = 1 if w == "operator_mix" else 0
        assert abs(float(plain_sum["spark.jobs/op"]) - jobs) <= slack, \
            f"{w}: untraced {plain_sum['spark.jobs/op']} jobs/op, traced {jobs}"
        delta = float(traced_sum["op_p50_ms"]) - float(plain_sum["op_p50_ms"])
        print(f"ok {w}: {plain_sum['spark.jobs/op']} / {jobs:g} jobs/op untraced / traced; "
              f"traced - untraced median op {delta:+.1f} ms")

    bare = ROOT / ".bench_build" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    r = run(bare, "--workload", "flight_etl", "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0 and not r.stdout.strip(), "bare directory run should fail silently"
    print("ok bare directory: exit", r.returncode)


if __name__ == "__main__":
    main()
