#!/usr/bin/env python3
"""Smoke self-test of the graft benchmark.

    python3 perfbench/selftest.py

Runs each workload with --seconds 1, the shortest run it makes (four
timed passes; two ingest cycles), and asserts that
  1. every metric BENCHMARK.json names is in the result line, with its unit,
     for untraced and traced runs;
  2. the count metrics (jobs, stages, tasks, shuffle records, input bytes,
     store rows) are identical in two traced runs of the same seed, and
     shuffle bytes agree within 0.1%: they are compressed sizes, and rows
     fetched from a shuffle arrive in a different order each run;
  3. a planted wrong reference digest is reported as a failed operation.
Exits 0 when all hold. Takes about ten minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PLANT = {"queries_sf0.01": "q_array_ops", "ingest_sf0.01": "ingest.v1.c2.serve"}
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "shuffle.write_records",
         "shuffle.read_records", "scan.input_bytes")
NEAR = ("shuffle.write_bytes", "shuffle.read_bytes")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace)] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    assert p.returncode == 0, f"{' '.join(cmd)} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in PLANT:
        planted = run(w, 0, "--plant", PLANT[w])
        traced = [run(w, 1), run(w, 1)]
        for res, key in ((planted, "end_to_end"), (traced[0], "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w}: {key} metrics present with their units")
        check(not planted["correct"] and planted["failed"] >= 1,
              f"{w}: planted wrong digest reported as a failure")
        check(all(t["correct"] and t["failed"] == 0 for t in traced), f"{w}: traced runs correct")
        a, b = (t["metrics"] for t in traced)
        exact = [k for k in a if k in EXACT or (k.startswith("store.") and k.endswith(".rows"))]
        diff = {k: (a[k]["value"], b[k]["value"]) for k in exact if a[k]["value"] != b[k]["value"]}
        check(not diff, f"{w}: counts repeat exactly across two traced runs {diff or ''}")
        far = {k: (a[k]["value"], b[k]["value"]) for k in NEAR
               if abs(a[k]["value"] - b[k]["value"]) > 1e-3 * max(a[k]["value"], 1.0)}
        check(not far, f"{w}: shuffle bytes agree within 0.1% across two traced runs {far or ''}")
    print("selftest:", "FAILED " + "; ".join(problems) if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
