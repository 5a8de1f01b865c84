#!/usr/bin/env python3
"""The graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload queries_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (perfbench/harness) and generates the
input tables (perfbench/gen.py); later runs reuse both until a source
file changes. The measurement itself runs in one JVM at
local[SPARK_GRAFT_CPUS] (default: nproc) and is described in
perfbench/README.md.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A full record, stamped with the host's state, is written
to perfbench/work/results/. Inputs, run records and Spark's scratch
space stay under perfbench/work/; the build writes sbt's target/
directories.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
HARNESS = os.path.join(HERE, "harness")
JVM_TIMEOUT_S = 170

# name -> (input scale, queries). `@ingest` is the standing-store ingest
# loop; any other entry is a comma-separated list of graft query names.
WORKLOADS = {
    # four Relational/Events queries spread over their cost range, the
    # checkpoint-heavy label propagation (58 Spark jobs a call) and one
    # pair query on graft's codegen kernels
    "queries_sf0.01": (0.01, ",".join([
        "q_array_ops", "q_unpivot", "q_funnel_steps", "q2_min_supplier",
        "q_label_prop", "q_minhash_pairs"])),
    "ingest_sf0.01": (0.01, "@ingest"),
}


def metric_spec(trace):
    """(name, unit) of every metric the result line carries, as
    BENCHMARK.json lists them: end-to-end ones, or per-layer with --trace."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Hash of every regular file under `paths` (names and bytes)."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(top)
                           for f in fs if "/target" not in d)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def graft_jvms():
    """Pids of live JVMs running a graft main class."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(a.startswith(b"graft.") for a in argv):
            out.append(int(pid))
    return out


def build():
    """Compiles graft and the harness when any source changed; returns
    the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in ("src/main", "build.sbt", "project/build.properties")]
    sources += [os.path.join(HARNESS, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    classpath = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def inputs(sf):
    """The generated input tables at scale `sf`, made once per generator
    version; returns (directory, generation seconds or 0 when cached)."""
    gen = os.path.join(HERE, "gen.py")
    key = tree_hash([gen])[:16]
    out = os.path.join(WORK, "data", f"sf{sf}-{key}")
    if os.path.exists(os.path.join(out, "_done")):
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    subprocess.run([sys.executable, gen, out, "--sf", str(sf)], check=True)
    open(os.path.join(out, "_done"), "w").close()
    return out, time.time() - t0


def driver_heap():
    """The test suite's heap formula: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    """HEAD of the checkout, or None when it is not a git repository."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def jdk_version():
    p = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return p.stdout.splitlines()[0] if p.stdout else "unknown"


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, args, cpus, heap, run_dir):
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    cmd += [f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    # knobs that would move Spark's scratch space or graft's plans
    for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SHUFFLE_PARTS"):
        env.pop(k, None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-ref", action="store_true",
                    help="record this run's digests as the workload's reference")
    ap.add_argument("--plant", help="corrupt this reference entry (self-test)")
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from a graft checkout")
    others = graft_jvms()
    if others:
        sys.exit(f"perfbench: another graft JVM is running (pids {others}); refusing to start")

    os.makedirs(WORK, exist_ok=True)
    load_start = loadavg()
    classpath = build()
    sf, queries = WORKLOADS[a.workload]
    data, gen_s = inputs(sf)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    heap = os.environ.get("SPARK_DRIVER_MEM") or driver_heap()
    ref = os.path.join(HERE, "ref", f"{a.workload}.json")
    if not a.write_ref and not os.path.exists(ref):
        sys.exit(f"perfbench: no reference digests at {ref}")

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    args = ["--data", data, "--queries", queries,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--ref", ref, "--out", out]
    if a.write_ref:
        args += ["--write-ref", "1"]
    if a.plant:
        args += ["--plant", a.plant]
    t0 = time.time()
    code = run_jvm(classpath, args, cpus, heap, run_dir)
    wall = time.time() - t0
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: JVM {'timed out' if code is None else f'exited {code}'}")
    res = json.load(open(out))
    load_end = loadavg()
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "spark_graft_cpus": cpus, "heap": heap,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "loaded": max(load_start, load_end) > cpus,
        "git_commit": git_commit(),
        "source": tree_hash([os.path.join(ROOT, "src/main"), os.path.join(ROOT, "build.sbt")])[:16],
        "jdk": jdk_version(), "spark": res["info"].get("spark"),
        "input_sf": sf, "input_gen_s": gen_s, "jvm_wall_s": wall,
    }
    if stamp["loaded"]:
        log(f"loadavg {max(load_start, load_end)} exceeded {cpus} cores; figures flagged")
    for f in res["failures"]:
        log(f"failure: {f}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    record = dict(res, host=stamp)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    log(json.dumps({"host": stamp, "info": res["info"]}, sort_keys=True))

    # a per-layer metric of a layer the workload never enters reads 0
    got = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {k: {"value": float(got[k] if not a.trace else got.get(k, 0.0)), "unit": u}
               for k, u in metric_spec(a.trace)}
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
