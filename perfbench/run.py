#!/usr/bin/env python3
"""Run one perfbench workload and print its result line.

    python3 perfbench/run.py --workload clean_interactive --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The harness (perfbench/build.sbt: the
engine sources plus perfbench/src) is built on first use and cached by a
hash of its sources; inputs are generated once per seed into
perfbench/.work/inputs (gen.py). One JVM then runs the workload
(perfbench.Main) on local[nproc] with the tier-1 driver-memory rule.

The last stdout line is one JSON object: correct, attempted, failed and the
metrics named in BENCHMARK.json (end_to_end with --trace 0, per_layer with
--trace 1). A results file with the host shape and provenance goes to
perfbench/.work/results/; compare.py compares such files.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

sys.path.insert(0, HERE)
import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "src", "main", "**", "*"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    files = sorted({f for p in pats for f in glob.glob(p, recursive=True)
                    if os.path.isfile(f)})
    return files


def build():
    """Compile the harness if its sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(WORK, "build", h.hexdigest()[:16] + ".classpath")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    # sbt's and the JVM's scratch files stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(
        [os.environ.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
         "-XX:-UsePerfData"]).strip())
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "classes" in ln and os.pathsep in ln
          and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def driver_mem_gb():
    """The tier-1 rule: half the host memory, clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("run from the root of a checkout (no BENCHMARK.json here)")
    with open(bench_file) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = bench["per_layer" if a.trace else "end_to_end"]

    cp = build()
    inputs = gen.ensure(os.path.join(WORK, "inputs", f"seed{a.seed}"),
                        a.seed, a.workload)

    cores = len(os.sched_getaffinity(0))
    mem = driver_mem_gb()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{mem}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--inputs", inputs,
              "--work", run_dir, "--out", result,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores)])
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{a.workload}_seed{a.seed}_trace{a.trace}.log")
    load0 = loadavg()
    t0 = time.time()
    # a terminated driver takes its JVM with it (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    load1 = loadavg()
    if rc != 0 or not os.path.isfile(result):
        fail(f"harness exited {rc}, see {log}")
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    got = res["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not a.trace:
        fail(f"harness did not report {missing}")
    # a layer this workload does not exercise reads 0
    got = {**{n: 0.0 for n in missing}, **got}
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in wanted}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "wall_s": round(time.time() - t0, 3),
        "host_shape": {"nproc": cores, "master": f"local[{cores}]",
                       "xmx": f"{mem}g"},
        "versions": res["versions"], "git_commit": git_commit(),
        "loadavg_before": load0, "loadavg_after": load1,
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "failed_frac": res["failed"] / max(1, res["attempted"]),
        "failures": res["failures"], "metrics": metrics,
        "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
        "ops_timed": res["ops_timed"], "ops_traced": res["ops_traced"],
        "peak_rss_mb": res["peak_rss_mb"],
        "request_tail": res["request_tail"], "op_ms": res["op_ms"]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t0))
    with open(os.path.join(WORK, "results", f"{stamp}_{a.workload}_seed{a.seed}"
                           f"_trace{a.trace}_{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in res["failures"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
