#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
engine with sbt (perfbench/build.sbt); later runs start the JVM
directly. See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
WORKLOADS = ("basket", "registry")
HEAP = "3g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newer_than(path):
    """True when any build input is newer than `path` (or it is missing)."""
    if not os.path.exists(path):
        return True
    built = os.path.getmtime(path)
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return any(os.path.getmtime(f) > built for f in files if os.path.exists(f))


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("no engine build next to the benchmark (build.sbt missing)")
        return False
    if not sources_newer_than(LAUNCH):
        return True
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found")
        return False
    log("building harness and engine with sbt")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    log(f"build exit {r.returncode} after {time.time() - t0:.1f} s")
    return r.returncode == 0 and os.path.isfile(LAUNCH)


def hygiene():
    """CPU count, 1-minute load average and cumulative steal ticks."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    steal = None
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                fields = line.split()
                steal = int(fields[8]) if len(fields) > 8 else 0
                break
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load, "steal_ticks": steal}


def run_jvm(args, cores):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores),
            "--data", os.path.join(BENCH, "data"), "--work", WORK,
            "--expected", os.path.join(BENCH, "expected.json"),
            "--launch-epoch-ns", str(time.time_ns())])
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("JVM timed out")
        return None
    if proc.returncode != 0:
        log(f"JVM exit {proc.returncode}")
        return None
    return [l for l in out.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not build():
        log("build failed")
        return 2
    os.makedirs(WORK, exist_ok=True)
    start = hygiene()
    cores = start["nproc"]

    lines = run_jvm(args, cores)
    if not lines:
        return 3
    result = json.loads(lines[-1])
    info = next((json.loads(l[len("PERFBENCH_INFO "):]) for l in lines
                 if l.startswith("PERFBENCH_INFO ")), {})
    end = hygiene()

    record = {"args": vars(args), "hygiene_start": start, "hygiene_end": end,
              "info": info, "result": result}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    counts = {"setup_s": 1, "pass_s": info.get("pass_samples"),
              "query_p50_ms": info.get("query_samples")}
    for name, m in result["metrics"].items():
        n = f" (n={counts[name]})" if name in counts else ""
        print(f"{name} {m['value']:.6g} {m['unit']}{n}")
    tail = info.get("query_tail")
    if tail:
        print(f"query_p{tail['percentile']}_ms {tail['ms']:.6g} ms (n={info.get('query_samples')})")
    print(f"failed_frac {info.get('failed_frac')} ({result['failed']}/{result['attempted']})")
    print(f"hygiene nproc={start['nproc']} loadavg {start['loadavg']}->{end['loadavg']} "
          f"steal_ticks {start['steal_ticks']}->{end['steal_ticks']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
