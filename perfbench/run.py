#!/usr/bin/env python3
"""Run one benchmark workload against the graft program and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
then starts one JVM that runs the workload as a single closed-loop client:
set-up (session, shared inputs, one untimed round whose outputs are
checked), then whole rounds until --seconds have passed. The seed sets the
query order of every round. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of a
separately traced run, and per-query layer values go to the trace file
named on stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
RUN_TIMEOUT_S = 170

def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads: both sbt builds and all Scala/Java sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt"))]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile the program and harness unless the last build saw these sources."""
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(LAUNCHER) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.exists(LAUNCHER):
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def heap():
    """The Tier-1 test heap: half of RAM in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, cores, xmx, *extra):
    with open(LAUNCHER) as fh:
        lines = fh.read().splitlines()
    classpath, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result = os.path.join(WORK, f"result-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)
    # The program's own AQE floor, whatever the caller's environment says.
    env.pop("SPARK_GRAFT_AQE_MIN_PARTITION", None)
    cmd = (["java", f"-Xmx{xmx}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", classpath, "perfbench.Harness", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), DATA, result, *extra])
    log = os.path.join(WORK, f"jvm-{args.workload}-{args.seed}-{args.trace}.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        die(f"harness exited {rc}; see {log}")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die(f"program sources not found under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    if args.workload not in expected:
        die(f"unknown workload {args.workload!r}; known: {', '.join(sorted(expected))}")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    build(digest)

    cores = len(os.sched_getaffinity(0))
    xmx = heap()
    r = run_jvm(args, cores, xmx)

    # Output check: the untimed round's fingerprints against the expected ones.
    want = expected[args.workload]
    got = r["fingerprints"]
    mismatched = sorted(q for q in set(want) | set(got) if got.get(q) != want.get(q))
    for q in mismatched:
        print(f"check FAILED {q}: got {got.get(q)} want {want.get(q)}", file=sys.stderr)
    samples = r["samples"]
    failures = [s for s in samples if s["failed_phase"]]
    for s in failures:
        print(f"failed round {s['round']} {s['query']} in {s['failed_phase']}: {s['message']}",
              file=sys.stderr)
    failed_names = {s["query"] for s in failures if s["round"] == 0}
    failed = len(failures) + len([q for q in mismatched if q not in failed_names])
    attempted = len(samples)

    timed = [s for s in samples if s["round"] > 0 and not s["failed_phase"]]
    lat = [s["construct_s"] + s["plan_s"] + s["exec_s"] for s in timed]
    rounds = r["rounds"]
    if not rounds or not lat:
        die("no timed round completed")
    stamp = {"nproc": cores, "xmx": xmx, "jdk": r["jdk"], "spark": r["spark"],
             "git_commit": git_commit(), "source_sha256": digest, "seed": args.seed,
             "workload": args.workload, "spark_cores": r["cores"]}
    print("host " + json.dumps(stamp, sort_keys=True))
    print(f"samples: rounds={len(rounds)} queries={len(lat)} "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f}")

    if args.trace:
        values = dict(r["layers"], **{"trace.round_s": statistics.median(rounds)})
        listed = spec["per_layer"]
        trace = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(trace, "w") as fh:
            json.dump({"host": stamp, "workload": r["layers"], "per_query": r["query_layers"],
                       "samples": samples, "rounds": rounds}, fh, indent=1, sort_keys=True)
        print(f"perfbench: per-query trace in {trace}", file=sys.stderr)
    else:
        values = {
            "setup_s": r["setup_s"],
            "round_s": statistics.median(rounds),
            "query_p50_s": statistics.median(lat),
            "query_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[-1]
                            if len(lat) > 1 else lat[0]),
            "peak_heap_mb": r["peak_heap_mb"],
        }
        listed = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for k, m in metrics.items():
        n = {"setup_s": 1, "peak_heap_mb": 1, "query_p50_s": len(lat),
             "query_p90_s": len(lat)}.get(k, len(rounds))
        print(f"  {k:<24} {m['value']:>14.6f} {m['unit']:<6} n={n}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
