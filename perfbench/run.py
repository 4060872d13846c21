#!/usr/bin/env python3
"""Runs one benchmark workload against the repository checkout it sits in.

    python3 perfbench/run.py --workload ingest_dml --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then starts one JVM with a single-process Spark (`local[N]`, N = nproc by
default). The last stdout line is the result JSON; the line before it is
the run's provenance header. `--selfcheck` instead runs two traced runs per
count-checked workload with one seed and fails unless the counts later
claims may rest on repeat exactly. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-source.sha256")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the repo build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classpath was built from these exact sources."""
    want = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    print("[perfbench] building engine and harness from source (sbt)", file=sys.stderr)
    t0 = time.time()
    # sbt output goes to stderr: stdout carries only the result
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)


def run_java(args, cpus):
    work = os.path.join(WORK, args.workload)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cp = open(CLASSPATH).read().strip()
    # a fixed heap, touched at start-up: no page faults of a growing heap
    # land in the measured operations
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--work", work]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException as e:
        # never leave the JVM behind: on a timeout or an interrupt it goes too
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            die(f"run exceeded {RUN_TIMEOUT_S}s and was stopped", 3)
        raise
    header = result = None
    for line in out.splitlines():
        if line.startswith("HEADER "):
            header = json.loads(line[7:])
        elif line.startswith("RESULT "):
            result = json.loads(line[7:])
        else:
            print(line, file=sys.stderr)
    if result is None:
        die(f"no result (JVM exit {p.returncode})", 4)
    return header, result, p.returncode


def finish(header, result, spec, trace):
    """Attaches units from BENCHMARK.json and refuses a result that lacks
    a listed metric or carries a value that is not a finite number."""
    listed = spec["per_layer" if trace else "end_to_end"]
    raw = result["metrics"]
    missing = [m["name"] for m in listed if not isinstance(raw.get(m["name"]), (int, float))]
    extra = sorted(set(raw) - {m["name"] for m in listed})
    if missing or extra:
        die(f"metrics do not match BENCHMARK.json: missing or not finite {missing}, unlisted {extra}", 5)
    result["metrics"] = {m["name"]: {"value": raw[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps(header))
    print(json.dumps(result))


def selfcheck(args, cpus):
    """Two traced runs per workload with one seed: the exact counts must repeat."""
    ok = True
    for wl in ("ingest_dml", "gate_hotspots"):
        seen = []
        for _ in range(2):
            a = argparse.Namespace(workload=wl, seed=args.seed, seconds=2, trace=1)
            header, result, code = run_java(a, cpus)
            if code != 0 or not result["correct"]:
                die(f"selfcheck: {wl} run failed", 6)
            m = result["metrics"]
            counts = {k: m[k] for k in m if k.startswith("codec.bits_per_value.")}
            counts["scan.rowgroups_read_frac"] = m["scan.rowgroups_read_frac"]
            counts["fls_bytes"] = header["fls_bytes"]
            counts["parquet_bytes"] = header["parquet_bytes"]
            seen.append(counts)
        same = seen[0] == seen[1]
        diff = {k: (seen[0][k], seen[1].get(k)) for k in seen[0] if seen[0][k] != seen[1].get(k)}
        print(json.dumps({"workload": wl, "seed": args.seed, "repeats_exactly": same, "differs": diff}))
        ok = ok and same
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="measured seconds; default run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local[N] threads; default nproc")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        die("no engine sources next to the benchmark (expected src/main/scala and BENCHMARK.json at "
            f"{ROOT}); run from a full checkout")
    spec = json.load(open(spec_path))
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpus = args.cpus or nproc
    if cpus > nproc:
        die(f"--cpus {cpus} exceeds the {nproc} cpus this process may use")
    if args.seconds < 1:
        die("--seconds must be at least 1")
    build()
    if args.selfcheck:
        selfcheck(args, cpus)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        die(f"--workload must be one of {names}")
    header, result, code = run_java(args, cpus)
    finish(header, result, spec, args.trace == 1)
    if code != 0 or not result["correct"]:
        die(f"wrong answers: {result['failed']} of {result['attempted']} operations failed", 1)


if __name__ == "__main__":
    main()
