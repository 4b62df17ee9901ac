#!/usr/bin/env python3
"""graft benchmark: one command, two workloads (see perfbench/README.md).

    python3 perfbench/run.py --workload event_store --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run compiles the library and
the harness from source with sbt (offline) into perfbench/target; later
runs reuse that build while the sources are unchanged. The harness runs
in its own JVM at local[nproc]; its last stdout line is the result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("event_store", "analytics_sweep")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "bench-build.json")
WORK = os.path.join(ROOT, ".bench_work")
EXPECTED = os.path.join(HERE, "expected", "sweep_digests.tsv")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (LIB, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        die("cannot find Spark's jars (set SPARK_HOME)")
    return jars


def build():
    """Compile with sbt unless the stamp matches the sources; return the classpath."""
    digest = source_digest()
    try:
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"], digest
    except (OSError, ValueError):
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env["GRAFT_SPARK_JARS"] = spark_jars()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        die("sbt not found")
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = next((l.strip() for l in reversed(lines) if os.pathsep in l and not l.startswith("[")), None)
    if not cp:
        die("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp, digest


def driver_heap():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_harness(args, cp, build_id):
    cpus = len(os.sched_getaffinity(0))
    heap = driver_heap()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={work}", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(cpus), "--heap", heap,
            "--expected", EXPECTED, "--build-id", build_id, "--record", "1" if args.record else "0"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("harness timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        die(f"harness exited with {proc.returncode}", 4)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the analytics digests of this checkout to perfbench/expected")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB, "graft")):
        die("no library sources at src/main/scala/graft: run from the root of a graft checkout")
    cp, digest = build()
    lines = run_harness(args, cp, digest[:12])
    result = json.loads(lines[-1])
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(bench):
        with open(bench) as fh:
            spec = json.load(fh)
        want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if set(result["metrics"]) != want:
            die(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
