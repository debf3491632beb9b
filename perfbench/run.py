#!/usr/bin/env python3
"""Variant-calling benchmark for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload wgs_snv --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload wgs_snv --seed 1 --generate DIR

Builds the engine and the benchmark JVM from source when their sources
changed (sbt, in perfbench/), measures set-up in fresh JVMs, then runs
one benchmark JVM for the workload. Progress goes to stderr; the last
line of stdout is the result object. With --generate, writes the
workload's inputs for the seed under DIR/input and prints nothing. See
perfbench/README.md.
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
WORKLOADS = ("wgs_snv", "indel_realign")
# fresh JVMs that only build the session, besides the benchmark JVM itself
SETUP_PROBES = 1
RUN_TIMEOUT_S = 170

# what spark-submit would pass on JDK 17 (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(bdir):
    """Build if needed; the runtime classpath of the benchmark JVM."""
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def heap():
    """JVM heap as the tier-1 test command pins it: half of RAM, 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(cp, bdir, args):
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap: no resizing between passes
    return ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(bdir, 'warehouse')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", metavar="DIR")
    a = ap.parse_args()
    if a.seconds is None and a.generate is None:
        ap.error("--seconds is required")

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/ (run from a checkout)")

    bdir = build_dir()
    cp = classpath(bdir)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]", SPARK_GRAFT_CPUS=str(cores))
    deadline = time.time() + RUN_TIMEOUT_S
    if a.generate:
        p = subprocess.run(java_cmd(cp, bdir, ["generate", "--workload", a.workload, "--seed", str(a.seed),
                                               "--work", os.path.abspath(a.generate)]),
                           cwd=ROOT, env=env, stdout=sys.stderr, timeout=RUN_TIMEOUT_S)
        sys.exit(p.returncode)

    setups = []
    if a.trace == 0:
        for _ in range(SETUP_PROBES):
            p = subprocess.run(java_cmd(cp, bdir, ["setup"]), cwd=ROOT, env=env, text=True,
                               stdout=subprocess.PIPE, timeout=max(1, deadline - time.time()))
            if p.returncode != 0:
                raise SystemExit("perfbench: set-up probe failed")
            setups += [float(l.split()[1]) for l in p.stdout.splitlines() if l.startswith("SETUP ")]

    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    artifact = os.path.join(bdir, "traces", f"{a.workload}-{a.seed}.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result, "--artifact", artifact]
    try:
        p = subprocess.run(java_cmd(cp, bdir, args), cwd=ROOT, env=env, stdout=sys.stderr,
                           timeout=max(1, deadline - time.time()))
        if p.returncode != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: benchmark JVM failed ({p.returncode})")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == 0:
        setups.append(out["metrics"]["setup_s"]["value"])
        out["metrics"]["setup_s"]["value"] = statistics.median(setups)
    else:
        log(f"trace artifact: {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
