#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt on first use
(outputs under target, project/target, perfbench/target,
perfbench/project/target and .bench_build),
then runs one workload in one JVM. Before and after the run it records
window evidence (load average and a fixed-work spin) so a contended run can
be told apart from a slow program. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. Exits nonzero when a
correctness check fails or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
# class-data sharing archive of the classes a run loads: the first run after
# a build writes it, later runs map it instead of loading ~5 s of classes
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Build unless the last build used the same sources; returns their hash."""
    want = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return want
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; cannot build the benchmark", 3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    log("building program and harness with sbt ...")
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                       "compile", "writeClasspath"], BENCH, env, out, BUILD_TIMEOUT_S)
    if r != 0:
        fail(f"build failed (exit {r}); see .bench_build/build.log", 3)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return want


def run_group(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def window_probe():
    """Load average and the wall time of a fixed single-thread spin."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return {"loadavg_1m": os.getloadavg()[0], "spin_s": round(time.perf_counter() - t0, 4)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("program sources (src/main/scala/graft) not found; nothing to benchmark")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    before = window_probe()
    java = shutil.which("java") or fail("java is not on PATH", 3)
    cds_new = CDS_ARCHIVE + f".{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={cds_new}")
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--src", PROGRAM_SRC,
              "--expected", os.path.join(BENCH, "expect", "curate_batches.txt"),
              "--recorded", os.path.join(BUILD, "expect"), "--out", result_file,
              "--spans", os.path.join(BUILD, "trace", f"{tag}.json")])
    t0 = time.time()
    code = run_group(cmd, ROOT, dict(os.environ), sys.stderr, RUN_TIMEOUT_S)
    wall = time.time() - t0
    after = window_probe()
    try:
        with open(result_file) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(cds_new):
        if code == 0:
            os.replace(cds_new, CDS_ARCHIVE)
        else:
            os.remove(cds_new)
    if code != 0 or res is None:
        fail(f"benchmark process exited {code} without a result", 1)

    key = "per_layer" if a.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if want != got:
        fail(f"metrics do not match BENCHMARK.json {key}: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")

    window = {"before": before, "after": after, "run_wall_s": round(wall, 3)}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
        json.dump(dict(res, window=window), f, indent=1)
    print(json.dumps({"window": window, "detail": res["detail"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
