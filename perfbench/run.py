#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload raster_x10 --seed 1 --seconds 20 --trace 0

Run it from the repository root. It builds the engine and the harness
from source (perfbench/build.sbt, outputs under .bench_build/), writes
the workload's inputs from the seed, runs the timed passes in one JVM,
checks the outputs, and prints a metric table followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones from
a separately traced run. --artifact FILE also writes the full result
(stamps, every metric, checks and, when traced, the span trees).
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analyze  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("raster_x10", "store_rw")
# A run has 180 s, and the first one in a checkout 900 s as it builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build compiles: the engine and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group on timeout,
    on error and when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    """Compile with sbt once per source stamp; return the classpath."""
    cp_file = os.path.join(WORK, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    # the classes of any other stamp are about to be overwritten
    for f in os.listdir(WORK):
        if f.startswith("classpath-"):
            os.remove(os.path.join(WORK, f))
    env = dict(os.environ, COURSIER_MODE="offline")
    submit = shutil.which("spark-submit")
    if submit and "SPARK_HOME" not in env:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx1g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false",
                          "compile", "export Runtime / fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and "sbt-target" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def cpu_ticks():
    """(busy, steal) ticks of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="also write the full result as JSON here")
    args = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")

    stamp = source_stamp()
    cp = build(stamp)
    built = time.time()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(started)}")
    try:
        data, out = (os.path.join(run_dir, d) for d in ("data", "out"))
        t_gen = time.time()
        gen.generate(args.workload, args.seed, data)
        t_jvm = time.time()
        os.makedirs(os.path.join(out, "tmp"))
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={out}/tmp", "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--data", data, "--out", out])
        log = os.path.join(run_dir, "jvm.log")
        ticks0 = cpu_ticks()
        with open(log, "w") as lf:
            rc = run_bounded(cmd, RUN_LIMIT_S - (time.time() - built), cwd=out,
                             stdout=lf, stderr=subprocess.STDOUT)
        report_path = os.path.join(out, "report.json")
        if rc != 0 or not os.path.exists(report_path):
            print("\n".join(open(log).read().splitlines()[-40:]), file=sys.stderr)
            fail(f"benchmark JVM failed (exit {rc})")
        # CPU time the hypervisor gave to others while the JVM ran, as a
        # share of the time this machine was busy or stolen from
        busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        report = json.load(open(report_path))
        t_check = time.time()
        checks = oracle.check(report, data)
        stamps = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": report["nproc"],
            "heap_max_mb": report["heap_max_mb"], "jdk": report["jdk"],
            "spark": report["spark"], "git_commit": git_commit(), "source_stamp": stamp,
            "raster_x10_scale": gen.RASTER_COPIES,
            "input_rows": gen.table_rows(data), "steal_share": steal / max(1, busy + steal),
        }
        result = analyze.result(report, checks, stamps)
        marks = report["marks"]
        result["run_timing_s"] = {
            "build": t_gen - started, "generate": t_jvm - t_gen,
            "jvm": t_check - t_jvm, "jvm_start": (marks["setup_start"] - marks["jvm_start"]) / 1000,
            "setup": report["setup_s"], "passes": (marks["passes_end"] - marks["passes_start"]) / 1000,
            "check_jvm": marks["check_s"],
            "check_duckdb": time.time() - t_check}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.artifact:
        with open(args.artifact, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    for k in ("workload", "seed", "nproc", "heap_max_mb", "jdk", "spark", "git_commit",
              "raster_x10_scale", "steal_share"):
        print(f"# {k} = {stamps[k]}")
    for c in result["checks"]:
        if not c["ok"]:
            print(f"# CHECK FAILED {c['name']}: {c.get('error', '')}")
    key = "per_layer" if args.trace else "end_to_end"
    for name, m in sorted(result[key].items()):
        print(f"{name:32s} {m['value']:>18.6f} {m['unit']}")
    shown = {k: result[key][k] for k in analyze.REPORTED[key]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
