#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload analytics_curation --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run builds the engine and the
runner (perfbench/build.sbt) into the build directory ($CARGO_TARGET_DIR,
default .bench_build); later runs reuse the build while the sources are
unchanged. Each run gets a fresh work directory (index root, warehouse,
checkpoints, Spark local dirs, temp files) that is removed afterwards.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1). The line before it carries the run's
context: seed, host load, steal and the calibration loop.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import streamgen  # noqa: E402

WORKLOADS = ("analytics_curation", "stream_ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ORDER_PASSES = 64

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so an unchanged tree skips it."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Compile the engine and the runner; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "build.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp and all(
                os.path.exists(p) for p in prev["classpath"].split(":")):
            return prev["classpath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln and ":" in ln
          and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (log: {log})")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def proc_stat():
    """Whole-host (steal, iowait) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]), int(f[5])
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def write_orders(path, names, seed):
    """One shuffled query order per pass; the seed fixes all of them."""
    rng = random.Random(seed)
    with open(path, "w") as fh:
        for _ in range(ORDER_PASSES):
            order = list(names)
            rng.shuffle(order)
            fh.write(",".join(order) + "\n")


def read_names(path):
    with open(path) as fh:
        return [ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01",
                    help="table set under perfbench/data (query workloads)")
    ap.add_argument("--stream-rows", type=int, default=streamgen.ROWS)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a full checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    try:
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work,
                "--cpus", str(min(4, len(os.sched_getaffinity(0)))),
                "--result", os.path.join(work, "result.json"),
                "--spans", os.path.join(build_dir, "traces",
                                        f"{a.workload}-seed{a.seed}.json")]
        if a.workload == "analytics_curation":
            names_file = os.path.join(HERE, "queries", f"{a.workload}.txt")
            names = read_names(names_file)
            orders = os.path.join(work, "orders.txt")
            write_orders(orders, names, a.seed)
            data = os.path.join(HERE, "data", a.scale)
            args += ["--data", data, "--names", names_file,
                     "--orders", orders,
                     "--expected", os.path.join(HERE, "expected", f"{a.scale}.tsv")]
        else:
            stream_in = os.path.join(work, "stream-input")
            expected = streamgen.generate(stream_in, a.seed, a.stream_rows)
            exp_file = os.path.join(work, "stream-expected.txt")
            with open(exp_file, "w") as fh:
                fh.writelines(f"{k}={v}\n" for k, v in expected.items())
            args += ["--stream-input", stream_in, "--stream-expected", exp_file,
                     "--max-files-per-trigger", str(streamgen.FILES_PER_TRIGGER)]

        jvm = (["java", "-Xmx3g", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main"] + args)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   GRAFT_INDEX_ROOT=os.path.join(work, "index-env"),
                   TMPDIR=os.path.join(work, "tmp"))
        stat0, load0, t0 = proc_stat(), loadavg(), time.time()
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(jvm, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        stat1, load1, wall = proc_stat(), loadavg(), time.time() - t0
        result_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            with open(log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            die(f"runner exited with {rc}")
        with open(result_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # The result line carries every metric asked for as a number. A
    # per-layer metric the run did not measure (its layer is not loaded by
    # this workload, or its split failed) reads 0 there, and the context
    # line names it with the reason, so 0 never stands for "not measured"
    # unannounced.
    absent = {name: why for why, names in res["absent"].items() for name in names}
    missing = [m["name"] for m in wanted
               if m["name"] not in res["metrics"] and m["name"] not in absent]
    if missing:
        die(f"runner did not report {missing}")
    ctx = dict(res["context"], nproc=os.cpu_count(),
               affinity=len(os.sched_getaffinity(0)), loadavg_start=load0,
               loadavg_end=load1, process_wall_s=wall, errors=res["errors"],
               notes=res["notes"], absent=res["absent"])
    if stat0 and stat1:
        ctx["steal_s"] = (stat1[0] - stat0[0]) / 100.0
        ctx["iowait_s"] = (stat1[1] - stat0[1]) / 100.0
    print(json.dumps({"perfbench_context": ctx}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
