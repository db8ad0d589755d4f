#!/usr/bin/env python3
"""Self-test of the benchmark runner's seed discipline and end-to-end path.

    python3 perfbench/selftest.py

Run from the root of the checkout. Checks that:
  * one seed writes the same stream files byte for byte and the same query
    orders, and another seed writes different ones;
  * every workload runs end to end, traced and untraced, with no failed
    operation on the sf0.001 tables and a small stream.
Exits non-zero on the first failed check.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import streamgen  # noqa: E402


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        sys.exit(1)


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    tmp = os.path.join(build_dir, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        e1 = streamgen.generate(os.path.join(tmp, "s7a"), 7, 3000)
        e2 = streamgen.generate(os.path.join(tmp, "s7b"), 7, 3000)
        e3 = streamgen.generate(os.path.join(tmp, "s8"), 8, 3000)
        check(e1 == e2 and same_tree(os.path.join(tmp, "s7a"), os.path.join(tmp, "s7b")),
              "seed 7 writes identical stream files and expectations twice")
        check(not same_tree(os.path.join(tmp, "s7a"), os.path.join(tmp, "s8")) and e1 != e3,
              "seed 8 writes different stream files")
        names = run.read_names(os.path.join(HERE, "queries", "analytics_curation.txt"))
        run.write_orders(os.path.join(tmp, "o7a"), names, 7)
        run.write_orders(os.path.join(tmp, "o7b"), names, 7)
        run.write_orders(os.path.join(tmp, "o8"), names, 8)
        check(filecmp.cmp(os.path.join(tmp, "o7a"), os.path.join(tmp, "o7b"), shallow=False),
              "seed 7 gives the same query orders twice")
        check(not filecmp.cmp(os.path.join(tmp, "o7a"), os.path.join(tmp, "o8"), shallow=False),
              "seed 8 gives different query orders")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for workload in run.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "3", "--seconds", "1", "--trace", str(trace),
                   "--scale", "sf0.001", "--stream-rows", "6000"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            ctx = json.loads(lines[-2])["perfbench_context"] if len(lines) > 1 else {}
            check(res.get("correct") is True and res.get("failed") == 0
                  and res.get("attempted", 0) > 0 and ctx.get("seed") == 3,
                  f"{workload} trace={trace}: attempted={res.get('attempted')} "
                  f"failed={res.get('failed')} errors={ctx.get('errors')}")


if __name__ == "__main__":
    main()
