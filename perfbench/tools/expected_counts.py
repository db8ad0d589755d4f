#!/usr/bin/env python3
"""Regenerate the committed inputs the query workloads check against.

    python3 perfbench/tools/expected_counts.py [sf0.01 ...]

Run from the root of the checkout. For each table set under perfbench/data
(default: sf0.01 and sf0.001) it updates perfbench/expected/<scale>.tsv for
every registered query name: its expected row count and how the count was
obtained. Counts come from the
engine's own DuckDB oracle (SparkEntry.oracleSql) run over the same parquet
files, never from an engine run; an oracle query that does not finish in
TIMEOUT_S is recorded with count -1, and the runner fails that query. It
also writes perfbench/queries/classification.tsv: the tables each query's
analyzed plan reads, which decides its workload.
"""
import json
import multiprocessing
import os
import queue
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
TIMEOUT_S = 240
WORKERS = 2


def java(classpath, work, *args):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + list(args))
    env = dict(os.environ, SPARK_LOCAL_DIRS=work, TMPDIR=work)
    subprocess.run(cmd, check=True, env=env, stdout=subprocess.DEVNULL)


def _count(data, sql, out):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out.put(con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0])


def oracle_count(data, name, sql):
    """Row count of one oracle query, in a child process killed on timeout."""
    t0 = time.time()
    ctx = multiprocessing.get_context("spawn")
    q = ctx.Queue()
    p = ctx.Process(target=_count, args=(data, sql, q))
    p.start()
    p.join(TIMEOUT_S)
    if p.is_alive():
        p.kill()
        p.join()
        line = f"{name}\t-1\toracle-timeout-{TIMEOUT_S}s\n"
    else:
        try:
            line = f"{name}\t{q.get(timeout=10)}\tduckdb-oracle\n"
        except queue.Empty:
            line = f"{name}\t-1\toracle-failed-exit-{p.exitcode}\n"
    print(f"{os.path.basename(data)} {name} {time.time() - t0:.1f}s", file=sys.stderr)
    return line


def main(scales):
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build_dir, "expected-work")
    os.makedirs(work, exist_ok=True)
    classpath = run.build(root, build_dir)
    oracle_file = os.path.join(work, "oracle_sql.json")
    java(classpath, work, "oracle", "--out", oracle_file)
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    java(classpath, work, "classify", "--work", work,
         "--data", os.path.join(HERE, "data", "sf0.001"),
         "--out", os.path.join(HERE, "queries", "classification.tsv"))
    names = sorted(oracle)
    for scale in scales:
        data = os.path.join(HERE, "data", scale)
        path = os.path.join(HERE, "expected", f"{scale}.tsv")
        kept = {}
        if os.path.exists(path):
            with open(path) as fh:
                kept = {ln.split("\t")[0]: ln for ln in fh if not ln.startswith("#")}
        with ThreadPoolExecutor(WORKERS) as pool:
            for line in pool.map(lambda n: oracle_count(data, n, oracle[n]), names):
                kept[line.split("\t")[0]] = line
        with open(path, "w") as fh:
            fh.write("# name\trows\tsource (written by perfbench/tools/expected_counts.py)\n")
            fh.writelines(kept[n] for n in sorted(kept))


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.01", "sf0.001"])
