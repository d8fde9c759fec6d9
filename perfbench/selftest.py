#!/usr/bin/env python3
"""Self-tests of the benchmark's generator, checker and job attribution.

Usage, from the root of a checkout:

    python3 perfbench/selftest.py

1. The generator: the same seed gives byte-identical staged inputs, and a
   different seed gives different wave keys.
2. Attribution: a short traced `cdc_trickle` run (runner concurrency 3,
   AQE on) leaves no Spark job unattributed, no layer with negative
   driver time, and its three phases account for every trigger's wall
   time to within 5%. A short traced `query_mix` run leaves no job
   unattributed either.
3. The checker: it accepts the outputs of those runs, and flags a copy of
   the gold mart with one value changed and a copy of a query result with
   one value changed.
Exits 1 on the first failed test.
"""
import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")


def fail(msg):
    print(f"FAIL {msg}")
    sys.exit(1)


def ok(msg):
    print(f"ok   {msg}")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator():
    for w in run.WORKLOADS:
        dirs = [os.path.join(SCRATCH, f"{w}-{k}") for k in ("a", "b")]
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
            run.generate(w, 7, d)
        if not same_tree(*dirs):
            fail(f"{w}: seed 7 twice gave different staged inputs")
    ok("same seed, byte-identical staged inputs (all workloads)")
    keys = []
    for seed in (7, 8):
        d = os.path.join(SCRATCH, f"waves-{seed}")
        shutil.rmtree(d, ignore_errors=True)
        gen.cdc_wave(d, seed, 1)
        keys.append(set(pq.read_table(f"{d}/orders/w0001.parquet")
                        .column("o_orderkey").to_pylist()))
    if keys[0] == keys[1]:
        fail("seeds 7 and 8 gave the same wave keys")
    ok(f"different seed, different wave keys "
       f"({len(keys[0] & keys[1])} of {len(keys[0])} shared)")


def traced(workload, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", "3",
                        "--seconds", str(seconds), "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"traced {workload} run exited {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"] or out["failed"]:
        fail(f"traced {workload} run reported wrong or failed operations")
    return {k: v["value"] for k, v in out["metrics"].items()}


def test_attribution():
    m = traced("cdc_trickle", 5)
    if m["unattributed_jobs"] != 0:
        fail(f"cdc_trickle: {m['unattributed_jobs']} unattributed jobs")
    if m["driver_s.min"] < 0:
        fail(f"cdc_trickle: negative driver time {m['driver_s.min']}")
    if not 0.95 <= m["trigger.phase_coverage_min"] <= 1.0:
        fail(f"cdc_trickle: phases cover {m['trigger.phase_coverage_min']:.3f} "
             "of a trigger")
    ok(f"cdc_trickle: 0 unattributed jobs, driver_s >= 0, phases cover "
       f">= {m['trigger.phase_coverage_min']:.3f} of every trigger")
    m = traced("query_mix", 1)
    if m["unattributed_jobs"] != 0:
        fail(f"query_mix: {m['unattributed_jobs']} unattributed jobs")
    ok("query_mix: 0 unattributed jobs")


def corrupt_copy(src_dir, dst_dir, column):
    """Copy a parquet result directory with one value of `column` changed."""
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir)
    df = check.load_dir(src_dir)
    if pd.api.types.is_numeric_dtype(df[column]):
        df.loc[0, column] = df.loc[0, column] + 1
    else:
        df.loc[0, column] = str(df.loc[0, column]) + "x"
    df.to_parquet(os.path.join(dst_dir, "part-0.parquet"), index=False)


def test_checker():
    work = os.path.join(HERE, ".work", "cdc_trickle")
    src = glob.glob(os.path.join(work, "pipe*/src"))
    src = sorted(src)[-1]
    checked = os.path.join(work, "check")
    if check.check_pipeline(checked, src, cdc=True):
        fail("the checker rejects a correct pipeline state")
    bad = os.path.join(SCRATCH, "check")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(checked, bad)
    corrupt_copy(os.path.join(checked, "gold_orders"),
                 os.path.join(bad, "gold_orders"), "o_totalprice")
    if not check.check_pipeline(bad, src, cdc=True):
        fail("the checker accepts a corrupted gold mart")
    ok("checker flags a corrupted gold mart")

    qwork = os.path.join(HERE, ".work", "query_mix")
    results = os.path.join(qwork, "check", "q")
    tables = os.path.join(qwork, "stage", "sf")
    if check.check_queries(results, tables):
        fail("the checker rejects correct query results")
    badq = os.path.join(SCRATCH, "q")
    shutil.rmtree(badq, ignore_errors=True)
    shutil.copytree(results, badq)
    name = "q1_agg"
    corrupt_copy(os.path.join(results, name), os.path.join(badq, name),
                 "sum_qty")
    flagged = check.check_queries(badq, tables)
    if list(flagged) != [name]:
        fail(f"the checker flagged {sorted(flagged)} instead of [{name}]")
    ok(f"checker flags a corrupted result of {name} and nothing else")


if __name__ == "__main__":
    os.makedirs(SCRATCH, exist_ok=True)
    test_generator()
    test_attribution()
    test_checker()
    print("all self-tests passed")
