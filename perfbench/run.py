#!/usr/bin/env python3
"""Benchmark of the graft medallion pipeline and its declared queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 5 --trace 0

Builds the program from source (once per checkout), generates the
workload's inputs from the seed, runs the workload in one JVM at
`local[4]`, checks every output against an independent recomputation, and
prints one JSON line as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_trickle", "bulk_reload", "query_mix")
# Every run must end within this many seconds, the build included.
DEADLINE_S = 170
BUILD_DEADLINE_S = 880
JVM_HEAP = "3g"
# C1 only. With the default tiered compiler, C2's background compilation
# finished at different points of each short run, and whole runs came out
# up to 15% faster or slower at random (three runs of one seed: median
# query latency 0.31-0.45 s); with C1 only they agree within 4%. Peak speed is about
# 30% lower; the benchmark gates changes between commits, not peak speed.
JVM_STEADY = ["-XX:TieredStopAtLevel=1"]

END_TO_END = {
    "setup_s": "s", "ok_frac": "frac", "op_gmean_s": "s", "ops_per_min": "1/min",
}
PER_LAYER_UNITS = {
    "wall_s": "s", "busy_s": "s", "driver_s": "s", "jobs": "count",
    "tasks": "count", "task_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "bytes_written": "bytes",
    "files_written": "count",
}
PER_LAYER = {}
for _layer in ("bronze", "silver", "gold"):
    for _m, _u in PER_LAYER_UNITS.items():
        PER_LAYER[f"{_layer}.{_m}"] = _u
PER_LAYER.update({
    "feed.extract_s": "s", "feed.drain_s": "s", "feed.pairs": "count",
    "store.bytes_live": "bytes", "store.files_live": "count",
    "store.bytes_per_input_byte": "ratio",
    "idle.trigger_p50_s": "s", "idle.bytes_written": "bytes",
    "idle.noop_ratio": "ratio",
    "read.silver_s": "s", "read.gold_s": "s", "read.p50_s": "s",
    "load.rows_per_s": "1/s",
    "trigger.count": "count", "trigger.busy_count": "count",
    "trigger.phase_coverage_min": "ratio", "driver_s.min": "s",
})
for _r in ("core", "rel", "llm", "multimodal"):
    PER_LAYER.update({f"query.{_r}.build_s": "s", f"query.{_r}.plan_s": "s",
                      f"query.{_r}.exec_s": "s", f"query.{_r}.jobs": "count",
                      f"query.{_r}.shuffle_bytes": "bytes"})
PER_LAYER.update({"query.p80_s": "s", "query.passes": "count",
                  "unattributed_jobs": "count",
                  "env.calib_before_s": "s", "env.calib_after_s": "s",
                  "traced.setup_s": "s", "traced.op_gmean_s": "s",
                  "traced.ops_per_min": "1/min"})

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at `deadline`
    (a time.monotonic() value). Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sources_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            if "target" in d.split(os.sep):
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(started):
    """Compile the program and the harness with sbt; cache the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    out = os.path.join(HERE, "target", "build.log")
    log("building the program and the harness (sbt)")
    with open(out, "w") as f:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            started + BUILD_DEADLINE_S, cwd=HERE, env=env,
            stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ":" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {code}); see {out}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def generate(workload, seed, stage):
    import gen
    rows = {}

    def note(rel):
        import pyarrow.parquet as pq
        rows[rel] = pq.ParquetFile(os.path.join(stage, rel)).metadata.num_rows

    if workload == "cdc_trickle":
        gen.cdc_base(os.path.join(stage, "base"), gen.BASE_SEED)
        wave, lines = 0, []
        for b, block in enumerate(gen.cdc_schedule(seed)):
            for is_idle in block:
                if is_idle:
                    lines.append(f"0 {b}")
                    continue
                wave += 1
                gen.cdc_wave(os.path.join(stage, "waves"), seed, wave)
                lines.append(f"{wave} {b}")
                for e in ("customer", "lineitem", "orders"):
                    note(f"waves/{e}/w{wave:04d}.parquet")
        with open(os.path.join(stage, "schedule.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    elif workload == "bulk_reload":
        for b in range(gen.BULK_BATCHES + 1):
            gen.bulk_batch(os.path.join(stage, "batches"), seed, b)
            note(f"batches/lineitem/b{b:04d}.parquet")
    else:
        gen.base_tables(os.path.join(stage, "sf"), gen.QUERY_SF, gen.BASE_SEED)
        gen.base_tables(os.path.join(stage, "warm"), gen.WARM_SF,
                        gen.BASE_SEED)
        with open(os.path.join(HERE, "queries.json")) as f:
            names = [q["name"] for q in json.load(f)["queries"]]
        with open(os.path.join(stage, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
    with open(os.path.join(stage, "rows.txt"), "w") as f:
        f.write("".join(f"{k} {v}\n" for k, v in sorted(rows.items())))


def verify(result, work):
    """Check the outputs; returns the number of failed operations they add
    and the failures."""
    import check
    c = result["check"]
    if c["kind"] == "query_mix":
        bad = check.check_queries(c["results"], c["dir"])
        # a query that threw is already counted; its missing result is not
        # counted again
        execs = c["executions"]
        return sum(execs.get(n, 0) for n in bad), \
            [f"{n}: {m}" for n, m in sorted(bad.items())]
    bad = check.check_pipeline(os.path.join(work, "check"), c["src"],
                               c["kind"] == "cdc_trickle")
    # a wrong final state fails every operation of the run
    return (result["attempted"] - result["failed"] if bad else 0), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, "
                         "src/main/scala) are not next to perfbench/")
    cp = build(started)
    deadline = time.monotonic() + DEADLINE_S

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    stage = os.path.join(work, "stage")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.monotonic()
    generate(a.workload, a.seed, stage)
    log(f"inputs generated in {time.monotonic() - t0:.1f}s")

    t0 = time.monotonic()
    jvm_log = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *JVM_STEADY, *JDK_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
    with open(jvm_log, "w") as f:
        code = run_bounded(cmd, deadline - 15, cwd=ROOT, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"perfbench: the workload run failed (exit {code}); "
                         f"see {jvm_log}")
    with open(result_file) as f:
        result = json.load(f)
    for e in result["errors"]:
        log(f"failed: {e}")
    if a.trace:
        log(f"calibration probe: {result['calib']['before_s']:.3f}s before, "
            f"{result['calib']['after_s']:.3f}s after")

    log(f"workload ran in {time.monotonic() - t0:.1f}s")
    t0 = time.monotonic()
    added, bad = verify(result, work)
    log(f"outputs checked in {time.monotonic() - t0:.1f}s")
    for b in bad:
        log(f"wrong output: {b}")
    attempted = result["attempted"]
    failed = min(attempted, result["failed"] + added)
    if a.trace:
        values = {k: result["per_layer"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = dict(result["end_to_end"])
        values["ok_frac"] = 1.0 - failed / attempted
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
