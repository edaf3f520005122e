#!/usr/bin/env python3
"""The graft benchmark: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload analytics|events \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (an sbt
project in this directory that depends on the root project) and caches
its classpath under perfbench/.work; later runs start the JVM directly.
Each run then:

1. generates its inputs from --seed (analytics: the parquet tables;
   events: the harness writes the producer payload itself),
2. starts Spark at local[nproc] with a fixed heap, clean local and
   checkpoint directories, and graft's planner extensions installed,
3. warms up, measures for --seconds, and checks every output
   (analytics: the DuckDB oracle of tools/oracle_check.py; events:
   LocalPipelineMain's conservation laws),
4. prints the end-to-end metrics (--trace 0) or the per-layer metrics
   from Spark's listeners and the harness's spans (--trace 1) as the
   last stdout line, and keeps the full result, with its environment
   stamp, under perfbench/.work/results for compare.py.

Exit status is non-zero, with no result line, when the build or the run
fails.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)  # metric names and units
HEAP = "3g"
# input scale of the batch tables (lineitem = 6M x SF rows)
SF = 0.01

# The batch query list is fixed here, not derived from the registry, so
# a query added to the registry later does not change the workload.
ANALYTICS = """
ep_parse_route_valid q1_pricing_summary q3_shipping_priority
q6_forecast_revenue q_asof_join_custom q_range_join_custom q_topk_per_key
""".split()
# Batch runs make WARMUPS untimed passes, then round(seconds /
# NOMINAL_PASS_S) timed ones: a count that scales with --seconds but not
# with the machine's speed.
WARMUPS = 3
NOMINAL_PASS_S = 1.6
# backlog events and files (one processor micro-batch each), untimed
# drains of that backlog per run, open-loop rate (events/s, well below
# what the processor drains), feeder tick (ms), and the open-loop windows
# whose median tail latency is reported. Events runs then make
# round(seconds / NOMINAL_DRAIN_S) timed drains, and traced ones feed the
# open loop for --seconds.
EVENTS = {"backlog": 8000, "files": 4, "warmups": 1, "rate": 500,
          "tick_ms": 100, "windows": 4}
NOMINAL_DRAIN_S = 2.7
WORKLOADS = ("analytics", "events")

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_process(cmd, cwd, log_path, timeout):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout kill the whole group. Returns the exit code, or "timeout".
    Waits until the process has ended either way."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def classpath():
    """The harness classpath, building first when sources are newer than
    the cached one."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for p in sources:
        if not os.path.exists(p):
            raise SystemExit(f"[perfbench] not a graft checkout: {p} is missing")
    cached = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cached) and os.path.getmtime(cached) >= _newest_mtime(sources):
        return open(cached).read().strip()
    log("building the harness (sbt)")
    build_log = os.path.join(WORK, "build.log")
    os.makedirs(WORK, exist_ok=True)
    rc = run_process(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "export perfbench/Runtime/fullClasspath"], HERE, build_log, 850)
    out = open(build_log).read()
    lines = out.strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"[perfbench] build failed ({rc})")
    with open(cached, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def oracle_failures(data_dir, out_dir):
    """Queries whose dumped output is missing, has no oracle, or fails
    tools/oracle_check.py's compare: {name: reason}."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = {}
    for name in json.load(open(os.path.join(out_dir, "manifest.json"))):
        files = sorted(f for f in os.listdir(os.path.join(out_dir, name))
                       if f.endswith(".parquet")) if os.path.isdir(os.path.join(out_dir, name)) else []
        if not files:
            bad[name] = "no output"
            continue
        got = pd.concat([pq.read_table(os.path.join(out_dir, name, f)).to_pandas()
                         for f in files], ignore_index=True)
        if name not in sqls:
            bad[name] = "no oracle"
            continue
        try:
            want = con.sql(sqls[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"duckdb error: {e}"
            continue
        problems = oc.frames_equal(oc.canon(got), oc.canon(want))
        if problems:
            bad[name] = "; ".join(problems)
    return bad


def cpu_times():
    """The machine's cumulative CPU time split (/proc/stat `cpu` line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap, not pre-touched, so peak RSS counts the heap pages the
    # program's allocation touched plus native memory; a fixed set of JIT
    # compiler threads, so that Harness.cpuS can tell their CPU time apart
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}"] + JVM_OPENS +
           [f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Harness"] + args)
    rc = run_process(cmd, work, os.path.join(work, "jvm.log"), timeout)
    if rc != 0:
        logs = [os.path.join(work, "jvm.log")] + [
            os.path.join(work, f) for f in os.listdir(work) if f.startswith("hs_err")]
        for path in logs:
            with open(path) as f:
                sys.stderr.write(f"--- {os.path.basename(path)}\n" + f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness JVM failed ({rc})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()

    cp = classpath()
    # the run proper (after any build) must end within 180 s
    deadline = time.time() + 160.0
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    cpu_t0 = time.process_time()
    data = os.path.join(work, "data")
    args = ["--workload", a.workload, "--work", work, "--data", data,
            "--out", os.path.join(work, "raw.json"), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.workload == "events":
        drains = max(1, round(a.seconds / NOMINAL_DRAIN_S))
        args += ["--events", ",".join(f"{k}={v}" for k, v in EVENTS.items()) +
                 f",drains={drains}"]
    else:
        import gen
        gen.write(a.seed, SF, data)
        args += ["--queries", ",".join(ANALYTICS),
                 "--warmups", str(WARMUPS),
                 "--passes", str(max(1, round(a.seconds / NOMINAL_PASS_S)))]
    setup_cpu_s = time.process_time() - cpu_t0
    cpu0 = cpu_times()
    run_jvm(cp, args, work, timeout=deadline - time.time())
    cpu = [after - before for before, after in zip(cpu0, cpu_times())]
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)

    if a.workload == "events":
        if "openloop" in raw:
            raw["openloop"].update(windows=EVENTS["windows"],
                                   window_ms=1000.0 * a.seconds / EVENTS["windows"])
        e2e, attempted, failed, violations = metrics.events_metrics(raw)
    else:
        bad = oracle_failures(data, os.path.join(work, "out"))
        bad.update(raw["errors"])
        e2e, attempted, failed = metrics.batch_metrics(raw, bad)
        violations = bad
    ok = metrics.ratio(attempted - failed, attempted)
    e2e.update({"setup_s": setup_cpu_s + raw["first_op_cpu_s"],
                "setup_jit_s": raw["first_op_jit_s"],
                "setup_wall_s": raw["first_op_ms"] / 1000.0 - t0,
                "rss_peak_mb": raw["rss_peak_kb"] / 1024.0,
                "ok_frac": ok["value"]})
    result = {"workload": a.workload, "trace": a.trace,
              "stamp": dict(raw["stamp"], heap=HEAP, sf=SF, events=EVENTS),
              "end_to_end": e2e, "ok_frac_base": ok, "violations": violations,
              # share of the machine's CPU time stolen by the host while the
              # JVM ran: a loaded host reads slow on every timing
              "cpu_steal_frac": metrics.ratio(cpu[7], sum(cpu))}
    if a.trace:
        layers, bases, holds, selfs = metrics.per_layer(raw, e2e)
        result.update(per_layer=layers, ratio_bases=bases, reconciled=holds,
                      self_s=selfs, spans=raw["trace"]["spans"])
        if not holds:
            failed += 1
        shown = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                 for m in SPEC["per_layer"]}
    else:
        shown = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                 for m in SPEC["end_to_end"]}
    result.update(correct=failed == 0, attempted=attempted, failed=failed)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started * 1000)}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    if failed:
        log(f"correctness violations: {json.dumps(violations)[:2000]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
