#!/usr/bin/env python3
"""Summarise and compare benchmark result files (perfbench/.work/results).

    python3 perfbench/compare.py RESULTS...            # one set: spread
    python3 perfbench/compare.py RESULTS... --vs RESULTS...   # A vs B

RESULTS are result files or directories of them. For each workload and
end-to-end metric it prints the untraced runs' median, quartiles and
spread ((q3 - q1) / median) and, with --vs, the second set's median and
its change against the bound BENCHMARK.json fixes. It prints the host's
CPU steal during the runs, which every timing follows, and, where traced
runs are present, the tracing overhead (traced - untraced pass_cpu_s).

Runs are refused unless their environment stamps (nproc, heap, Spark
version, input scale, event sizes) agree, and with --vs unless both sets
ran the same seeds per workload.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def env(stamp):
    return {k: v for k, v in stamp.items() if k != "seed"}


def check_stamps(runs):
    envs = {json.dumps(env(r["stamp"]), sort_keys=True) for r in runs}
    if len(envs) > 1:
        raise SystemExit("refusing to compare runs with different stamps:\n  " +
                         "\n  ".join(sorted(envs)))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summary(runs, metrics):
    """{(workload, metric): [values]} over untraced runs."""
    out = {}
    for r in runs:
        if r["trace"]:
            continue
        for m in metrics:
            out.setdefault((r["workload"], m["name"]), []).append(r["end_to_end"][m["name"]])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", nargs="+")
    ap.add_argument("--vs", nargs="+", default=[])
    a = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    runs_a, runs_b = load(a.a), load(a.vs)
    check_stamps(runs_a + runs_b)
    if runs_b:
        seeds = lambda rs: sorted((r["workload"], r["trace"], r["stamp"]["seed"]) for r in rs)
        if seeds(runs_a) != seeds(runs_b):
            raise SystemExit("refusing to compare: the two sets ran different seeds")
    bad = [r for r in runs_a + runs_b if not r["correct"]]
    for r in bad:
        print(f"INCORRECT {r['workload']} seed {r['stamp']['seed']}: {r['violations']}")
    sa, sb = summary(runs_a, metrics), summary(runs_b, metrics)
    ok = not bad
    print(f"{'workload':10} {'metric':16} {'n':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}" + ("  B median   change" if runs_b else ""))
    for (w, name), xs in sorted(sa.items()):
        m = next(m for m in metrics if m["name"] == name)
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else 0.0
        line = (f"{w:10} {name:16} {len(xs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                f"{spread:7.3f} {m['bound']:6.2g}")
        if name != "setup_s" and spread > m["bound"]:
            line += "  SPREAD>BOUND"
            ok = False
        if runs_b:
            mb = statistics.median(sb[(w, name)])
            change = (mb - med) / med if med else 0.0
            worse = change if m["better"] == "lower" else -change
            line += f" {mb:12.4f} {change:+7.3f}"
            if worse > m["bound"]:
                line += "  WORSE"
                ok = False
        print(line)
    for w in sorted({r["workload"] for r in runs_a + runs_b}):
        for label, rs in (("A", runs_a), ("B", runs_b)):
            steal = [r["cpu_steal_frac"]["value"] for r in rs if r["workload"] == w]
            if steal:
                print(f"{w:10} {label} host CPU steal: median {statistics.median(steal):.3f}, "
                      f"max {max(steal):.3f} (timings follow it)")
    for w in sorted({r["workload"] for r in runs_a if r["trace"]}):
        traced = [r["end_to_end"]["pass_cpu_s"] for r in runs_a if r["trace"] and r["workload"] == w]
        plain = [r["end_to_end"]["pass_cpu_s"] for r in runs_a if not r["trace"] and r["workload"] == w]
        if plain:
            d = statistics.median(traced) - statistics.median(plain)
            print(f"{w:10} tracing overhead: {d:+.4f} CPU s per pass "
                  f"({d / statistics.median(plain):+.3f} of untraced pass_cpu_s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
