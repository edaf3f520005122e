#!/usr/bin/env python3
"""Where a JVM spent its CPU: a summary of a JFR recording's execution samples.

    tools/jfr_top.py <recording.jfr> [--thread REGEX] [--from-ms T --to-ms T]
                     [--top N]

Runs `jfr print --events jdk.ExecutionSample` on the recording and prints
  - samples per thread group (thread names with every UUID replaced by
    `<uuid>` and every other number by `#`, so the executor's task threads,
    and the streaming queries' execution threads, fold into one group each),
  - the top self frames (the method on top of each sampled stack),
  - the top inclusive frames (a method counted once per sample whose
    stack holds it anywhere in its first STACK_DEPTH frames).
--thread keeps samples of threads whose name matches REGEX (re.search).
--from-ms / --to-ms keep samples inside a wall-clock window, in epoch
milliseconds.

Profiling a benchmark run, without changing perfbench/: build the
harness classpath once (any plain run does it and caches it under
perfbench/.work), then start the run with a flight recording:

    python3 perfbench/run.py --workload events --seed 1 --seconds 8 --trace 0
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=settings=profile,filename=/tmp/ev.jfr \\
        python3 perfbench/run.py --workload events --seed 1 --seconds 8 --trace 0
    tools/jfr_top.py /tmp/ev.jfr --from-ms <first timed op> --thread 'Executor task'

The cached classpath matters: with an empty cache the recording would also
cover the sbt build. The timed part of a run starts at the epoch-ms stamp
in its result file's name (perfbench/.work/results/<workload>-seed<N>-
trace<T>-<ms>.json) plus 1000 x the file's end_to_end.setup_wall_s; it
ends before the run's closing correctness checks.
"""
import argparse
import collections
import datetime
import os
import re
import signal
import subprocess
import sys

STACK_DEPTH = 256  # deeper than Spark's task and query-execution stacks


def _utc_env():
    env = dict(os.environ, TZ="UTC")
    env.pop("JAVA_TOOL_OPTIONS", None)  # never record the jfr tool itself
    return env


def recording_start(path):
    """The recording's start as a UTC datetime, from `jfr summary`."""
    out = subprocess.run(["jfr", "summary", path], capture_output=True, text=True,
                         check=True, env=_utc_env()).stdout
    m = re.search(r"^\s*Start:\s*(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d)", out, re.M)
    if not m:
        sys.exit(f"jfr_top: no start time in `jfr summary {path}`")
    return datetime.datetime.strptime(m.group(1), "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=datetime.timezone.utc)


def samples(path):
    """Yield (epoch_ms, thread name, [frames, top first]) per sample.

    `jfr print` writes times of day; the date comes from the recording's
    start, moved on a day whenever the time of day runs backwards.
    """
    day = recording_start(path).date()
    last = None
    proc = subprocess.Popen(
        ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(STACK_DEPTH), path],
        stdout=subprocess.PIPE, text=True, env=_utc_env())
    ts, thread, frames, in_stack = None, None, [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            ts, thread, frames, in_stack = None, "?", [], False
        elif s.startswith("startTime = "):
            m = re.match(r"startTime = (\d\d):(\d\d):(\d\d)\.(\d+)(?: \((\d{4}-\d\d-\d\d)\))?", s)
            if m.group(5):
                day = datetime.date.fromisoformat(m.group(5))
            t = datetime.time(int(m.group(1)), int(m.group(2)), int(m.group(3)),
                              int(m.group(4)[:6].ljust(6, "0")))
            if not m.group(5) and last is not None and t < last:
                day += datetime.timedelta(days=1)
            last = t
            ts = datetime.datetime.combine(day, t, datetime.timezone.utc).timestamp() * 1000
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s[len("sampledThread = "):]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(re.sub(r"\s+line: \d+.*$", "", s))
        elif s == "}" and ts is not None:
            yield ts, thread, frames
            ts = None
    if proc.wait() != 0:
        sys.exit(f"jfr_top: `jfr print` failed on {path}")


UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def thread_group(name):
    return re.sub(r"\d+", "#", UUID.sub("<uuid>", name))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", help="keep threads whose name matches this regex")
    ap.add_argument("--from-ms", type=float, help="window start, epoch ms")
    ap.add_argument("--to-ms", type=float, help="window end, epoch ms")
    ap.add_argument("--top", type=int, default=25, help="frames listed per table")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    keep = re.compile(a.thread) if a.thread else None

    groups = collections.Counter()
    self_frames = collections.Counter()
    incl_frames = collections.Counter()
    n = 0
    for ts, thread, frames in samples(a.recording):
        if a.from_ms is not None and ts < a.from_ms:
            continue
        if a.to_ms is not None and ts > a.to_ms:
            continue
        if keep and not keep.search(thread):
            continue
        n += 1
        groups[thread_group(thread)] += 1
        if frames:
            self_frames[frames[0]] += 1
        for f in set(frames):
            incl_frames[f] += 1

    print(f"samples: {n}")
    for title, counts, limit in (("thread group", groups, None),
                                 ("self frame", self_frames, a.top),
                                 ("inclusive frame", incl_frames, a.top)):
        print(f"\n{'samples':>8} {'share':>6}  {title}")
        for key, c in counts.most_common(limit):
            print(f"{c:8d} {c / max(n, 1):6.1%}  {key}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
