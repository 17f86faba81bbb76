#!/usr/bin/env python3
"""Where the driver spends a benchmark run's timed operation, from a JFR recording.

    python3 scripts/driver_profile.py <recording.jfr> <harness-stderr>

Record the run with the JDK's flight recorder; perfbench passes the
options through to its JVM unchanged:

    JDK_JAVA_OPTIONS="-XX:FlightRecorderOptions:stackdepth=1024 \\
      -XX:StartFlightRecording=filename=run.jfr,settings=profile" \\
      python3 perfbench/run.py --workload medallion_refresh --seed 301 \\
      --seconds 1 --trace 0 2> run.err

The timed operation's window is found from the recording's JVM start time
(`jdk.JVMInformation`) and two lines of the harness's stderr: `session
ready <s> s after JVM start` anchors the harness clock, and `op 0 <kind>
<ms> ms` ends the window and gives its length (both lines carry the
harness clock, to 0.1 s). Inside the window the on-CPU samples
(`jdk.ExecutionSample`) of the driver threads (`main`,
`scala-execution-context-global-*`) are counted two ways: by graft call
chain (the innermost graft frames of the stack) and by phase (the first of
fork, parquet, codegen, constraints, analyzer, optimizer that any frame
belongs to, else other). `jdk.ProcessStart` events are counted by call
site: the innermost frame outside the JDK and Hadoop's shell and
filesystem classes, with the command that was started.

Needs the JDK's `jfr` tool on the PATH. Exit code 0 on success, 2 when the
stderr file or the recording lacks what the window needs.
"""
import collections
import datetime
import os
import re
import subprocess
import sys

EVENTS = "jdk.JVMInformation,jdk.ExecutionSample,jdk.ProcessStart"
CHAIN_DEPTH = 4
TOP = 15

# checked in order; the first phase any frame of the stack belongs to wins
PHASES = (
    ("fork", ("java.lang.ProcessImpl.", "java.lang.ProcessBuilder.start",
              "org.apache.hadoop.util.Shell")),
    ("parquet", ("org.apache.parquet.", ".datasources.parquet.")),
    ("codegen", (".expressions.codegen.", "org.codehaus.janino.",
                 "org.codehaus.commons.compiler.")),
    ("constraints", (".plans.logical.QueryPlanConstraints",
                     ".plans.logical.ConstraintHelper")),
    ("analyzer", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",)),
)

# frames skipped when naming the call site of a process start
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.",
            "org.apache.hadoop.fs.")

TIME = re.compile(r"(\d\d):(\d\d):(\d\d)(?:\.(\d+))?(?: \((\d{4})-(\d\d)-(\d\d)\))?")
FRAME = re.compile(r"^\s+([^\s(]+)\(.*?\)(?:\s+line: (\d+))?")
READY = re.compile(r"perfbench \[\s*([\d.]+) s\] session ready ([\d.]+) s after JVM start")
OP = re.compile(r"perfbench \[\s*([\d.]+) s\] op 0 (\S+) ([\d.]+) ms")


def fail(msg):
    print(f"driver_profile: {msg}", file=sys.stderr)
    sys.exit(2)


def timestamp(text, today):
    """Seconds since the epoch of `jfr print`'s `HH:MM:SS.mmm [(date)]`.

    `jfr print` leaves out the date of a time on the day it prints, so a
    time without one is taken as today (the printer runs with TZ=UTC).
    """
    m = TIME.search(text)
    if not m:
        return None
    h, mi, s, frac, y, mo, d = m.groups()
    day = datetime.date(int(y), int(mo), int(d)) if y else today
    base = datetime.datetime(day.year, day.month, day.day,
                             tzinfo=datetime.timezone.utc).timestamp()
    return base + int(h) * 3600 + int(mi) * 60 + int(s) + float("0." + (frac or "0"))


def events(recording):
    """Yield (type, fields, frames) per event, streaming `jfr print`."""
    env = dict(os.environ, TZ="UTC")
    proc = subprocess.Popen(
        ["jfr", "print", "--stack-depth", "1024", "--events", EVENTS, recording],
        stdout=subprocess.PIPE, text=True, env=env)
    kind, fields, frames, in_stack = None, {}, [], False
    for line in proc.stdout:
        line = line.rstrip("\n")
        if kind is None:
            if line.endswith(" {") and not line.startswith(" "):
                kind, fields, frames, in_stack = line[:-2], {}, [], False
            continue
        if line == "}":
            yield kind, fields, frames
            kind = None
        elif in_stack:
            if line.strip() == "]":
                in_stack = False
            else:
                m = FRAME.match(line)
                if m:
                    frames.append((m.group(1), m.group(2)))
        elif line.startswith("  stackTrace = ["):
            in_stack = True
        elif line.startswith("  ") and " = " in line:
            key, value = line.strip().split(" = ", 1)
            fields[key] = value
    if proc.wait() != 0:
        fail(f"jfr print failed on {recording}")


def window(stderr_path):
    """(kind, op_ms, start, end) of op 0, in seconds after JVM start."""
    ready = op = None
    with open(stderr_path, errors="replace") as f:
        for line in f:
            ready = ready or READY.search(line)
            op = op or OP.search(line)
    if not ready or not op:
        fail(f"{stderr_path} lacks the 'session ready' or 'op 0' line")
    end = float(ready.group(2)) + float(op.group(1)) - float(ready.group(1))
    ms = float(op.group(3))
    return op.group(2), ms, end - ms / 1e3, end


def short(frame):
    name, line = frame
    cls, _, method = name.rpartition(".")
    cls = cls.rsplit(".", 1)[-1].rstrip("$")
    return f"{cls}.{method}" + (f":{line}" if line else "")


def driver_thread(thread):
    name = thread.split('"')[1] if thread.startswith('"') else thread
    return name == "main" or name.startswith("scala-execution-context-global")


def phase(frames):
    for name, needles in PHASES:
        if any(n in f[0] for f in frames for n in needles):
            return name
    return "other"


def chain(frames):
    graft = [short(f) for f in frames if f[0].startswith("graft.")]
    if not graft:
        return "(no graft frame)"
    inner = list(reversed(graft[:CHAIN_DEPTH]))
    return ("… > " if len(graft) > CHAIN_DEPTH else "") + " > ".join(inner)


def call_site(frames):
    site = next((short(f) for f in frames if not f[0].startswith(PLUMBING)), "(JDK only)")
    graft = next((short(f) for f in frames if f[0].startswith("graft.")), None)
    return site + (f" [graft: {graft}]" if graft else "")


def table(title, counts, total):
    if not counts:
        return
    print(f"\n{title}")
    for key, n in counts.most_common(TOP):
        print(f"  {n:6d} {100.0 * n / max(total, 1):5.1f}%  {key}")
    rest = sum(counts.values()) - sum(n for _, n in counts.most_common(TOP))
    if rest:
        print(f"  {rest:6d} {100.0 * rest / max(total, 1):5.1f}%  (the rest)")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    recording, stderr_path = argv[1:]
    kind, op_ms, lo, hi = window(stderr_path)
    today = datetime.datetime.now(datetime.timezone.utc).date()
    jvm_start = None
    samples = []  # (time, thread, phase, chain) of driver-thread samples
    forks = []    # (time, command, call site) of process starts
    for etype, fields, frames in events(recording):
        if etype == "jdk.JVMInformation" and jvm_start is None:
            jvm_start = timestamp(fields.get("jvmStartTime", ""), today)
        elif etype == "jdk.ExecutionSample":
            thread = fields.get("sampledThread", "")
            if driver_thread(thread):
                samples.append((timestamp(fields["startTime"], today),
                                thread.split('"')[1], phase(frames), chain(frames)))
        elif etype == "jdk.ProcessStart":
            command = fields.get("command", "").strip('"').split(" ")[0]
            forks.append((timestamp(fields["startTime"], today),
                          os.path.basename(command), call_site(frames)))
    if jvm_start is None:
        fail(f"{recording} has no jdk.JVMInformation event")

    inside = [s for s in samples if lo <= s[0] - jvm_start <= hi]
    threads = collections.Counter(s[1] for s in inside)
    print(f"op 0 {kind}: {op_ms:.1f} ms, {lo:.1f}-{hi:.1f} s after JVM start")
    print(f"driver on-CPU samples in the window: {len(inside)} "
          f"(of {len(samples)} in the recording; "
          + ", ".join(f"{t} {n}" for t, n in threads.most_common()) + ")")
    table("by phase:", collections.Counter(s[2] for s in inside), len(inside))
    table(f"by graft call chain (innermost {CHAIN_DEPTH} graft frames, outermost first):",
          collections.Counter(s[3] for s in inside), len(inside))

    forks_in = [f for f in forks if lo <= f[0] - jvm_start <= hi]
    print(f"\nprocess starts in the window: {len(forks_in)} (of {len(forks)} in the recording)")
    table("by call site:", collections.Counter(f"{f[1]} <- {f[2]}" for f in forks_in),
          len(forks_in))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
