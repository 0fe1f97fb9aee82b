#!/usr/bin/env python3
"""Executor-thread lock waits of a JFR recording, grouped by what they
wait for.

Input is the JSON that `jfr print --json` writes. Give it a stack depth
deep enough to reach the callers (the default of 5 frames stops inside
the lock):

    jfr print --json --stack-depth 80 \\
        --events jdk.ExecutionSample,jdk.JavaMonitorWait,jdk.ThreadPark \\
        run.jfr > run.json
    python3 tools/jfr_waits.py run.json

It prints, for `jdk.JavaMonitorWait` and `jdk.ThreadPark` events on
Spark executor threads ("Executor task launch worker ..."):
  - the waits under `CodeGenerator$.compile` (the codegen cache's
    per-key lock), summed by the caller that asked for the generated
    class: the first frame outside `org.apache.spark.sql.catalyst`;
  - the other waits, summed by their innermost frame outside
    `java.`/`jdk.`/`sun.`;
  - the executor threads' `jdk.ExecutionSample` count beside them.
Durations are the recording's, so they count only waits over the
recording's threshold. Diagnosis only: JFR adds overhead of its own.
"""
import json
import re
import sys
from collections import defaultdict

EXECUTOR = "Executor task launch worker"
WAITS = ("jdk.JavaMonitorWait", "jdk.ThreadPark")


def seconds(iso):
    """ISO-8601 duration (PT0.0123S, PT1M2.5S) → seconds."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def frame_name(f):
    m = f.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return "%s.%s" % (cls, m.get("name", "?"))


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    return [frame_name(f) for f in st.get("frames") or []]


def thread(ev):
    v = ev["values"]
    t = v.get("eventThread") or v.get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or ""


def compile_caller(fs):
    """The frame that asked for a compile, or None if `fs` is not
    under `CodeGenerator$.compile`."""
    at = next((i for i, f in enumerate(fs)
               if f.endswith("codegen.CodeGenerator$.compile")), None)
    if at is None:
        return None
    return next((f for f in fs[at + 1:]
                 if not f.startswith("org.apache.spark.sql.catalyst.")), "?")


def main(path):
    with open(path) as fh:
        events = json.load(fh)["recording"]["events"]
    by_caller = defaultdict(lambda: [0, 0.0])
    other = defaultdict(lambda: [0, 0.0])
    samples = 0
    for ev in events:
        if EXECUTOR not in thread(ev):
            continue
        if ev["type"] == "jdk.ExecutionSample":
            samples += 1
            continue
        if ev["type"] not in WAITS:
            continue
        fs = frames(ev)
        d = seconds(ev["values"].get("duration"))
        caller = compile_caller(fs)
        if caller is not None:
            by_caller[caller][0] += 1
            by_caller[caller][1] += d
        else:
            top = next((f for f in fs if not f.startswith(("java.", "jdk.", "sun."))), "?")
            other[top][0] += 1
            other[top][1] += d

    def table(title, rows):
        print(title)
        for name, (n, s) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
            print("  %8.3f s %6d waits  %s" % (s, n, name))

    table("executor waits under CodeGenerator$.compile, by caller:", by_caller)
    table("other executor waits, by innermost non-JDK frame:", other)
    print("executor execution samples: %d" % samples)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
