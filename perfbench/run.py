#!/usr/bin/env python3
"""Feature-store benchmark: one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine and the
harness from source (sbt, once per source tree), runs one workload in
a fresh JVM, prints the workload's metrics by name and unit, and ends
stdout with one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. It exits non-zero
when an output check fails, and refuses to start while an environment
variable that changes what the engine computes is set.

Everything it writes stays under .bench_build/ in the checkout:
the build stamp and classpath, one result file per run (with the
environment record), the traced run's spans, and the JVM's log.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_drain", "serve_mixed")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "registry_sf0.01.json")

# Environment variables the engine reads to change what it computes.
KNOB_PREFIXES = ("SPARK_GRAFT_STREAM_",)
KNOBS = ("SPARK_GRAFT_PLANFULL", "GRAFT_TRI_SAMPLE_MOD", "GRAFT_PMI_OFFSET_FP")

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_LIMIT_S = 170  # the JVM's share of a run; a build, when needed, comes on top


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = [f for f in tops if os.path.isfile(f)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on
    timeout or interrupt, and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(digest):
    """Compile engine + harness with sbt and write the classpath file;
    skipped when the sources have not changed since the last build."""
    stamp = os.path.join(BUILD, "stamp")
    cpfile = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cpfile):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cpfile
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           f"-Dperfbench.cpfile={cpfile}", "compile", "writeClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc, _ = run_group(cmd, 840, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if rc != 0 or not os.path.isfile(cpfile):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (rc={rc}); see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cpfile


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a terminated runner still stops the build or the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--event-rate", type=int, help="serve_mixed only: feed this many events/s "
                    "instead of the workload's rate (for probing which rates the engine sustains)")
    ap.add_argument("--record", help="with --trace 1 on ingest_drain: write the registry "
                    "slice's row counts and hashes to this file")
    a = ap.parse_args()

    knobs = sorted(k for k in os.environ
                   if k in KNOBS or any(k.startswith(p) for p in KNOB_PREFIXES))
    if knobs:
        fail("refusing to run while engine knobs are set: " + ", ".join(knobs))
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 FIXTURE, EXPECTED):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")

    digest = source_digest()
    cpfile = build(digest)
    with open(cpfile) as fh:
        cp = fh.read().strip()

    results = os.path.join(BUILD, "results")
    scratch = os.path.join(BUILD, "scratch", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", results, "--work", os.path.join(scratch, "work"),
            "--fixture", FIXTURE, "--expected", EXPECTED,
            "--commit", commit(), "--source", digest]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.event_rate:
        cmd += ["--event-rate", str(a.event_rate)]
    log = os.path.join(results, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log, "w") as err:
            rc, out = run_group(cmd, RUN_LIMIT_S, cwd=scratch, stdout=subprocess.PIPE,
                                stderr=err, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S}s; see {log}", 4)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out else []
    last = None
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(last, dict) or set(last) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out or "")
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the run printed no result (rc={rc}); see {log}", rc or 5)
    if a.trace == "1":
        lines[-1:-1] = overhead_lines(results, a.workload, a.seed)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(last))
    sys.exit(rc)


def overhead_lines(results, workload, seed):
    """Tracing overhead: each workload metric of this traced run against
    the untraced run of the same workload and seed, when one exists."""
    paths = [os.path.join(results, f"result-{workload}-{seed}-{t}.json") for t in (0, 1)]
    if not all(os.path.isfile(p) for p in paths):
        return ["# tracing overhead: no untraced result for this workload and seed yet"]
    with open(paths[0]) as f0, open(paths[1]) as f1:
        plain, traced = json.load(f0)["named"], json.load(f1)["named"]
    out = ["# tracing overhead (traced / untraced):"]
    for k in sorted(set(plain) & set(traced)):
        a, b = plain[k]["value"], traced[k]["value"]
        ratio = b / a if a else float("nan")
        out.append(f"overhead {k:<24} {a:12.4f} -> {b:12.4f} {plain[k]['unit']} ({ratio:.3f}x)")
    return out


if __name__ == "__main__":
    main()
