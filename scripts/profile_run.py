#!/usr/bin/env python3
"""One perfbench run with a Spark event log and a JFR process-start recording.

Usage (from the root of a checkout):

    python3 scripts/profile_run.py --workload index_build --seed 901 \
        [--seconds 16] [--trace 1] [--keep <dir>]

Runs `perfbench/run.py` unchanged. The benchmark JVM gets, through
`JAVA_TOOL_OPTIONS`, an uncompressed single-file Spark event log and a JFR
recording of `jdk.ProcessStart` events only. The harness is built first
without them, so sbt does not inherit them; `perfbench/run.py` then finds it
up to date.

Prints, per op kind: the ops, and per op the Spark jobs, the job time (wall
time with at least one job running), the summed job time (each job's own
time, added up: above the job time by as much as jobs overlapped), the driver
time between the op's first job start and last job end with no job running,
and the process starts, with `chmod` ones apart. Jobs are attributed through the
`graftbench.op` local property that a `--trace 1` run sets on its staged
ops (`c<cycle>.<kind><n>`, counted under `<kind>`). Jobs without it (setup,
warm-up, the untraced pass of a `--trace 1` run, all of a `--trace 0` run)
are summed per call site instead: the harness method and the outermost
graft entry point on the job's stack, such as `IndexBuild.window:
IndexPipeline.buildFromFile`. A process start is attributed by time, to the
op or call site of the last job submitted before it. The event log and the
recording are kept under `--keep`, else in a temporary dir that is removed.
"""
import argparse
import bisect
import collections
import datetime
import glob
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OP_KEY = "graftbench.op"

JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="process starts">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def clean_env():
    env = dict(os.environ)
    env.pop("JAVA_TOOL_OPTIONS", None)
    return env


def build_harness():
    """perfbench's own build step, run without the profiling options."""
    spec = importlib.util.spec_from_file_location("perfbench_run",
                                                  os.path.join(ROOT, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    saved = os.environ.pop("JAVA_TOOL_OPTIONS", None)
    try:
        run.build(time.time() + 840)
    finally:
        if saved is not None:
            os.environ["JAVA_TOOL_OPTIONS"] = saved


def kind_of(op):
    """`c0.append1` -> `append`; `aux.fresh_search` stays as it is."""
    return re.sub(r"\d+$", "", re.sub(r"^c\d+\.", "", op))


FRAME = re.compile(r"^(graft(?:bench)?)\.([\w.$]+?)\$?\.([\w$]+)\(")


def call_site(details):
    """`IndexBuild.window: IndexPipeline.buildFromFile` from a stage's stack."""
    harness, entry = "", ""
    for line in details.splitlines():
        m = FRAME.match(line.strip())
        if not m or "$anonfun" in m.group(3) or "$lifted" in m.group(3):
            continue
        name = f"{m.group(2).split('.')[-1]}.{m.group(3)}"
        if m.group(1) == "graft":
            entry = name
        elif m.group(2) != "Main":
            harness = name
    return f"{harness or '?'}: {entry or '?'}"


def jobs_of(event_log):
    """[(submit_ms, end_ms, op)] of every job in the event log; `op` is the
    graftbench.op property, else `(untraced) <call site>`: the job's own, or
    for a job a query submits from a pool thread (an adaptive query stage,
    a broadcast) that of its SQL execution."""
    start, end, execs = {}, {}, {}
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"].endswith("SparkListenerSQLExecutionStart"):
                execs[str(e["executionId"])] = e.get("details", "")
            elif e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                op = props.get(OP_KEY)
                if not op:
                    stages = e.get("Stage Infos") or [{}]
                    site = call_site(stages[-1].get("Details", ""))
                    for key in ("spark.sql.execution.id", "spark.sql.execution.root.id"):
                        if site == "?: ?" and props.get(key) in execs:
                            site = call_site(execs[props[key]])
                    op = "(untraced) " + site
                start[e["Job ID"]] = (e["Submission Time"], op)
            elif e["Event"] == "SparkListenerJobEnd":
                end[e["Job ID"]] = e["Completion Time"]
    return sorted((t, end.get(j, t), op) for j, (t, op) in start.items())


def process_starts(jfr_file):
    """[(epoch_ms, command)] of the recorded process starts."""
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
                         env=clean_env(), stdout=subprocess.PIPE, check=True, text=True).stdout
    starts = []
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        t = datetime.datetime.fromisoformat(re.sub(r"(\.\d{6})\d+", r"\1", v["startTime"]))
        starts.append((t.timestamp() * 1000.0, v.get("command") or ""))
    return sorted(starts)


def covered(intervals):
    """Total length of the union of [a, b] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


def is_chmod(cmd):
    return os.path.basename(cmd.split(" ")[0]) == "chmod"


def report(jobs, starts):
    by_op = collections.defaultdict(list)
    for t, e, op in jobs:
        by_op[op].append((t, e))
    # process starts per op (or untraced call site); None before any job
    procs, chmods = collections.Counter(), collections.Counter()
    submits = [t for t, _, _ in jobs]
    for t, cmd in starts:
        i = bisect.bisect_right(submits, t) - 1
        op = jobs[i][2] if i >= 0 else None
        procs[op] += 1
        chmods[op] += is_chmod(cmd)
    kinds = collections.OrderedDict()
    for op, ivs in sorted(by_op.items(), key=lambda kv: min(kv[1])):
        untraced = op.startswith("(untraced)")
        k = kinds.setdefault(op if untraced else kind_of(op), collections.Counter())
        busy = covered(ivs)
        k["ops"] += 0 if untraced else 1
        k["jobs"] += len(ivs)
        k["job_ms"] += busy
        k["sum_ms"] += sum(e - t for t, e in ivs)
        k["gap_ms"] += 0 if untraced else max(e for _, e in ivs) - min(t for t, _ in ivs) - busy
        k["procs"] += procs[op]
        k["chmods"] += chmods[op]
    cols = f"{'jobs':>8} {'job ms':>10} {'sum ms':>10} {'driver ms':>10} {'procs':>7} {'chmod':>7}"
    print(f"per op{'':<36} {'ops':>4} {cols}")
    for name, k in kinds.items():
        if k["ops"]:
            n = k["ops"]
            print(f"{name:<42} {n:>4} {k['jobs'] / n:>8.1f} {k['job_ms'] / n:>10.1f} "
                  f"{k['sum_ms'] / n:>10.1f} {k['gap_ms'] / n:>10.1f} "
                  f"{k['procs'] / n:>7.1f} {k['chmods'] / n:>7.1f}")
    print(f"in all, jobs without an op{'':<21} {'jobs':>8} {'job ms':>10} {'sum ms':>10} "
          f"{'':>10} {'procs':>7} {'chmod':>7}")
    for name, k in kinds.items():
        if not k["ops"]:
            print(f"{name[len('(untraced) '):][:47]:<47} {k['jobs']:>8} {k['job_ms']:>10.1f} "
                  f"{k['sum_ms']:>10.1f} {'':>10} {k['procs']:>7} {k['chmods']:>7}")
    print(f"process starts before the first job: {procs[None]} ({chmods[None]} chmod); "
          f"in all: {len(starts)} ({sum(is_chmod(c) for _, c in starts)} chmod)")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=1)
    ap.add_argument("--keep", help="keep the event log and the recording in this dir")
    args = ap.parse_args()

    build_harness()
    out = os.path.abspath(args.keep) if args.keep else tempfile.mkdtemp(prefix="graft-profile-")
    events = os.path.join(out, "events")
    os.makedirs(events, exist_ok=True)
    jfc = os.path.join(out, "process.jfc")
    jfr = os.path.join(out, "process.jfr")
    with open(jfc, "w") as f:
        f.write(JFC)
    env = clean_env()
    env["JAVA_TOOL_OPTIONS"] = " ".join([
        "-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir=file:{events}",
        "-Dspark.eventLog.compress=false", "-Dspark.eventLog.rolling.enabled=false",
        f"-XX:StartFlightRecording=filename={jfr},settings={jfc},dumponexit=true"])
    try:
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            sys.exit(f"perfbench/run.py failed with code {proc.returncode}")
        print(proc.stdout.strip().splitlines()[-1])
        logs = [p for p in glob.glob(os.path.join(events, "*")) if os.path.isfile(p)]
        if len(logs) != 1 or not os.path.exists(jfr):
            sys.exit(f"expected one event log and a recording under {out}")
        report(jobs_of(logs[0]), process_starts(jfr))
    finally:
        if not args.keep:
            shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
