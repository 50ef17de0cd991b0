#!/usr/bin/env python3
"""graft end-to-end benchmark: index_build and serve_topk.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <index_build|serve_topk> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the library sources of the checkout
(sbt, only when a source changed), runs one workload in a fresh JVM and
prints a human-readable report followed, on the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end figures; with --trace 1 the per-layer figures
of a staged, traced pass. The full result (every figure with its sample
count, failures, input fingerprint, host, span tree) is written to
.bench_build/perfbench/last-<workload>-<seed>-trace<t>.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

# The figures the last line carries, per mode, and the workloads.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = [m["name"] for m in _BENCH["end_to_end"]]
PER_LAYER = [m["name"] for m in _BENCH["per_layer"]]
WORKLOADS = [w["name"] for w in _BENCH["workloads"]]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(LIB, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return files


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the install that `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("no Spark install found: set SPARK_HOME")
    return home


def build(deadline):
    """Compile the harness and the library when any source changed."""
    want = digest()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return False
    log("building (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=max(60, deadline - time.time()))
    if proc.returncode != 0:
        sys.exit(f"build failed with code {proc.returncode}")
    with open(STAMP, "w") as f:
        f.write(want)
    return True


def java_cmd(args, work, out):
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # ParallelGC: no concurrent collector threads competing with the four
    # task threads, which keeps run-to-run latency noise at a few percent
    return (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens
            + ["-cp", cp, "graftbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--out", out])


def number(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool) and math.isfinite(x)


def report(res):
    """Human-readable lines: every figure with its unit and sample count."""
    lines = [f"workload {res['workload']} seed {res['seed']} "
             f"fingerprint {json.dumps(res['fingerprint'], sort_keys=True)}",
             f"host {json.dumps(res['host'], sort_keys=True)}"]
    for f in res.get("figures", []):
        pct = f" (p{f['pct']})" if "pct" in f else ""
        lines.append(f"  {f['name']:<24} {f['value']:>14.6g} {f['unit']:<6} "
                     f"n={f['samples']}{pct}")
    for name, m in sorted(res.get("per_layer", {}).items()):
        lines.append(f"  {name:<36} {m['value']:>14.6g} {m['unit']}")
    for fl in res.get("failures", []):
        lines.append(f"  FAILED {fl['op']} [{fl['kind']}]: {fl['reason']}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(LIB, "graft")):
        sys.exit(f"no library sources under {LIB}: run from the root of a graft checkout")
    built = build(start + 840)
    deadline = start + (880 if built else 175)

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        proc = subprocess.Popen(java_cmd(args, work, out), cwd=work,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("benchmark JVM timed out")
        if code != 0 or not os.path.exists(out):
            sys.exit(f"benchmark JVM failed with code {code}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["host"]["source_digest"] = digest()
    keep = os.path.join(OUT, f"last-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(keep, "w") as f:
        json.dump(res, f, indent=1)

    if args.trace:
        metrics = {n: res["per_layer"][n] for n in PER_LAYER}
    else:
        figs = {f["name"]: f for f in res["figures"]}
        metrics = {n: {"value": figs[n]["value"], "unit": figs[n]["unit"]} for n in END_TO_END}
    bad = [n for n, m in metrics.items() if not number(m["value"])]
    if bad:
        sys.exit(f"unmeasured figures: {bad}")
    log(f"{args.workload} seed {args.seed}: {time.time() - start:.1f}s wall")
    print(report(res))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
