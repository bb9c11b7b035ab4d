#!/usr/bin/env python3
"""kggenspark benchmark: build, canon and sweep workloads.

Usage (from the repository root):
  python3 kgbench/run.py --workload build|canon|sweep --seed N
                         --seconds S --trace 0|1

Builds the library and the benchmark program (kgbench/build.py), runs the
program in one JVM on a local[nproc] Spark session, checks every output,
prints a summary of every metric and, as the last line of standard
output, one JSON object with keys correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits 1 when an output check fails, 2 when the build or the run fails.

  python3 kgbench/run.py --select-panel   times two passes of the whole
      query registry, selects the sweep panel from the measured times and
      records its expected row counts and hashes (NOTES.md, "The sweep
      panel", has the rule and the oracle step).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
import build  # noqa: E402
import rollup  # noqa: E402

PANEL = os.path.join(HERE, "sweep_panel.json")
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
SELECT_TIMEOUT_S = 1800
PANEL_BUDGET_S = 6.0  # full-pass seconds the sweep panel may cover
# queries the panel always holds: the ones ROADMAP.md's open items name
PANEL_REQUIRED = {"kg_cc_incremental", "kg_top_entities", "vocab_topk", "ann_topk"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, args, work, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "kgbench.KgBench"] + args)
    # the JVM's own output goes to stderr: stdout carries only the summary
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["build", "canon", "sweep"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--select-panel", action="store_true")
    a = ap.parse_args()
    if a.select_panel:
        a.workload, a.seconds = "sweep", 1
    elif not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"kgbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--work", work, "--out", out,
            "--panel", PANEL]
    if a.select_panel:
        args += ["--record", os.path.join(work, "recorded.json"), "--registry", "1"]
    t0 = cpu_ticks()
    try:
        rc = run_jvm(cp, args, work, SELECT_TIMEOUT_S if a.select_panel else RUN_TIMEOUT_S)
        t1 = cpu_ticks()
        if rc != 0 or not os.path.isfile(out):
            print(f"kgbench: benchmark JVM exited with {rc}", file=sys.stderr)
            return 2
        with open(out) as f:
            raw = json.load(f)
        if a.select_panel:
            return write_panel(os.path.join(work, "recorded.json"))
    finally:
        if not a.select_panel:
            shutil.rmtree(work, ignore_errors=True)

    res = rollup.result(raw, traced=bool(a.trace))
    for line in rollup.summary(raw, res):
        print(line)
    if t0 and t1 and t1[0] + t1[1] > t0[0] + t0[1]:
        steal = (t1[1] - t0[1]) / (t1[0] + t1[1] - t0[0] - t0[1])
        print(f"# cpu time stolen by the host during the run: {100 * steal:.1f}%")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


def write_panel(recorded_path):
    with open(recorded_path) as f:
        queries = [dict(q, wall_s=statistics.median(q["wall_s"])) for q in json.load(f)]
    panel = rollup.select_panel(queries, PANEL_BUDGET_S, PANEL_REQUIRED)
    with open(PANEL, "w") as f:
        json.dump([{k: q[k] for k in ("name", "family", "rows", "hash", "wall_s")} for q in panel], f, indent=1)
        f.write("\n")
    total = sum(q["wall_s"] for q in queries)
    picked = sum(q["wall_s"] for q in panel)
    print(f"selected {len(panel)} of {len(queries)} queries into {PANEL}: {picked:.2f} s of a "
          f"{total:.2f} s registry pass ({100 * picked / total:.1f}%); work directory {os.path.dirname(recorded_path)}",
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
