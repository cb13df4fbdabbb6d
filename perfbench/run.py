#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wal_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the engine
and the benchmark programs with sbt (offline); later runs reuse the build
while the sources are unchanged. Scratch state lives in .bench_build/.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import stat
import subprocess
import sys
import tempfile
import time

import analysis

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("wal_backlog", "pg_live", "suite")
DEADLINE_S = 170  # a run must end within 180 s
BUILD_DEADLINE_S = 850


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    """Hash of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files.extend(os.path.join(d, n) for n in sorted(names))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """sbt-compile the engine and the benchmark; returns the runtime classpath."""
    stamp = os.path.join(out, "classpath.json")
    digest = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["hash"] == digest:
            return cached["classpath"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos]
    cmd.append("export perfbench/Runtime/fullClasspath")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_DEADLINE_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def sf_dir(root):
    """The sf0.1 fixture directory: GRAFT_BENCH_SF_DIR, else the one the
    repository lists in TESTDATA.md."""
    if os.environ.get("GRAFT_BENCH_SF_DIR"):
        return os.environ["GRAFT_BENCH_SF_DIR"]
    with open(os.path.join(root, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 3 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    fail("TESTDATA.md lists no sf 0.1 directory; set GRAFT_BENCH_SF_DIR")


def world_reachable(path):
    """Whether every directory above path lets other users through."""
    path = os.path.abspath(path)
    while True:
        if not os.stat(path).st_mode & stat.S_IXOTH:
            return False
        parent = os.path.dirname(path)
        if parent == path:
            return True
        path = parent


def run_jvm(classpath, args, run_dir, sf_dir, deadline):
    """Run the benchmark JVM for one workload; it writes run_dir/raw.json."""
    heap = "3g" if args.workload == "suite" else "2g"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # PostgreSQL runs as an unprivileged user that must reach its data dir;
    # when the checkout is not reachable, the instance goes to the system
    # temp dir (the harness deletes it when it stops)
    jvm_tmp = tmp
    if args.workload == "pg_live" and not world_reachable(tmp):
        jvm_tmp = tempfile.gettempdir()
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd = (["java"] + opens + ["-Xmx" + heap, "-Djava.io.tmpdir=" + jvm_tmp,
                               "-Dspark.local.dir=" + tmp,
                               "-Dspark.ui.enabled=false",
                               "-cp", classpath, "graft.perfbench.BenchMain",
                               args.workload, str(args.seed), str(args.seconds),
                               str(args.trace), run_dir,
                               os.path.join(HERE, "streams.json"), sf_dir,
                               os.path.join(HERE, "fingerprints.json")])
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_"))}
    with open(os.path.join(run_dir, "bench.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "bench.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("%s run failed (%s)" % (args.workload, rc))
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def traced(args, raw, run_dir, e2e, info, gaps, out):
    """Per-layer metrics of a traced run; also writes layers.md with the
    self-time table and the tracing overhead against the untraced run of
    the same seed, when this checkout has one."""
    spans = analysis.read_spans(os.path.join(run_dir, "spans.jsonl"))
    if args.workload == "suite":
        with open(os.path.join(run_dir, "suite_layers.json")) as f:
            layers = analysis.traced_suite_layers(raw, spans, json.load(f))
    else:
        layers = analysis.traced_cdc_layers(raw, spans)
    layers["generator.late_ms_p99"] = info.get("generator_late_ms_p99", 0.0)
    layers["failed_frac"] = gaps["missing"] / max(gaps["expected"], 1)
    untraced = None
    path = os.path.join(out, "runs", "%s-seed%d-trace0" % (args.workload, args.seed),
                        "result.json")
    if os.path.exists(path):
        with open(path) as f:
            untraced = json.load(f)["info"].get("e2e")
    with open(os.path.join(run_dir, "layers.md"), "w") as f:
        f.write(analysis.layer_table(args.workload, layers, spans, e2e, untraced))
    return layers, analysis.PER_LAYER


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no engine sources here)")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    # the first run in a checkout may spend its budget building
    deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(out, "runs", "%s-seed%d-trace%d" % (
        args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw = run_jvm(classpath, args, run_dir, sf_dir(root), deadline)
    clk = os.sysconf("SC_CLK_TCK")
    if args.workload == "wal_backlog":
        m, info, gaps, crosscheck = analysis.wal_backlog_metrics(raw, run_dir, clk)
    elif args.workload == "pg_live":
        m, info, gaps, crosscheck = analysis.pg_live_metrics(raw, run_dir, clk)
    else:
        m, info, gaps, crosscheck = analysis.suite_metrics(raw, clk)
    result = {
        "correct": gaps["missing"] == 0 and crosscheck,
        "attempted": gaps["expected"],
        "failed": gaps["missing"],
    }
    if args.trace:
        metrics, units = traced(args, raw, run_dir, m, info, gaps, out)
    else:
        metrics = {k: m[k] for k in analysis.UNITS}
        units = analysis.UNITS
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in metrics.items()}
    info.update(nproc=raw["nproc"], loadavg_start=raw["loadavg_start"],
                loadavg_end=raw["loadavg_end"], crosscheck_ok=crosscheck,
                wall_s=time.time() - start, e2e=m)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"result": result, "info": info}, f, indent=1)
    # keep the small outputs (raw, result, spans, layer table)
    for d in os.listdir(run_dir):
        p = os.path.join(run_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif d.endswith(".tsv"):
            os.remove(p)
    print(json.dumps(info, sort_keys=True), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
