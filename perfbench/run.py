#!/usr/bin/env python3
"""The engine's benchmark: one workload, one fresh JVM, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps, all inside the checkout:
  1. build the engine and the harness from source with sbt (perfbench/
     build.sbt); the build is reused while no source file changed;
  2. generate the seeded fixture tables (perfbench/gen.py) under
     .bench_build/data/, once per seed;
  3. run perfbench.Main in a fresh JVM on local[4], in a per-run working
     directory under .bench_build/, so every relative write of the engine
     stays there;
  4. check the outputs (perfbench/check.py) and print one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones,
and also saves the run's spans and per-operation counters under
.bench_build/traces/ for perfbench/layer_diff.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CONFIG = os.path.join(HERE, "workloads.json")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this
HEAP = "4g"

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# JDK 17 needs these for Spark outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
# per-layer metrics: name -> (unit, how the per-operation values of one
# pass are folded: "sum" over operations, "mean" per operation, "max")
PER_OP = {
    "plans.analysis_s": ("s", "sum"), "plans.optimization_s": ("s", "sum"),
    "plans.planning_s": ("s", "sum"), "queries.build_s": ("s", "sum"),
    "driver.gap_s": ("s", "sum"), "sources.scan_bytes": ("B", "sum"),
    "sources.scan_rows": ("count", "sum"), "exec.jobs": ("count", "mean"),
    "exec.stages": ("count", "mean"), "exec.tasks": ("count", "mean"),
    "exec.task_s": ("s", "sum"), "exec.task_cpu_s": ("s", "sum"),
    "exec.shuffle_write_bytes": ("B", "sum"), "exec.shuffle_read_bytes": ("B", "sum"),
    "exec.spill_bytes": ("B", "sum"), "exec.idle_core_s": ("s", "sum"),
    "memo.cached_bytes_peak": ("B", "max"), "memo.cached_blocks": ("count", "max"),
    "sink.upsert_s": ("s", "sum"), "sink.hwm_s": ("s", "sum"),
}
# per-layer metrics recorded once per pass: name -> (unit, result key)
PER_PASS = {
    "sink.bytes_written": ("B", "sink.bytes_written"),
    "sink.files_written": ("count", "sink.files_written"),
    "sink.partitions_rewritten": ("count", "sink.partitions_rewritten"),
    "sink.store_files": ("count", "sink.store_files"),
    "sink.readback_s": ("s", "readback_s"), "sink.write_amp": ("ratio", "write_amp"),
    "exec.gc_s": ("s", "exec.gc_s"), "trace.overhead_s": ("s", "trace.overhead_s"),
    "trace.wall_s": ("s", "wall_s"),
}


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return lines[-1].strip()


def fixtures(seed, keep=8):
    """The seeded fixture tables, generated once per seed and kept for the
    next run with that seed; at most `keep` sets are kept."""
    root = os.path.join(BUILD, "data")
    path = os.path.join(root, f"seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        os.makedirs(tmp)
        gen.main(tmp, seed)
        os.rename(tmp, path)
    os.utime(path)
    sets = sorted((os.path.join(root, d) for d in os.listdir(root) if ".tmp" not in d),
                  key=os.path.getmtime)
    for old in sets[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def run_jvm(classpath, work, data, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--config", CONFIG, "--workload", args.workload,
            "--data", data, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.join(work, "result.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("run exceeded its time limit", 4)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(l for l in fh if "[perfbench]" in l or "Exception" in l)[-4000:])
        die(f"harness exited with code {code}", 3 if code == 3 else 4)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def tail(values):
    """The highest percentile with at least ten samples beyond it (the
    11th-largest value); the largest value when there are at most ten."""
    s = sorted(values)
    return s[-11] if len(s) > 10 else s[-1]


def fold(values, how):
    if how == "sum":
        return sum(values)
    if how == "max":
        return max(values, default=0)
    return sum(values) / len(values) if values else 0.0


def metrics(res, failed, attempted, traced):
    passes = res["passes"]
    med = statistics.median
    if not traced:
        vals = {"setup_s": med(res["setup_s"]),
                "wall_s": med(p["wall_s"] for p in passes),
                "cpu_s": med(p["cpu_s"] for p in passes)}
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    lat = [o["latency_s"] for p in passes for o in p["ops"]]
    out = {"op.p50_s": {"value": med(lat), "unit": "s"},
           "op.tail_s": {"value": tail(lat), "unit": "s"},
           "mem.peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MiB"}}
    for name, (unit, how) in PER_OP.items():
        key = "build_s" if name == "queries.build_s" else name
        v = med(fold([o.get(key, 0) for o in p["ops"]], how) for p in passes)
        out[name] = {"value": v, "unit": unit}
    for name, (unit, key) in PER_PASS.items():
        out[name] = {"value": med(p.get(key, 0) for p in passes), "unit": unit}
    out["check.fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    out["jvm.cold_pass_s"] = {"value": res["cold_pass_s"][0], "unit": "s"}
    out["jvm.cold_setup_s"] = {"value": res["cold_setup_s"], "unit": "s"}
    return out


def save_trace(args, res, line):
    """Spans (run > pass > operation) and per-operation counters of a
    traced run, for layer_diff.py."""
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    spans = [{"name": "run", "id": run_id, "parent": None, "run": run_id,
              "start": 0.0, "end": None}]
    for i, p in enumerate(res["passes"]):
        pid = f"{run_id}/pass{i}"
        spans.append({"name": f"pass{i}", "id": pid, "parent": run_id,
                      "run": run_id, "start": p["start_s"],
                      "end": p["start_s"] + p["wall_s"]})
        for o in p["ops"]:
            spans.append({"name": o["name"], "id": f"{pid}/{o['name']}",
                          "parent": pid, "run": run_id, "start": o["start_s"],
                          "end": o["start_s"] + o["latency_s"],
                          "counters": {k: v for k, v in o.items()
                                       if "." in k or k == "build_s"}})
    spans[0]["end"] = max(s["end"] for s in spans[1:])
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    path = os.path.join(BUILD, "traces", f"{run_id}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "result": line, "spans": spans}, fh, indent=1)
    print(f"[perfbench] trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        die("no engine sources next to perfbench/ (run from a full checkout)")
    with open(CONFIG) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        die(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")

    os.makedirs(BUILD, exist_ok=True)
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = fixtures(args.seed)
        res = run_jvm(classpath, work, data, args, deadline)
        failures = check.verify(res, work, data)
        ops = [o for p in res["passes"] for o in p["ops"]]
        failures += [f"{o['name']}: {o.get('error', 'failed')}" for o in ops if not o["ok"]]
        for f in failures:
            print(f"[perfbench] FAIL {f}", file=sys.stderr)
        failed = min(len(ops), len(failures))
        line = {"correct": not failures, "attempted": len(ops), "failed": failed,
                "metrics": metrics(res, failed, len(ops), args.trace == 1)}
        if args.trace == 1:
            save_trace(args, res, line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
