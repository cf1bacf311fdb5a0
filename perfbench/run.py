#!/usr/bin/env python3
"""Benchmark of the graft engine at sf0.1, driven the way its users drive it.

One client, closed loop: a single driver thread on one local[nproc] session
runs a seeded sample of query keys one after another, pass after pass. Each
key is built through `SparkEntry.queries` and its result fully materialized
(see harness/). Between the cold pass and the warm passes every sampled key
runs once more, untimed, and its output is checked against the DuckDB oracle
with the compare logic of tools/preflight.py.

Usage:
  python3 perfbench/run.py --workload {batch_sql,kernels,lake_write}
                           --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --self-test

--trace 0 reports the end-to-end metrics; --trace 1 reports per-layer
metrics from a traced run and writes its spans to perfbench/out/. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
The first run in a fresh checkout builds the engine and the harness with sbt.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
OUT = HERE / "out"
SF_DIR = "/root/testdata/sf0.1"
# The engine's scratch stays on its default root (/dev/shm when writable);
# both sides of an A/B see the same one, and the report names it.

sys.path.insert(0, str(HERE))
import stats  # noqa: E402
import workloads  # noqa: E402

# A run makes one cold pass and as many warm passes as the workload's nominal
# pass time fits in --seconds, four at least. The first warm pass still runs
# well behind the JIT, so warm metrics use the warm passes after it (three
# or more). Traced runs alternate warm passes untraced, traced.
MIN_WARM = 4
RUN_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("warm_pass_s", "s"), ("warm_geomean_s", "s")]

# Per-layer metrics. Codegen, JIT and memo builds are cold-pass totals;
# the rest are per-pass totals, median over the settled traced passes.
COLD_LAYER = [
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"), ("jvm.jit_s", "s"),
    ("memo.builds", "count"),
]
WARM_LAYER = [
    ("tables.infer_jobs", "count"), ("ops.build_s", "s"), ("ops.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("jvm.gc_s", "s"), ("exec.materialize_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_active_s", "s"), ("spark.driver_gap_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
    ("stream.batches", "count"), ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.commit_offsets_s", "s"),
    ("stream.query_planning_s", "s"), ("stream.outside_trigger_s", "s"),
    ("manifest.warnings", "count"), ("housekeeping.release_s", "s"),
    ("self.ops_build_s", "s"), ("self.exec_materialize_s", "s"),
    ("self.housekeeping_release_s", "s"), ("self.spark_job_s", "s"),
    ("self.stream_trigger_s", "s"),
]
# Peak RSS is a per-run figure, but G1 decides run by run whether to grow the
# heap (1.4-2.2 GB on identical work), too wide a spread to gate end to end.
RUN_LAYER = [
    ("jvm.rss_peak_mb", "MB"),
    ("housekeeping.scratch_mb_left", "MB"), ("trace.overhead_frac", "frac"),
    ("trace.late_events", "count"),
]
PER_LAYER = COLD_LAYER + WARM_LAYER + RUN_LAYER

# The counter of each listener sum, as the harness names it.
COUNTERS = {
    "tables.infer_jobs": "infer_jobs", "catalyst.analysis_s": "analysis_s",
    "catalyst.optimizer_s": "optimizer_s", "catalyst.planning_s": "planning_s",
    "catalyst.executions": "executions", "spark.jobs": "jobs", "spark.stages": "stages",
    "spark.tasks": "tasks", "spark.task_cpu_s": "task_cpu_s",
    "spark.shuffle_write_mb": "shuffle_write_mb", "spark.shuffle_read_mb": "shuffle_read_mb",
    "spark.spill_mb": "spill_mb", "spark.input_mb": "input_mb", "spark.output_mb": "output_mb",
    "stream.batches": "batches", "stream.trigger_s": "trigger_s",
    "stream.add_batch_s": "add_batch_s", "stream.wal_commit_s": "wal_commit_s",
    "stream.commit_offsets_s": "commit_offsets_s",
    "stream.query_planning_s": "query_planning_s",
}

# build.sbt's javaOptions: the JDK 17 module opens Spark needs outside
# spark-submit, the session defaults, and the enlarged code cache.
JVM_FLAGS = [
    flag for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for flag in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """Half the machine's memory, 2 to 8 GiB: the heap the repo's test
    command gives the engine."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def build_inputs():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def build():
    """Compile the engine and the harness once per source state; return the
    harness's runtime classpath."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = HARNESS / "target" / "perfbench.stamp"
    cp_file = HARNESS / "target" / "classpath.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                   "-Dsbt.offline=true -Xmx2g")
    log = OUT / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = log.read_text().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests in between: on a
    shared host this, not the program, is often what moves a run."""
    if not before or not after or len(before) < 8:
        return float("nan")
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def run_harness(cp, run_dir, plan, trace, warm_streams, deadline):
    """Launch the harness JVM; return its report and the set-up time."""
    plan_file = run_dir / "plan.txt"
    plan_file.write_text("\n".join(",".join(p) for p in plan) + "\n")
    out = run_dir / "report.json"
    cmd = (["java", "-cp", cp, f"-Xmx{heap_gb()}g", *JVM_FLAGS,
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dspark.local.dir={run_dir / 'spark-local'}",
            "perfbench.Harness", "--sf", SF_DIR, "--out", str(out), "--plan", str(plan_file),
            "--check-dir", str(run_dir / "check")]
           + (["--trace"] if trace else []) + (["--warm-streams"] if warm_streams else []))
    with open(run_dir / "jvm.log", "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded the run's time limit; see {run_dir / 'jvm.log'}")
    if rc != 0 or not out.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness exited with {rc}; see {run_dir / 'jvm.log'}")
    with open(out) as f:
        report = json.load(f)
    return report, report["ready_epoch_ms"] / 1e3 - launched


def check_outputs(report, check_dir):
    """Failure reason per key that failed the untimed output check: oracle
    keys must match DuckDB exactly (tools/preflight.py), the others must
    return rows."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import preflight
    failures = {c["key"]: f"check run failed: {c['error']}" for c in report["check"] if c["error"]}
    with open(check_dir / "oracle_sql.json") as f:
        oracle_keys = set(json.load(f))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        preflight.main(SF_DIR, str(check_dir))
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            key, _, why = line[len("FAIL "):].partition(":")
            failures.setdefault(key, "oracle: " + why.strip())
    con = duckdb.connect()
    for c in report["check"]:
        key = c["key"]
        if key in oracle_keys or key in failures:
            continue
        try:
            rows = con.execute(f"SELECT count(*) FROM '{check_dir / key}/*.parquet'").fetchone()[0]
        except duckdb.Error as e:
            rows, failures[key] = 0, f"result unreadable: {e}"
        if rows == 0:
            failures.setdefault(key, "returned no rows")
    return failures


def latency_s(k):
    return (k["materialize_end_ms"] - k["start_ms"]) / 1e3


def pass_s(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def settled(passes):
    """The warm passes after the first (pass 0 is the cold pass)."""
    return passes[2:]


def end_to_end(passes, setup_s):
    """End-to-end metrics: the cold pass and the settled untraced passes."""
    cold = passes[0]
    warm = [p for p in settled(passes) if not p["traced"]]
    ok = [k for p in warm for k in p["keys"] if k["error"] is None]
    per_key = {}
    for k in ok:
        per_key.setdefault(k["key"], []).append(latency_s(k))
    samples = [latency_s(k) for k in ok]
    if not samples:
        fail("no key completed a settled warm pass")
    return {
        "setup_s": setup_s,
        "first_pass_s": pass_s(cold),
        "warm_pass_s": statistics.median([pass_s(p) for p in warm]),
        "warm_geomean_s": stats.geomean([statistics.median(v) for v in per_key.values()]),
    }, samples


def key_tree(k):
    """The span tree of one key: ops.build, exec.materialize and
    housekeeping.release, with jobs and triggers under the phase they ran in."""
    key = stats.Span("key", k["start_ms"], k["end_ms"], key=k["key"])
    key.children = [stats.Span("ops.build", k["start_ms"], k["build_end_ms"]),
                    stats.Span("exec.materialize", k["build_end_ms"], k["materialize_end_ms"]),
                    stats.Span("housekeeping.release", k["materialize_end_ms"], k["end_ms"])]
    children = [stats.Span(c["name"], c["start_ms"], c["end_ms"],
                           **{a: v for a, v in c.items() if a not in ("name", "start_ms", "end_ms")})
                for c in k.get("children", [])]
    return stats.nest(key, children)


def pass_tree(p):
    root = stats.Span("pass", p["start_ms"], p["end_ms"], index=p["pass"], traced=p["traced"])
    root.children = [key_tree(k) for k in p["keys"]]
    return root


def layer_sums(p):
    """Per-layer totals of one traced pass."""
    out = dict.fromkeys([m for m, _ in COLD_LAYER + WARM_LAYER], 0.0)
    for k in p["keys"]:
        c = k.get("counters", {})
        for metric, name in COUNTERS.items():
            out[metric] += c.get(name, 0.0)
        for metric in ("codegen.compiles", "codegen.compile_s", "jvm.jit_s", "jvm.gc_s",
                       "manifest.warnings"):
            out[metric] += k[metric]
        out["memo.builds"] += len(k["memo"])
        tree = key_tree(k)
        jobs = [s for s in tree.walk() if s.name == "spark.job"]
        triggers = [s for s in tree.walk() if s.name == "stream.trigger"]
        out["ops.build_s"] += (k["build_end_ms"] - k["start_ms"]) / 1e3
        out["ops.build_jobs"] += sum(1 for j in jobs if j.start_ms < k["build_end_ms"])
        out["exec.materialize_s"] += (k["materialize_end_ms"] - k["build_end_ms"]) / 1e3
        out["housekeeping.release_s"] += (k["end_ms"] - k["materialize_end_ms"]) / 1e3
        active = stats.union_length([(j.start_ms, j.end_ms) for j in jobs],
                                    k["start_ms"], k["end_ms"]) / 1e3
        out["spark.job_active_s"] += active
        out["spark.driver_gap_s"] += (k["end_ms"] - k["start_ms"]) / 1e3 - active
        if triggers:
            out["stream.outside_trigger_s"] += latency_s(k) - stats.union_length(
                [(t.start_ms, t.end_ms) for t in triggers],
                k["start_ms"], k["materialize_end_ms"]) / 1e3
        for name, ms in stats.self_time_by_name(tree).items():
            metric = "self." + name.replace(".", "_") + "_s"
            if metric in out:
                out[metric] += ms / 1e3
    return out


def per_layer(report):
    passes = report["passes"]
    traced_warm = [p for p in settled(passes) if p["traced"]]
    plain_warm = [p for p in settled(passes) if not p["traced"]]
    cold = layer_sums(passes[0])
    warm = [layer_sums(p) for p in traced_warm]
    out = {m: cold[m] for m, _ in COLD_LAYER}
    out.update({m: statistics.median([w[m] for w in warm]) for m, _ in WARM_LAYER})
    out["jvm.rss_peak_mb"] = report["rss_peak_mb"]
    out["housekeeping.scratch_mb_left"] = report["scratch_mb_left"]
    out["trace.overhead_frac"] = (statistics.median([pass_s(p) for p in traced_warm])
                                  / statistics.median([pass_s(p) for p in plain_warm]) - 1)
    out["trace.late_events"] = report["late_events"]
    return out


def write_trace(path, workload, seed, report):
    """All spans of the traced run plus self time per layer (ms)."""
    run = stats.Span("run", report["passes"][0]["start_ms"], report["passes"][-1]["end_ms"],
                     workload=workload, seed=seed)
    run.children = [pass_tree(p) for p in report["passes"]]
    self_ms = {}
    for p in (p for p in run.children if p.attrs["traced"]):
        for name, ms in stats.self_time_by_name(p).items():
            self_ms[name] = self_ms.get(name, 0.0) + ms
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "self_ms_traced_passes": self_ms,
                   "spans": run.to_json()}, f)


def print_keys(report, failures):
    passes = report["passes"]
    print(f"{'key':40} {'cold_s':>8} {'warm_p50_s':>10}  memo builds (cold pass) / check")
    for k0 in passes[0]["keys"]:
        key = k0["key"]
        warm = [latency_s(k) for p in passes[1:] for k in p["keys"]
                if k["key"] == key and k["error"] is None]
        errs = [k["error"] for p in passes for k in p["keys"] if k["key"] == key and k["error"]]
        status = failures.get(key) or (errs[0] if errs else "ok")
        memo = ",".join(k0["memo"]) or "-"
        print(f"{key:40} {latency_s(k0):8.3f} {statistics.median(warm) if warm else float('nan'):10.3f}"
              f"  {memo} / {status}")


def self_test():
    suite = unittest.defaultTestLoader.discover(str(HERE), pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    cp = build()
    rc = subprocess.run(["java", "-cp", cp, "perfbench.AttributionCheck"]).returncode
    return 0 if ok and rc == 0 else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own unit tests and exit")
    args = ap.parse_args(argv)
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
                 ROOT / "tools" / "preflight.py"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a checkout of the repository")
    if not Path(SF_DIR, "lineitem.parquet").exists():
        fail(f"test data not found at {SF_DIR}")
    cp = build()
    started = time.time()

    keys = workloads.sample(args.workload, args.seed)
    warm = max(MIN_WARM, round(args.seconds / workloads.nominal_pass_s(args.workload)))
    plan = workloads.pass_orders(keys, args.seed, 1 + warm)
    run_dir = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "check"):
        (run_dir / d).mkdir(parents=True)
    cpu0 = cpu_times()
    report, setup_s = run_harness(cp, run_dir, plan, args.trace == 1,
                                  workloads.WORKLOADS[args.workload]["warm_streams"],
                                  started + RUN_TIMEOUT_S)
    steal = steal_frac(cpu0, cpu_times())
    failures = check_outputs(report, run_dir / "check")
    for p in report["passes"]:
        for k in p["keys"]:
            if k["error"]:
                failures.setdefault(k["key"], f"pass {p['pass']}: {k['error']}")
    shutil.rmtree(run_dir / "check", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    shutil.rmtree(run_dir / "spark-local", ignore_errors=True)

    e2e, samples = end_to_end(report["passes"], setup_s)
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"keys={len(keys)} passes={len(report['passes'])} cpus={report['cpus']} "
          f"sf={report['sf']} scratch={report['scratch_root']} host_steal={steal:.3f}")
    print(f"setup: jvm start {report['jvm_start_epoch_ms'] / 1e3 - (report['ready_epoch_ms'] / 1e3 - setup_s):.2f} s, "
          f"session {(report['session_epoch_ms'] - report['jvm_start_epoch_ms']) / 1e3:.2f} s, "
          f"warm-up {(report['ready_epoch_ms'] - report['session_epoch_ms']) / 1e3:.2f} s")
    print_keys(report, failures)
    label = "(cold pass traced) " if args.trace else ""
    print(f"end-to-end {label}over {len(samples)} settled key samples:")
    for name, unit in END_TO_END:
        print(f"  {name:34} {e2e[name]:12.4f} {unit}")
    # Printed, not gated (see NOTES.md): the cold pass is one sample per run
    # and follows the shared host's speed more than any warm figure (spread
    # up to 0.31 over ten seeds); with five to seven keys a run's latency
    # percentiles are single keys' latencies, p90 has fewer than ten samples
    # beyond it; peak RSS follows G1's run-by-run heap sizing.
    print(f"  {'first_pass_s':34} {e2e['first_pass_s']:12.4f} s")
    for q in (50, 90):
        print(f"  {f'latency_p{q}_s':34} {stats.percentile(samples, q):12.4f} s")
    print(f"  {'rss_peak_mb':34} {report['rss_peak_mb']:12.4f} MB")
    print(f"  {'failed_frac':34} {len(failures) / len(keys):12.4f} frac"
          f"  ({len(failures)}/{len(keys)} keys)")
    for key, why in sorted(failures.items()):
        print(f"  FAILED {key}: {why}")
    if args.trace:
        unclosed = [f"{k['pass']}/{k['key']}" for p in report["passes"] for k in p["keys"]
                    if p["traced"] and (not k["drained"] or k["unclosed_jobs"])]
        if unclosed:
            print(f"  WARNING listener bus not drained or jobs still open at close: {unclosed}")
        layers = per_layer(report)
        trace_file = OUT / f"trace-{args.workload}-seed{args.seed}.json"
        write_trace(trace_file, args.workload, args.seed, report)
        print(f"per-layer (spans in {trace_file.relative_to(ROOT)}):")
        for name, unit in PER_LAYER:
            print(f"  {name:34} {layers[name]:12.4f} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not failures, "attempted": len(keys),
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
