#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one process.

Usage (from the repository root):
    python3 perfbench/run.py --workload distinct_agg --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the harness from source with sbt (once per source
state), runs `perfbench.Main` in one JVM at local[nproc] as a closed loop
with one client, checks every gated query's output against its DuckDB
oracle with scripts/check.py, and prints a report line and, last, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits non-zero on any wrong answer or failed op. Full results and the
trace spans are kept under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("distinct_agg", "store_lifecycle", "query_mix")
# the workloads in BENCHMARK.json
GATED = ("distinct_agg", "store_lifecycle")
HEAP = "4g"
# a run ends within 180 s once built: the JVM, then the oracle check
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 25

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}
PER_LAYER = {
    "engine.session_s": "s", "engine.register_s": "s", "engine.fixture_build_s": "s",
    "functions.update_ns_per_row.highcard": "ns", "functions.update_ns_per_row.lowcard": "ns",
    "functions.merge_ns_per_value": "ns", "functions.serialize_ns_per_value": "ns",
    "functions.deserialize_ns_per_value": "ns", "functions.wire_bytes_per_value": "bytes",
    "functions.heap_bytes_per_value": "bytes",
    "operators.build_s": "s", "operators.plan_s": "s", "operators.exec_s": "s",
    **{f"sources.fs_calls_per_commit.{k}": "count"
       for k in ("list", "read", "exists", "publish", "delete", "mkdirs")},
    "sources.manifest_bytes_per_commit": "bytes", "sources.checkpoint_writes": "count",
    "sources.vacuum_ms": "ms", "sources.commit_p50_ms": "ms", "sources.commit_p99_ms": "ms",
    "sources.resolve_p50_ms": "ms",
    "streaming.query_starts": "count", "streaming.micro_batches": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.executor_run_s": "s", "spark.cpu_wall_ratio": "ratio",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_only_s": "s",
    "tracing.overhead_s": "s",
}
# Spark on JDK 17 outside spark-submit (as in the engine's build.sbt).
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    needed = [ROOT / "build.sbt", ROOT / "src" / "main", ROOT / "scripts" / "check.py",
              HERE / "build.sbt"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        die(f"not run from a checkout of the engine (missing: {', '.join(missing)})")
    classpath = HERE / "target" / "classpath.txt"
    stamp_file = HERE / "target" / "build.stamp"
    stamp = source_stamp()
    if classpath.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=850)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0:
        die(f"build failed (sbt exit {r.returncode})")
    stamp_file.write_text(stamp)
    return classpath.read_text()


def java(classpath, work, args, timeout):
    # ParallelGC: no concurrent GC threads competing with local[nproc]'s
    # task threads; on a 4-vCPU VM it runs a pass ~25% faster and steadier
    # than the default G1
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", *JAVA_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work / 'derby'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-cp", classpath, "perfbench.Main", "--work", str(work), *args]
    try:
        return subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {timeout:.0f} s")


def oracle(res):
    """Verdicts of scripts/check.py for every gated query of the run."""
    o = res["oracle"]
    if not o["queries"]:
        return {}
    try:
        r = subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"), o["inputs"],
                            o["verify"], *o["queries"]], cwd=ROOT, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {q: f"FAIL (check.py exceeded {ORACLE_TIMEOUT_S} s)" for q in o["queries"]}
    verdicts = {q: f"FAIL (check.py exit {r.returncode}) {r.stderr.strip()[-300:]}"
                for q in o["queries"]}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if name in verdicts:
            verdicts[name] = "PASS" if word == "PASS" else line
    return verdicts


def run_once(classpath, work, workload, seed, seconds, trace, out):
    """One benchmark process and the oracle verdicts of its gated queries."""
    shutil.rmtree(out, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    r = java(classpath, work, ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace),
                               "--out", str(out), "--cpus", str(cpus)], JVM_TIMEOUT_S)
    sys.stderr.write(r.stdout)
    result_file = out / "result.json"
    if r.returncode != 0 or not result_file.exists():
        die(f"benchmark process failed (exit {r.returncode})", 1)
    res = json.loads(result_file.read_text())
    res["verdicts"] = oracle(res)
    return res


def failures(res):
    """(failed, attempted, errors): failed op executions over op executions,
    an op counted once whether it threw or its check-pass output (pass 0)
    failed the oracle; errors also lists the run's other failed checks.
    """
    runs = res["op_runs"]
    threw = [r for r in runs if r["error"]]
    errors = [f"pass {r['pass']} {r['op']}: {r['error']}" for r in threw]
    threw_on_check = {r["op"] for r in threw if r["pass"] == 0}
    wrong = [q for q, v in res["verdicts"].items() if v != "PASS" and q not in threw_on_check]
    errors += [f"pass 0 {q}: oracle {res['verdicts'][q]}" for q in wrong]
    errors += [f"check {e}" for e in res["check_errors"]]
    return len(threw) + len(wrong), len(runs), errors


def self_test(classpath, work):
    """The harness's own checks, then each gated workload on two seeds:
    same metric names and ops per pass, different inputs.
    """
    r = java(classpath, work, ["--self-test"], JVM_TIMEOUT_S)
    print(r.stdout, end="")
    ok = r.returncode == 0
    for w in GATED:
        runs = [run_once(classpath, work, w, seed, 1, 1, HERE / "out" / f"self-test-{w}-s{seed}")
                for seed in (1, 2)]
        a, b = runs
        checks = {
            "both runs correct": all(not failures(x)[2] for x in runs),
            "same per-layer metric names": sorted(a["metrics"]) == sorted(b["metrics"]),
            "same end-to-end metric names": sorted(a["end_to_end"]) == sorted(b["end_to_end"]),
            "same ops per pass": sorted(a["report"]["op_order"]) == sorted(b["report"]["op_order"]),
            "different inputs": a["report"]["inputs"] != b["report"]["inputs"],
        }
        for what, good in checks.items():
            print(f"{'PASS' if good else 'FAIL'} {w}: two seeds give {what}")
            ok = ok and good
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not a.self_test and a.seconds <= 0:
        ap.error("--seconds must be positive")
    name = "self-test" if a.self_test else f"{a.workload}-s{a.seed}-t{a.trace}"
    # one name for every run, so no path the engine writes depends on the
    # workload or the seed
    work = HERE / ".work" / ("self-test" if a.self_test else "run")
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        classpath = build()
        if a.self_test:
            sys.exit(self_test(classpath, work))
        out = HERE / "out" / name
        res = run_once(classpath, work, a.workload, a.seed, a.seconds, a.trace, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed, attempted, errors = failures(res)
    fail_ratio = {"failed": failed, "attempted": attempted, "value": failed / attempted}
    (out / "result.json").write_text(json.dumps(dict(res, fail_ratio=fail_ratio), indent=1))

    units = END_TO_END if a.trace == 0 else PER_LAYER
    missing = [k for k in units if k not in res["metrics"]]
    if missing:
        errors.append(f"metrics not measured: {', '.join(missing)}")
    metrics = {k: {"value": res["metrics"][k], "unit": u}
               for k, u in units.items() if k in res["metrics"]}
    # every end-to-end figure of the workload, by name and unit, with the
    # failure ratio and its base; the gated subset follows on the last line
    summary = {k: f"{v['value']:.6g} {v['unit']}" for k, v in res["end_to_end"].items()}
    summary["fail_ratio"] = f"{failed}/{attempted} = {failed / attempted:.4g}"
    summary["passes"] = res["report"]["pass_s"]["n"]
    if a.trace:
        traced = res["report"]["traced_passes"]
        summary["tracing_overhead_s"] = f"{res['metrics'].get('tracing.overhead_s', float('nan')):.6g} s" \
            f" (traced pass_s median over {len(traced)}, untraced over {summary['passes']})"
    print("report " + json.dumps({"workload": a.workload, "seed": a.seed, **summary}))
    for e in errors:
        print(f"error {e}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
