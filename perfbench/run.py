#!/usr/bin/env python3
"""Benchmark of the streaming pipelines and dashboard queries.

    python3 perfbench/run.py --workload absa_live --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
harness (perfbench/scala) with the Scala compiler that ships with Spark,
into .bench_build/perfbench; later runs reuse the build while the sources
are unchanged. Each run starts one JVM for one workload, deletes its work
directory afterwards, and prints one JSON object as its last line: the
end_to_end metrics of BENCHMARK.json with --trace 0, its per_layer metrics
with --trace 1. A traced run also writes its spans and overheads under
.bench_build/perfbench/reports.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")

# fixed warm-up work before the timed window, in seconds of load
# (refreshes for dashboard_queries), never "until stable"; a run whose
# window is shorter warms up for its window's length
WARMUP = {"absa_live": 20, "vehicle_drain": 8, "curation_live": 16,
          "dashboard_queries": 1}
# seconds a JVM may take beyond its warm-up and windows: start-up and
# set-up, the checks, and in a traced run the layer passes
SLACK = {0: 100, 1: 150}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> str:
    """Directory of the Spark distribution's jars (Scala compiler included)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources(root: str) -> list:
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out: str, files: list, classpath: str, jars: str,
                 depends: list) -> None:
    """Compiles `files` unless `out` was built from the same `files` and
    `depends`."""
    stamp = os.path.join(out, ".stamp")
    want = digest(files + depends)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compiling {len(files)} files into {out} failed")
    with open(stamp, "w") as fh:
        fh.write(want)


def build(jars: str) -> str:
    """Compiles engine and harness if their sources changed; returns the
    runtime classpath."""
    engine = sources(ENGINE_SRC)
    if not engine or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("run from the repository root: no engine sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine_out = os.path.join(BUILD, "engine")
        harness_out = os.path.join(BUILD, "harness")
        jar_cp = os.path.join(jars, "*")
        compile_into(engine_out, engine, jar_cp, jars, [])
        compile_into(harness_out, sources(HARNESS_SRC),
                     os.pathsep.join([engine_out, jar_cp]), jars, engine)
    return os.pathsep.join([harness_out, engine_out, jar_cp])


def run_jvm(args, classpath: str, work: str, timeout: float) -> dict:
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
              "--fault", args.fault, "--warmup", str(args.warmup),
              "--dashboards", ",".join(metrics.DASHBOARDS),
              "--statistics", ",".join(metrics.STATISTICS)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    return json.load(open(result))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", default="none",
                    choices=["none", "drop_sink_row", "alter_dashboard_row"],
                    help="plant one fault, for the benchmark's own tests")
    args = ap.parse_args()
    args.warmup = min(WARMUP[args.workload], args.seconds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    classpath = build(spark_jars())
    windows = 2 if args.trace else 1
    warm_s = args.warmup * (30 if args.workload == "dashboard_queries" else 1)
    timeout = SLACK[args.trace] + warm_s + windows * args.seconds
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the dashboards run in dashboard_queries and in a traced absa_live run
    dashboard = (args.workload == "dashboard_queries"
                 or (args.workload == "absa_live" and args.trace))
    try:
        if dashboard:
            import tables
            tables.generate(args.seed, os.path.join(work, "data"))
        out = run_jvm(args, classpath, work, timeout)
        if dashboard:
            bad = tables.check(os.path.join(work, "results"),
                               os.path.join(work, "data"),
                               alter=args.fault == "alter_dashboard_row")
            out["attempted"] += len(metrics.DASHBOARDS + metrics.STATISTICS)
            out["failed"] += len(bad)
            out["problems"] += bad
        if args.trace:
            report(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in out["extra"].items():
        print(f"perfbench: {k} = {v}", file=sys.stderr)
    for p in out["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if args.trace:
        values = {**out["layer"], **{f"overhead.{k}": v for k, v in out["overhead"].items()}}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        needed = [k for k in units
                  if args.workload in metrics.MEASURED_ON.get(k, metrics.WORKLOADS)]
    else:
        values = out["e2e"]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        needed = list(units)
    missing = [k for k in needed if values.get(k) is None]
    for k in missing:
        print(f"perfbench: metric {k} was not measured", file=sys.stderr)
    result = {
        "correct": out["failed"] == 0 and not missing,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]) + len(missing),
        "metrics": {k: {"value": float(values.get(k) or 0.0), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result))


def report(args, work: str, out: dict) -> None:
    """Keeps a traced run's per-layer values, overheads and spans."""
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    spans = os.path.join(work, "spans.jsonl")
    dest = os.path.join(reports, f"{args.workload}-seed{args.seed}")
    if os.path.exists(spans):
        shutil.copy(spans, dest + "-spans.jsonl")
    with open(dest + "-trace.json", "w") as fh:
        json.dump({k: out[k] for k in ("layer", "overhead", "extra", "problems")},
                  fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
