#!/usr/bin/env python3
"""Benchmark entry point for the nightly spine and the query registry.

    python3 perfbench/run.py --workload night_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The script compiles `src/main`
and the benchmark's own Scala sources with the Scala compiler shipped in
the Spark distribution (no sbt), starts one JVM at `local[4]`, and prints
every metric by name with its unit. The last line of standard output is
one JSON object: `{"correct", "attempted", "failed", "metrics"}`.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the workload
with the benchmark's listeners attached and reports the per-layer
metrics, the span self times and the tracing overhead against the last
untraced run. Spans and per-query records go to `<build dir>/trace/`.

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`.
Everything the benchmark writes stays inside the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"
WORKLOADS = ("night_batch", "registry")
CORES = 4
# Wall-clock limit for one benchmark JVM; the JVM is killed past it so a
# stuck streaming query cannot hold the run forever.
JVM_TIMEOUT_S = 170

# Headline metrics, printed with each run's result under their
# per-workload names: (printed name, metric key, unit). error_rate is
# failed / attempted.
HEADLINE_NAMES = {
    "night_batch": [
        ("spine_alerts_per_s", "throughput_per_s", "1/s"),
        ("cpu_s_per_kalert", "cpu_s_per_unit", "s")],
    "registry": [
        ("registry_s", "work_s", "s"),
        ("registry_cpu_s", "cpu_s_per_unit", "s"),
        ("query_p50_s", "latency_p50_s", "s"),
        ("query_p90_s", "latency_p90_s", "s")],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars(checkout):
    """The Spark distribution's jar directory: `$SPARK_JARS`, else the
    `unmanagedBase` that build.sbt compiles against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(checkout, "build.sbt")
    m = os.path.isfile(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("no build.sbt naming the Spark jars: run from a source checkout")
    return m.group(1)


def scalac(srcs, out_dir, classpath, jars, build_dir):
    """Compile `srcs` into `out_dir` unless its stamp matches the sources."""
    stamp = out_dir + ".stamp"
    want = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={build_dir}/tmp",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", out_dir, "-classpath", classpath, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources into {out_dir}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"scalac failed for {out_dir}")
    with open(stamp, "w") as f:
        f.write(want)


def build(checkout, build_dir):
    main_src = os.path.join(checkout, "src", "main", "scala")
    main_srcs = sources(main_src)
    if not main_srcs:
        fail(f"no Scala sources under {main_src}: run from a source checkout")
    spark = spark_jars(checkout)
    if not os.path.isdir(spark):
        fail(f"Spark jars not found at {spark}")
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    jars = os.path.join(spark, "*")
    main_out = os.path.join(build_dir, "main-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    scalac(main_srcs, main_out, jars, spark, build_dir)
    scalac(sources(os.path.join(HERE, "scala")), bench_out,
           os.pathsep.join([main_out, jars]), spark, build_dir)
    return os.pathsep.join([bench_out, main_out, jars])


def run_jvm(classpath, tmp, args):
    """Run the benchmark JVM with its temporary files (Spark's local dirs
    and the pid-scoped warehouse `DerivedTable` builds into) under `tmp`;
    return its result object (last stdout line)."""
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + java_opens() +
           ["-Xmx3g", "-Xms3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            "-Dlog4j2.level=warn",
            "-cp", classpath, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    return json.loads(lines[-1])


def untraced_baseline(build_dir, workload, seconds):
    """End-to-end metrics of the last untraced run of `workload` in this
    build directory, or None. The traced run's overhead is its own
    end-to-end numbers minus these."""
    path = os.path.join(build_dir, "trace", f"untraced-{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    return rec["metrics"] if rec.get("seconds") == seconds else None


def remember_untraced(build_dir, workload, seconds, res):
    os.makedirs(os.path.join(build_dir, "trace"), exist_ok=True)
    path = os.path.join(build_dir, "trace", f"untraced-{workload}.json")
    with open(path, "w") as f:
        json.dump({"seconds": seconds, "metrics": res["metrics"]}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Fault injection for the benchmark's own tests: drop one delivered
    # alert from a topic, or alter one query result, before the checks.
    ap.add_argument("--inject", choices=("drop_alert", "alter_result"))
    a = ap.parse_args()

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "BENCHMARK.json")):
        fail("run from the root of the repository checkout")
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(checkout, build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    trace_dir = os.path.join(build_dir, "trace")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(CORES), "--trace-dir", trace_dir,
            "--data", os.path.join(HERE, "data"),
            "--manifest", os.path.join(HERE, "registry_manifest.json")]
    if a.inject:
        args += ["--inject", a.inject]
    try:
        # a fresh temporary directory per run: no run finds another's
        # derived tables
        res = run_jvm(classpath, os.path.join(work, "tmp"), args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        # overhead is 0 when no untraced run of this workload is on record
        base = untraced_baseline(build_dir, a.workload, a.seconds)
        metrics = res["layer"]
        for k in [k for k in metrics if k.startswith("trace.e2e.")]:
            name, v = k[len("trace.e2e."):], metrics.pop(k)
            metrics[f"trace.overhead.{name}"] = {
                "value": v["value"] - base[name]["value"] if base else 0.0,
                "unit": v["unit"]}
    else:
        metrics = res["metrics"]
        if not a.inject:
            remember_untraced(build_dir, a.workload, a.seconds, res)

    want = {m["name"]: m["unit"] for m in
            spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    for note in res.get("notes", []):
        print(f"check: {note}")
    for k, v in sorted(metrics.items()):
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    if not a.trace:
        for label, key, unit in HEADLINE_NAMES[a.workload]:
            print(f"{a.workload}.{label} = {metrics[key]['value']:.6g} {unit}")
    rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"error_rate = {rate:.6g} ({res['failed']} of {res['attempted']})")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics}))


if __name__ == "__main__":
    main()
