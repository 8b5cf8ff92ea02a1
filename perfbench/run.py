#!/usr/bin/env python3
"""Warm-pass benchmark of the graft engine.

    python3 perfbench/run.py --workload gallery --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
among the Spark jars build.sbt names, untimed, into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse it while the
sources are unchanged. The inputs are the sf0.1 tables graft.Bench reads
($PERFBENCH_DATA overrides). Each run then starts one plain `java`
process for one workload (no sbt), with its own warehouse, Derby
metastore, tmpdir and Spark local dir under the build directory, deleted
at exit.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics). The lines before it give every metric with its unit,
the seed, the pass times and the host's CPU steal and load average.

`--workload all` runs every workload in turn.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
EXPECTED = os.path.join(HERE, "expected.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["gallery", "hive_io"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
HEAP = "6g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def repo_setting(path, pattern, what):
    """A path the repository's own build or bench names, read from its source."""
    try:
        with open(os.path.join(ROOT, path)) as fh:
            m = re.search(pattern, fh.read())
    except OSError:
        m = None
    if not m:
        fail(f"cannot find {what} in {path}; run from the repository root")
    return m.group(1)


# The Spark jars sbt compiles against, and the sf0.1 tables graft.Bench
# reads by default; PERFBENCH_DATA overrides the tables.
def spark_jars():
    return repo_setting("build.sbt", r'unmanagedBase := file\("([^"]+)"\)', "the Spark jars")


def add_opens():
    """build.sbt's --add-opens flags: Spark on JDK 17 outside spark-submit."""
    block = repo_setting("build.sbt", r"val jdk17AddOpens = Seq\(([^)]*)\)", "jdk17AddOpens")
    pkgs = re.findall(r'"([^"]+)"', block)
    if not pkgs:
        fail("jdk17AddOpens in build.sbt names no package")
    return [x for p in pkgs for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def data_dir():
    return os.environ.get("PERFBENCH_DATA") or repo_setting(
        os.path.join("src", "main", "scala", "graft", "Bench.scala"),
        r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', "the bench input tables")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def scala_files(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def source_hash(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def scalac(sources, out, classpath, jars, log):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + args]
    with open(log, "ab") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"compile of {sources[0]} ... failed (rc={rc})")


def build():
    """Compiles engine and harness once per source state; returns the classpath."""
    engine = scala_files(ENGINE_SRC)
    harness = scala_files(HARNESS_SRC)
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}; run from the repository root")
    spark = spark_jars()
    if not harness or not os.path.isdir(spark):
        fail(f"missing harness sources or Spark jars ({spark})")
    base = build_dir()
    out = os.path.join(base, "classes-" + source_hash(engine + harness, spark))
    jars = os.path.join(spark, "*")
    cp = os.pathsep.join([os.path.join(out, "harness"), os.path.join(out, "engine"), jars])
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    t = time.time()
    scalac(engine, os.path.join(out, "engine"), jars, spark, log)
    scalac(harness, os.path.join(out, "harness"),
           os.pathsep.join([os.path.join(out, "engine"), jars]), spark, log)
    open(os.path.join(out, "ok"), "w").close()
    print(f"built engine and harness in {time.time() - t:.1f} s", file=sys.stderr)
    return cp


def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[0]


def run_jvm(cp, data, workload, seed, seconds, trace):
    """One workload in one JVM; returns the harness's result dict."""
    base = build_dir()
    work = os.path.join(base, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(base, "traces", f"{workload}-seed{seed}.jsonl")
    log = os.path.join(work, "jvm.log")
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    proc = None
    try:
        t0_ms = int(time.time() * 1000)
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + add_opens()
               + ["-cp", cp, "org.apache.spark.perfbench.PerfBench",
                  f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
                  f"trace={trace}", f"data={data}", f"work={os.path.join(work, 'w')}",
                  f"expected={EXPECTED}", f"result={result}", f"spans={spans}",
                  f"t0={t0_ms}"])
        with open(log, "wb") as fh:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        with open(log, errors="replace") as fh:
            text = fh.read()
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(text[-6000:])
            fail(f"{workload} JVM exited with {rc}")
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                print(line[:400], file=sys.stderr)
        with open(result) as fh:
            return json.load(fh)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def report(spec, workload, seed, trace, res, host):
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = res.get(m["name"])
        if not isinstance(v, (int, float)):
            fail(f"{workload}: metric {m['name']} missing from the harness result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(f"workload={workload} seed={seed} trace={trace} passes={res['pass_walls']}")
    print(f"host: cpu_steal_pct={host['steal_pct']:.2f} loadavg_start={host['load_start']} "
          f"loadavg_end={host['load_end']}")
    for k, v in metrics.items():
        print(f"  {workload:8s} {k:40s} {v['value']:>16.6f} {v['unit']}")
    if res.get("failures"):
        print(f"failures: {res['failures']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    # A TERM from the caller unwinds through run_jvm's cleanup, which
    # kills and reaps the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(SPEC):
        fail(f"{SPEC} not found; run from the repository root")
    with open(SPEC) as fh:
        spec = json.load(fh)
    cp = build()
    data = data_dir()
    if not os.path.isdir(data):
        fail(f"input tables not found at {data} (set PERFBENCH_DATA)")
    out = None
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        total0, steal0 = cpu_times()
        load0 = loadavg()
        res = run_jvm(cp, data, w, a.seed, a.seconds, a.trace)
        total1, steal1 = cpu_times()
        host = {"steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
                "load_start": load0, "load_end": loadavg()}
        out = report(spec, w, a.seed, a.trace, res, host)
        if a.workload == "all":
            print(json.dumps(out))
    if out is not None and a.workload != "all":
        print(json.dumps(out))


if __name__ == "__main__":
    main()
