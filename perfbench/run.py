#!/usr/bin/env python3
"""graft benchmark: fraud streams and the batch query surface.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library from src/main/scala plus the runner in perfbench/src
into .bench_build/ (skipped when the sources are unchanged), runs one
workload in a fresh JVM on local[nproc], checks its outputs and prints
every metric by name. The last stdout line is the JSON result.

Workloads (WORKLOADS.md says why each exists):
  stream_tumbling     open loop, TransactionGen -> tumblingAlerts -> alert sink
  stream_sliding_ooo  open loop, perturbed input -> streamingPaneSlidingAgg -> sink
  batch_surface       closed loop, one client: builds, then the rows of surface_rows.txt

Other modes:
  --probe <rate>      capacity probe of a stream workload at <rate> rows/s
  --record <dir>      write fingerprints.json from a graft.Verify dump
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORKLOADS = ("stream_tumbling", "stream_sliding_ooo", "batch_surface")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise BenchError("no library sources under src/main/scala")
    return lib + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(jars):
    """Compiles library + runner with the Scala compiler Spark ships."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
            stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
    if rc != 0:
        raise BenchError(f"build failed, see {log}:\n" + tail(log))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm(classes, jars, args, tag):
    """Runs the runner in its own JVM; returns the raw record it wrote."""
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(BUILD, "logs", tag + ".raw.json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "graft.perfbench.Main",
              "--cores", str(cores()), "--work", work, "--out", out] + args)
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S, cwd=ROOT).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"runner timed out after {JVM_TIMEOUT_S} s, see {log}")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"runner failed (exit {rc}), see {log}:\n" + tail(log))
    shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        return json.load(f)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def run_workload(classes, jars, a, trace):
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", "1" if trace else "0"]
    if a.workload == "batch_surface":
        args += ["--data", os.path.join(HERE, "data", "sf0.01"),
                 "--input", os.path.join(HERE, "surface_rows.txt")]
    raw = jvm(classes, jars, args, f"{a.workload}-{a.seed}-{int(trace)}")
    if raw["kind"] == "stream":
        e2e, attempted, failed = benchlib.stream_metrics(raw)
        layers = benchlib.stream_layers(raw)
        notes = [f"check {raw['check']}", f"rate {raw['rate']} rows/s"]
    else:
        e2e, attempted, failed, bad = benchlib.batch_metrics(raw, load("fingerprints.json"))
        layers = benchlib.batch_layers(raw, load("modules.json"))
        notes = [f"failed {n}: {why}" for n, why in bad[:10]]
        notes.append(f"{len(raw['passes'])} pass(es) of {len(raw['first'])} rows "
                     f"after {len(raw['builds'])} builds")
    return raw, e2e, attempted, failed, layers, notes


def show(title, values, spec):
    print(title)
    for name, unit in spec:
        if name in values:
            print(f"  {name:<32} {values[name]:>16.4f} {unit}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", type=int, metavar="RATE")
    ap.add_argument("--record", metavar="VERIFY_DIR")
    a = ap.parse_args()
    try:
        jars = spark_jars()
        classes = build(jars)
        if a.record:
            fp = jvm(classes, jars, ["--mode", "record", "--input", os.path.abspath(a.record)],
                     "record")
            with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
                f.write("{\n" + ",\n".join(f" {json.dumps(k)}: {json.dumps(v)}"
                                            for k, v in sorted(fp.items())) + "\n}\n")
            print(f"recorded {len(fp)} fingerprints")
            return 0
        if not a.workload:
            ap.error("--workload is required")
        if a.probe:
            print(json.dumps(jvm(classes, jars, ["--mode", "probe", "--workload", a.workload,
                                                 "--rate", str(a.probe),
                                                 "--seconds", str(a.seconds)], "probe")))
            return 0
        raw, e2e, attempted, failed, layers, notes = run_workload(classes, jars, a, a.trace == 1)
        for n in notes:
            print(n)
        show(f"{a.workload} seed {a.seed}, end to end{' (traced)' if a.trace else ''}:",
             e2e, benchlib.E2E)
        share = benchlib.failed_share(attempted, failed)
        print(f"  {'failed_share':<32} {share:>16.4f} share ({failed} of {attempted})")
        # the last untraced result of this build, for the tracing overhead
        cache = os.path.join(BUILD, "results", f"{a.workload}.json")
        with open(os.path.join(BUILD, "classes.stamp")) as f:
            stamp = f.read()
        if a.trace == 0:
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump({"stamp": stamp, "e2e": e2e}, f)
            spec, values = benchlib.E2E, e2e
        else:
            base = None
            if os.path.exists(cache):
                with open(cache) as f:
                    last = json.load(f)
                base = last["e2e"] if last.get("stamp") == stamp else None
            if base is None:
                print("no untraced run of this build yet: trace_overhead.* read 0")
            values = benchlib.per_layer(raw, layers, share, e2e, base)
            spec = benchlib.PER_LAYER
            show("per layer:", values, spec)
        print(json.dumps(benchlib.result(failed == 0, attempted, failed, values, spec)))
        return 0
    except (BenchError, benchlib.NotEnoughSamples, ValueError, KeyError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
