#!/usr/bin/env python3
"""graft benchmark launcher.

Builds graft's main sources and the benchmark's own Scala sources with the
Scala compiler shipped in Spark's jars, runs one workload in a plain JVM (no
sbt), and prints the result as the last line of standard output:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Build output, logs and traces go to
.bench_build/ there. `--selftest` runs every workload at a toy size and
checks that a deliberately wrong answer is counted as a failure.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl", "scale_pair")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the first spark-submit on PATH
    whose installation has a jars directory with spark-core in it."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    die("Spark not found: set SPARK_HOME")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not graft:
        die("no graft sources under src/main/scala; run from a graft checkout")
    if not bench:
        die("no benchmark sources under perfbench/src")
    return graft + bench


def build():
    """Compiles graft and the benchmark once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "BUILT")):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            die("build failed")
        open(os.path.join(out, "BUILT"), "w").close()
    return out


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 (as the Tier-1 line)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(classes, workload, seed, seconds, trace, extra=()):
    """Runs one workload in its own JVM; returns the parsed result line."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(BUILD, f"run-{os.getpid()}-{tag}")
    logs = os.path.join(BUILD, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, tag + ".log")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-Xss16m", "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dgraftbench.log=" + log,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
        "graftbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work] + list(extra)
    proc = None
    try:
        with open(log + ".stderr", "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"{tag} timed out after {RUN_TIMEOUT_S} s; see {log}.stderr")
    finally:
        # Also on SIGTERM (see main) and timeouts: never leave the JVM behind.
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log + ".stderr") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"{tag} exited with {proc.returncode} and no result")
    return json.loads(lines[-1])


def select_metrics(result, trace):
    """Keeps exactly the metrics BENCHMARK.json lists for this mode. A
    per-layer metric of a layer the workload does not run reads 0."""
    listed = spec()["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    out, zero = {}, []
    for m in listed:
        if m["name"] in got:
            out[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
            zero.append(m["name"])
        else:
            die(f"end-to-end metric {m['name']} missing from the result")
    if zero:
        print("perfbench: not on this workload, reported as 0: " + " ".join(zero), file=sys.stderr)
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": out}


def selftest(classes):
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            r = select_metrics(run_once(classes, w, 7, 1, trace, ["--size", "toy"]), trace)
            good = r["correct"] and r["failed"] == 0 and r["attempted"] > 0
            print(f"selftest {w} trace={trace}: attempted={r['attempted']} failed={r['failed']} "
                  f"{'ok' if good else 'FAILED'}")
            ok &= good
    r = run_once(classes, "scale_pair", 7, 1, 0, ["--size", "toy", "--perturb", "1"])
    caught = (not r["correct"]) and r["failed"] > 0
    print(f"selftest perturbed answer: failed={r['failed']} {'caught' if caught else 'NOT CAUGHT'}")
    return ok and caught


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the repository root")
    classes = build()
    if a.selftest:
        sys.exit(0 if selftest(classes) else 1)
    if not a.workload:
        die("--workload is required")
    result = select_metrics(run_once(classes, a.workload, a.seed, a.seconds, a.trace), a.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
