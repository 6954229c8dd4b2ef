#!/usr/bin/env python3
"""graft end-to-end benchmark: build, run one workload, print one JSON line.

    python3 perfbench/run.py --workload coach_live --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the library
(src/main/scala) together with the benchmark sources (perfbench/src) with
the Scala compiler that ships in the Spark distribution; later runs reuse
the classes while no source changed. Everything the benchmark writes stays
under perfbench/.build (classes) and perfbench/.work (scratch, run records,
spans).

The last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}; the exit code is non-zero
when the build fails, the JVM fails, or an output check fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("coach_live", "coach_backlog", "curate_crawl", "curate_batch", "crawl_cycle")
RUN_TIMEOUT_S = 170

# The JVM options build.sbt gives `run` (JDK 17 module opens that Spark
# needs outside spark-submit, UI off, UTC, code-cache headroom), except the
# heap: 2 GiB instead of up to SPARK_DRIVER_MEM's 8g, so that a run stays
# small on a shared machine, and sized from the start (not pre-touched),
# so that collections come at the same heap occupancy in every run.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms2g", "-Xmx2g",
    "-XX:ReservedCodeCacheSize=512m",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(log("no Spark distribution at " + jars) or 2)
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "java"),
             os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files
                    if f.endswith(".scala") or f.endswith(".java")]
    return sorted(out)


def build():
    """Compile library + benchmark into one jar, once per source set."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        log("library sources (src/main/scala) not found: run from a full checkout")
        sys.exit(2)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = spark_jars()
    scalac = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars)
                         if j.endswith(".jar")))
    subprocess.run(["rm", "-rf", CLASSES, STAMP], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log("compiling %d sources" % len(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
                        "-Xss8m", "-Xmx3g", "-cp", scalac,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", CLASSES, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        log("compile failed")
        sys.exit(2)
    log("compiled in %.1f s" % (time.time() - t0))
    with open(STAMP, "w") as f:
        f.write(digest)


def classpath():
    jars = spark_jars()
    return ":".join([CLASSES] + sorted(os.path.join(jars, j) for j in os.listdir(jars)
                                   if j.endswith(".jar")))


def run_jvm(main_args, timeout_s):
    """Run the benchmark JVM in its own process group; return (rc, rusage, stdout lines).

    The JVM gets the launch time (wall-clock ms) as --launch-ms: set-up
    time runs from there to the first timed operation."""
    cp = classpath()
    tmpdir = os.path.join(WORK, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # every scratch path of the JVM, Spark and Hadoop stays in the checkout;
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData"] + JVM_FLAGS + [
        "-Djava.io.tmpdir=" + tmpdir,
        "-Dspark.local.dir=" + tmpdir,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmpdir,
        "-Dperfbench.jvmFlags=" + " ".join(JVM_FLAGS),
        "-cp", cp, "graft.perfbench.Main"] + main_args
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         start_new_session=True, text=True)
    deadline = time.time() + timeout_s
    lines = []
    # the JVM's stdout is collected, not relayed: run.py prints the result

    def pump():
        for line in p.stdout:
            lines.append(line)
    t = threading.Thread(target=pump, daemon=True)
    t.start()
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid != 0:
            break
        if time.time() > deadline:
            log("timeout after %d s: stopping the JVM" % timeout_s)
            os.killpg(p.pid, signal.SIGKILL)
            pid, status, ru = os.wait4(p.pid, 0)
            break
        time.sleep(0.05)
    t.join(timeout=5)
    try:
        os.killpg(p.pid, signal.SIGKILL)  # stray children of the JVM, if any
    except ProcessLookupError:
        pass
    rc = os.waitstatus_to_exitcode(status)
    return rc, ru, lines


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    build()
    os.makedirs(WORK, exist_ok=True)
    load0 = os.getloadavg()
    cpu0 = cpu_times()
    if a.selftest:
        rc, _, lines = run_jvm(["--selftest"], RUN_TIMEOUT_S)
        sys.stdout.write("".join(lines))
        sys.exit(rc)
    rc, ru, lines = run_jvm(
        ["--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--work", WORK, "--load-before", "%.2f" % load0[0]], RUN_TIMEOUT_S)
    out = None
    for line in reversed(lines):
        if line.startswith("{"):
            out = json.loads(line)
            break
    if rc != 0 or out is None:
        log("benchmark JVM failed (exit %d)" % rc)
        sys.exit(rc or 3)
    spec = load_spec()
    # peak RSS of the JVM at exit (ru_maxrss is KiB on Linux: VmHWM), for
    # the run record; it follows the collector's heap sizing more than
    # the program, so the end-to-end memory figure is the JVM's own
    peak_mb = ru.ru_maxrss / 1024.0
    if a.trace == 0:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in out["e2e"]]
        if missing:
            log("workload did not measure " + ", ".join(missing))
            sys.exit(3)
        metrics = {m["name"]: {"value": out["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        # layers a workload bypasses read 0 (the "flat on" column)
        metrics = {m["name"]: {"value": out["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    result = {"correct": out["correct"], "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    rec_path = out.get("record")
    if rec_path:
        with open(rec_path) as f:
            rec = json.load(f)
        rec["peak_rss_mb"] = peak_mb
        rec["load_avg_after"] = round(os.getloadavg()[0], 2)
        # share of CPU time the hypervisor gave to other guests during the
        # run: a noisy-neighbour figure to read the run's timings against
        cpu1 = cpu_times()
        rec["cpu_steal_share"] = round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4)
        with open(rec_path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps(result, sort_keys=True))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
