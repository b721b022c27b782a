#!/usr/bin/env python3
"""Gridded-ETL benchmark launcher.

    python3 etlbench/run.py --workload <daily_cycle|text_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds graft's main sources and
the benchmark's own Scala sources with the Scala compiler that ships in
Spark's jars (first run only; later runs reuse the build keyed by a hash
of the sources), waits for the machine's CPUs to settle, runs one
workload in one JVM, and prints its result JSON as the last line of
stdout. Exits non-zero, printing no result, when the build, the preflight
or the run fails, and exits 1 (after printing the result) when an
operation failed or returned a wrong output.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[etlbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources(d, exts):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(exts)]
    return sorted(out)


def build(jars):
    """Compile graft (src/main) and the benchmark once per source hash."""
    main_src = os.path.join(ROOT, "src", "main")
    graft = sources(os.path.join(main_src, "scala"), (".scala", ".java"))
    bench = sources(os.path.join(HERE, "src"), (".scala",))
    resources = os.path.join(main_src, "resources")
    if not graft or not bench or not os.path.isdir(resources):
        fail("sources missing: run from the root of a graft checkout")
    h = hashlib.sha256()
    # the launcher too: it decides what a build holds
    for f in graft + bench + sources(resources, ("",)) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="building-", dir=BUILD)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    for name, srcs, classpath in (("graft", graft, cp),
                                  ("bench", bench, cp + os.pathsep + os.path.join(tmp, "graft"))):
        dest = os.path.join(tmp, name)
        os.makedirs(dest)
        argfile = os.path.join(tmp, name + ".args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        log = os.path.join(tmp, name + ".log")
        with open(log, "w") as fh:
            rc = subprocess.call(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                                  "scala.tools.nsc.Main",
                                  "-nowarn", "-classpath", classpath, "-d", dest, "@" + argfile],
                                 stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compiling {name} failed")
    # the data sources register through META-INF/services
    shutil.copytree(resources, os.path.join(tmp, "graft"), dirs_exist_ok=True)
    # jars, not directories: the JVM archives shared class data from jars only
    for name in ("graft", "bench"):
        d = os.path.join(tmp, name)
        with zipfile.ZipFile(os.path.join(tmp, name + ".jar"), "w") as z:
            for f in sources(d, ("",)):
                z.write(f, os.path.relpath(f, d))
        shutil.rmtree(d)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and os.path.join(BUILD, old) != out:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    print(f"[etlbench] built in {time.time() - t0:.0f}s", file=sys.stderr)
    return out


def heap():
    """Tier-1 test sizing: half of physical memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_times():
    """(busy, steal, total) jiffies of all CPUs so far, from /proc/stat;
    busy includes steal, the time the hypervisor gave to someone else."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return sum(v) - v[3] - v[4], v[7], sum(v)


def busy_cpus(interval_s=1.0):
    """CPUs kept busy over the next `interval_s` seconds."""
    b0, _, t0 = cpu_times()
    time.sleep(interval_s)
    b1, _, t1 = cpu_times()
    return (b1 - b0) / max(1, t1 - t0) * (os.cpu_count() or 1)


def settle(cores, cap_s=30.0):
    """Wait, bounded, until fewer than max(2, nproc/2) CPUs are busy.

    graft's Bench waits up to 90 s for the 1-minute load average to fall
    below the same target. That average decays with a 60 s time constant,
    so after the previous run it mostly reads that run's own, finished
    load: 90 s per run does not fit the run budget, and a short cap makes
    the wait do nothing. Busy CPUs sampled over one second show only what
    is still running now."""
    target = max(2.0, cores / 2)
    t0 = time.time()
    busy = busy_cpus()
    while busy >= target and time.time() - t0 < cap_s:
        busy = busy_cpus()
    return time.time() - t0, busy, os.getloadavg()[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    classes = build(jars)
    cores = os.cpu_count() or 1
    waited, busy, load = settle(cores)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # class-data sharing: the first run of a workload archives the classes it
    # loaded, and later runs map them instead of loading and verifying them
    # again, which saves seconds of every run's start-up and cold set-up
    jsa = os.path.join(classes, a.workload + ".jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.isfile(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}.part")
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp,
    # outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.join(classes, "bench.jar"),
                                      os.path.join(classes, "graft.jar"), os.path.join(jars, "*")]),
              "etlbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--spans", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")])
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=ROOT, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[2] - cpu0[2])
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        run = json.loads(lines[-1])
        values = run["values"]
    except (IndexError, ValueError, KeyError):
        fail(f"no result line (exit code {proc.returncode})", proc.returncode or 5)
    declared = spec["per_layer" if a.trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in declared}
    missing = {m["name"] for m in declared} - set(values)
    if unknown or (missing and not a.trace):
        fail(f"metrics not matching BENCHMARK.json: unknown {sorted(unknown)}, missing {sorted(missing)}", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps({"launcher": {"cpu_wait_s": round(waited, 1), "busy_cpus": round(busy, 2),
                                   "load_1m": load, "steal_share": round(steal, 4),
                                   "heap": heap(), "classes": os.path.basename(classes)}}))
    # a traced run reads a layer its workload does not touch as 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": run["correct"], "attempted": run["attempted"],
                      "failed": run["failed"], "metrics": metrics}))
    if os.path.isfile(jsa + ".part"):
        if proc.returncode == 0:
            os.replace(jsa + ".part", jsa)
        else:
            os.remove(jsa + ".part")
    sys.exit(0 if run["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
