#!/usr/bin/env python3
"""graft's benchmark: one workload per run, one client thread, closed loop.

    python3 perfbench/run.py --workload store_serve --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark client with sbt (perfbench/build.sbt) and caches the classpath;
later runs start the client JVM directly. The last line of standard output
is one JSON object: correct, attempted, failed and the metrics (end-to-end
ones with --trace 0, per-layer ones with --trace 1). A record of the run,
with the host's CPU steal and load average, goes to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("store_serve", "ops_sf001")
END_TO_END_UNITS = {"setup_s": "s", "p50_ms": "ms", "p80_ms": "ms",
                    "rows_per_s": "rows/s", "bytes_per_user_byte": "ratio"}
DEADLINE_S = 175  # every run must end within 180 s of its start
BUILD_DEADLINE_S = 700  # the first run in a checkout builds, within 900 s

# Spark on JDK 17 outside spark-submit, as in graft's build.sbt
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_sample():
    """CPU counters from /proc/stat and the 1-minute load average."""
    try:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        cpu = []
    return {"cpu": cpu, "load1": os.getloadavg()[0]}


def host_record(start, end):
    """Steal share of CPU time between two samples, and the load average
    at both ends. Recorded beside the metrics, never gated."""
    rec = {"load1_start": start["load1"], "load1_end": end["load1"]}
    if len(start["cpu"]) > 7 and len(end["cpu"]) > 7:
        d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
        total = sum(d[:8])
        rec["steal_share"] = d[7] / total if total else 0.0
    return rec


def run_bounded(cmd, cwd, env, log, deadline):
    """Run `cmd` in its own process group with output to `log`; past the
    deadline kill the whole group. Returns the exit code or "timeout"."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(deadline):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") + \
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dsbt.server.autostart=false"
    print("perfbench: building graft and the benchmark client with sbt", file=sys.stderr)
    log = os.path.join(BUILD, "sbt.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, log, deadline)
    with open(log) as f:
        lines = f.read().strip().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"sbt build failed ({code})", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_client(cp, plan_file, work, record, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Dgraft.stage.dir={os.path.join(work, 'stage')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graftbench.Main", plan_file, work, record, str(trace)]
    # graft's tuning knobs stay at their defaults; Spark's scratch space
    # stays inside the run's work directory
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log = os.path.join(work, "client.log")
    code = run_bounded(cmd, work, env, log, deadline)
    if code != 0:
        with open(log) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"client process failed ({code})", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "core",
                                       "HelixStore.scala")):
        die(f"no graft sources under {ROOT}; run from the root of a graft checkout")

    host0 = host_sample()
    cp = classpath(t_start + BUILD_DEADLINE_S)
    cores = len(os.sched_getaffinity(0))
    if a.workload == "store_serve":
        plan = gen.plan_store_serve(a.seed, a.seconds, cores)
    else:
        plan = gen.plan_ops_sf001(a.seed, a.seconds, cores, DATA)

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan_file = os.path.join(work, "plan.txt")
        with open(plan_file, "w") as f:
            f.write(plan.text())
        record_file = os.path.join(work, "record.json")
        # the client's clock starts after the build, so a run that built
        # still gets the full time for the workload
        run_client(cp, plan_file, work, record_file, a.trace, time.time() + DEADLINE_S)
        with open(record_file) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, notes = report.check(a.workload, rec, plan)
    e2e = report.end_to_end(a.workload, rec, DATA)
    prefixes = gen.load_slice()["prefixes"]
    layers = report.per_layer(a.workload, rec, cores, prefixes) if a.trace else None
    host = host_record(host0, host_sample())
    for n in notes:
        print(f"perfbench: check failed: {n}", file=sys.stderr)
    print(f"perfbench: host {json.dumps(host)}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v, "unit": report.unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "cores": cores, "host": host,
                   "counts": {op: sum(s["op"] == op for s in rec["samples"])
                              for op in sorted({s["op"] for s in rec["samples"]})},
                   "session_s": rec["session_ready_us"] / 1e6 - rec["jvm_start_ms"] / 1e3,
                   "loop_s": (rec["loop_end_us"] - rec["loop_start_us"]) / 1e6,
                   "counters": rec["counters"],
                   "latencies_ms": {op: [round((s["end_us"] - s["start_us"]) / 1e3, 3)
                                         for s in rec["samples"] if s["op"] == op]
                                    for op in sorted({s["op"] for s in rec["samples"]})},
                   "end_to_end": e2e, "per_layer": layers, "check_notes": notes,
                   "result": result}, f, indent=1, sort_keys=True)
    if a.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump({"run": os.path.basename(stem), "start_ms": rec["jvm_start_ms"],
                       **{k: rec[k] for k in ("spans", "jobs", "stages")}}, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
