#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload queries_sf01 --seed 1 --seconds 10 --trace 0

Builds graft and the harness if the sources changed (perfbench/build.py).
Generates the workload's input tables in a JVM of its own (perfbench.Prepare)
unless perfbench/.cache already holds them for these graft and harness
sources, then runs one measured JVM (perfbench.Harness) with local[4];
fewer than 4 processors are refused. Every table, checkpoint and Spark
temp file a run writes lives in a fresh directory under perfbench/.runs,
removed when the run ends.

stdout: a stamp line (nproc, N, heap, Spark version, commit), detail
lines, and as the last line one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# workload: scale factor of the generated tables (0.1 = 600,000 lineitem rows)
WORKLOADS = {"queries_sf01": "0.1", "ingest_append": "0.1"}
CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 170
CACHES_KEPT = 2
PROCS = []  # every JVM this run started
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def commit():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources:" + build.stamp_of(build.sources())[:16]


def spark_version():
    jars = glob.glob(os.path.join(build.spark_jars(), "spark-core_*.jar"))
    return os.path.basename(jars[0]).rsplit("-", 1)[1][:-4] if jars else "unknown"


def java(cp, work, main, args, timeout, stdout=None):
    """Starts `main` in a JVM with the benchmark's settings and its temp
    files under `work`; it is killed after `timeout` seconds."""
    # C1 only: a run is too short for C2 to settle, and its background
    # compiles made the CPU and wall time of a pass vary most. A fixed
    # heap size: with a growing heap the resident size depended on when
    # the collector grew it, and peak_rss_mb varied by a fifth
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    proc = subprocess.Popen(cmd, stdout=stdout, text=True, env=env, cwd=work)
    PROCS.append(proc)
    watchdog = threading.Timer(timeout, proc.kill)
    watchdog.daemon = True
    watchdog.start()
    return proc, watchdog


def wait(proc, watchdog):
    rc = proc.wait()
    watchdog.cancel()
    return rc


def inputs(cp, sf, work):
    """Directory of the generated tables at scale `sf` for the current
    graft and harness builds, generated first if missing. The
    CACHES_KEPT most recently used directories are kept, so runs that
    alternate two builds do not regenerate."""
    root = os.path.join(HERE, ".cache")
    os.makedirs(root, exist_ok=True)
    stamps = "".join(open(os.path.join(build.OUT, f"{s}.stamp")).read()[:8] for s in ("graft", "harness"))
    data = os.path.join(root, f"sf{sf}-{stamps}")
    ready = os.path.join(data, "_READY")
    if not os.path.isfile(ready):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"perfbench: generating sf{sf} tables", file=sys.stderr, flush=True)
        proc, watchdog = java(cp, os.path.join(work, "prepare"), "perfbench.Prepare",
                              [tmp, sf], JVM_TIMEOUT_S)
        if wait(proc, watchdog) != 0:
            sys.exit("perfbench: generating the tables failed")
        os.rename(tmp, data)
        open(ready, "w").close()
    os.utime(ready)
    mine = sorted((d for d in os.listdir(root) if d.startswith(f"sf{sf}-")),
                  key=lambda d: os.path.getmtime(os.path.join(root, d, "_READY"))
                  if os.path.isfile(os.path.join(root, d, "_READY")) else 0)
    for old in mine[:-CACHES_KEPT]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return data


def metrics(values, trace):
    """The result's metrics: BENCHMARK.json's end-to-end set (trace 0) or
    per-layer set (trace 1), with their units. An end-to-end metric the
    harness did not measure is an error; a layer the workload does not
    run reads 0."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in spec}
    if set(values) - names:
        sys.exit(f"perfbench: undeclared metrics {sorted(set(values) - names)}")
    if not trace and names - set(values):
        sys.exit(f"perfbench: end-to-end metrics not measured {sorted(names - set(values))}")
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", help="override the workload's scale factor")
    ap.add_argument("--record", help="append the run's fingerprints to this file")
    a = ap.parse_args()

    nproc = os.cpu_count() or 1
    if nproc < CORES:
        sys.exit(f"perfbench: refusing local[{CORES}] on nproc={nproc}")
    cp = build.build()
    sf = a.sf or WORKLOADS[a.workload]
    runs = os.path.join(HERE, ".runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    result = None
    # a stopped benchmark stops its JVMs too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        data = inputs(cp, sf, work)
        print(json.dumps({"stamp": {"workload": a.workload, "seed": a.seed, "nproc": nproc,
                                    "cores": CORES, "heap": HEAP, "spark": spark_version(),
                                    "commit": commit(), "sf": sf}}), flush=True)
        args = (["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--cores", str(CORES), "--sf", sf,
                 "--data", data, "--pins", os.path.join(HERE, "pins.tsv")]
                + (["--record", os.path.abspath(a.record)] if a.record else []))
        proc, watchdog = java(cp, work, "perfbench.Harness", args, JVM_TIMEOUT_S, subprocess.PIPE)
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stdout.write(line)
        rc = wait(proc, watchdog)
    finally:
        for p in PROCS:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    if rc != 0 or result is None:
        sys.exit(f"perfbench: harness exit {rc}, no result")
    result["metrics"] = metrics(result.pop("values"), a.trace)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
