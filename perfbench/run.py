#!/usr/bin/env python3
"""End-to-end benchmark of graft: serve, ingest_steady and ingest_rebuild.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The script builds the library together with the benchmark's Scala code
(``perfbench/build.sbt``, once per source state), generates the seeded
inputs (``perfbench/gen.py``), runs one workload in one JVM at
``local[nproc]``, checks the outputs, and prints as its last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` a traced run reports the per-layer metrics instead.
Everything it writes stays under ``perfbench/target``,
``perfbench/.sbt-global`` and ``perfbench/.work``.
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

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("serve", "ingest_steady", "ingest_rebuild")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = int(os.environ.get("PERFBENCH_RUN_TIMEOUT_S", "170"))
# input sizes per workload: (scale, steady batches, events per batch)
SIZES = {
    "serve": (1, 0, 0),
    "ingest_steady": (1, 12, 400),
    "ingest_rebuild": (5, 6, 400),
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark with sbt unless this source
    state was built already; returns the runtime classpath and whether
    this call built it."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no graft sources next to perfbench/ "
                         "(run it from the root of a full checkout)")
    out = os.path.join(HERE, "target")
    stamp_file = os.path.join(out, "source.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip(), False
    log("building (sbt compile) ...")
    t0 = time.time()
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
           "compile", "writeClasspath"]
    # resolve only from the local caches, never the network
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(os.path.join(out, "build.log"), "w") as lf:
        p = subprocess.run(cmd, cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                           env=env)
    if p.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed (see {out}/build.log)")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as f:
        return f.read().strip(), True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline, heap="3g"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=deadline - time.time())
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run exceeded its time limit")
        finally:  # on a timeout or a signal, never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    # SIGTERM unwinds like an error, so the JVM and the work dir go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] width (default: nproc)")
    ap.add_argument("--batch-events", type=int, default=0,
                    help="events per steady batch (default: workload size)")
    ap.add_argument("--queries", default="",
                    help="serve: comma-separated query names instead of "
                         "the fixed set")
    ap.add_argument("--keep", action="store_true",
                    help="keep the work directory for inspection")
    a = ap.parse_args()

    cp, built = build()
    # a run that had to build first starts after the build: set-up time
    # and the time limit both leave the compiler out
    t_start = time.time() if built else T_START
    deadline = t_start + RUN_TIMEOUT_S
    n_cores = a.cores or cores()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        scale, batches, per_batch = SIZES[a.workload]
        if a.batch_events:
            per_batch = a.batch_events
        inputs = os.path.join(work, "inputs")
        gen.generate(inputs, a.seed, scale, batches, per_batch)
        record_path = os.path.join(work, "record.json")
        rc = run_jvm(cp, [
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--out", record_path, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n_cores),
            "--t0-ms", str(int(t_start * 1000))]
            + (["--queries", a.queries] if a.queries else []), work, deadline)
        if not os.path.exists(record_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: the run wrote no record (exit {rc})")
        with open(record_path) as f:
            record = json.load(f)
        if a.workload == "serve" and "outputs" in record:
            oracle.check(record, inputs)
        result = metrics.result(record, a.trace == 1)
        metrics.save(HERE, a, record, result)
        for line in metrics.human(record, result):
            print(line)
        print(json.dumps(result))
        if rc != 0 or not result["correct"]:
            sys.exit(1)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
