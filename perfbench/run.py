#!/usr/bin/env python3
"""graft benchmark: times named subsets of SparkEntry.queries end to end, and
splits a traced run's time by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The program and the harness are built from the checkout's sources with sbt
on first use (cached under .bench_build/perfbench, keyed by a hash of the
sources). Inputs are the committed tables under perfbench/data, their rows
permuted by the seed, written to a fresh per-run directory together with
the run's java.io.tmpdir, so lakes of an earlier or crashed run never leak
in. The last line of stdout is the JSON result; the full record (header,
passes, per-query phases, spans) is kept under .bench_build/perfbench/records.
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

import numpy as np
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["acled_pipeline", "lake_refresh"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# The harness JVM compiles with C1 only and collects with the parallel
# collector on a fixed heap. With the default tiered C2, the compile threads
# took more than half the process CPU of every timed pass and were still busy
# when a run ended; with G1, the writers' large buffers were humongous
# allocations that started a concurrent cycle every few hundred ms. Either
# made a pass's time depend on how far that background work had got, which
# on a shared 4-core host varied by tens of percent from run to run. With
# these flags most of the compile work ends within the warmup passes, and the
# only collections are the full ones the harness asks for between queries.
JVM = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles program + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    # `export` prints the classpath as one bare line, after sbt's [info] lines
    cps = [l.strip() for l in p.stdout.splitlines() if "target/scala-" in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt printed no runtime classpath")
    cp = cps[-1]
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cp


def make_inputs(seed, dst):
    """The committed tables with their rows permuted by the seed: the same
    logical inputs in a seed-specific physical order, so the expected output
    fingerprints hold for every seed while the scans see different files."""
    rng = np.random.default_rng(seed)
    os.makedirs(dst)
    for t in TABLES:
        tab = pq.read_table(os.path.join(BENCH, "data", f"{t}.parquet"))
        pq.write_table(tab.take(rng.permutation(tab.num_rows)), os.path.join(dst, f"{t}.parquet"))


def host_probe():
    """Seconds a fixed single-threaded loop takes: the host's speed at the
    time. On a shared host it moves by tens of percent over minutes without
    any steal, and this is how a run slowed by its neighbours shows it."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", metavar="FILE",
                    help="run one pass and write its output fingerprints to FILE")
    a = ap.parse_args()
    # a SIGTERM unwinds through the clean-up below instead of ending the
    # process where it stands
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft/SparkEntry.scala not found)")
    cp = build()

    run_dir = os.path.join(OUT, "runs", f"{os.getpid()}-{time.time_ns()}")
    data, tmp = os.path.join(run_dir, "data"), os.path.join(run_dir, "tmp")
    record = os.path.join(run_dir, "record.json")
    try:
        make_inputs(a.seed, data)
        os.makedirs(tmp)
        cmd = (["java", *JVM, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Harness",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--expected", os.path.join(BENCH, "expected.json"),
                  "--record", record, "--sha", git_sha()]
               + (["--record-expected", os.path.abspath(a.record_expected)]
                  if a.record_expected else []))
        probe = [host_probe()]
        proc = subprocess.Popen(cmd, cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {RUN_TIMEOUT_S} s")
        finally:
            # on every way out, the harness and anything it started end
            # before this process does
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if code != 0:
            fail(f"harness exited with {code}")
        if a.record_expected:
            return
        probe.append(host_probe())
        print(f"# host probe: {probe[0]:.3f} s before the run, {probe[1]:.3f} s after", flush=True)
        with open(record) as f:
            rec = json.load(f)
        rec["host_probe_s"] = probe
        keep = os.path.join(OUT, "records")
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(
                keep, f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"), "w") as f:
            json.dump(rec, f)
        res = rec["result"]
        print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
