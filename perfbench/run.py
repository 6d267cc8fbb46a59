#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The launcher

1. builds the library and the benchmark from source with sbt (once per
   source tree: a digest of every source and build file is kept with the
   exported classpath under perfbench/.work/build);
2. generates the workload's synthetic tables (gen_data.py, fixed data
   seed) into perfbench/.work/data, and checks their row counts before
   every run;
3. runs the workload in one driver JVM (graft.perfbench.Main) and prints
   its result as the last line of standard output:
   {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--seed` chooses the order of independent jobs and the micro-batch split
of the event stream; the input tables do not depend on it, so every
output can be checked against the digests in expected.json. Every file
the run writes stays under perfbench/.work.

Options for maintenance: `--record 1` rewrites the expected digests of
the workload's dataset from this run; `--scale <sf>` runs on another
data scale (the self-test uses sf0.001).
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

sys.dont_write_bytecode = True
import gen_data  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# data scale factor of each workload
WORKLOADS = {
    "etl": {"scale": 0.1},
    "dedup_graph": {"scale": 0.01},
    "publish_stream": {"scale": 0.01},
}
# a run must end within 180 s; leave room for the JVM's own shutdown
DEADLINE_S = 170
BUILD_DEADLINE_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, deadline, stdout):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[perfbench] {cmd[0]} exceeded its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def build(env):
    """Compile with sbt and return the runtime classpath."""
    out_dir = os.path.join(WORK, "build")
    os.makedirs(out_dir, exist_ok=True)
    stamp = os.path.join(out_dir, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building the library and the benchmark (sbt)")
    t0 = time.monotonic()
    out_path = os.path.join(out_dir, "sbt.out")
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BENCH, env, t0 + BUILD_DEADLINE_S, out)
    with open(out_path) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"[perfbench] build failed (sbt exit {rc})")
    classpath = lines[-1]
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    log(f"build took {time.monotonic() - t0:.1f} s")
    return classpath


def fixture(scale):
    """Generate the tables once per scale; check row counts every run."""
    import pyarrow.parquet as pq
    t0 = time.monotonic()
    data = os.path.join(WORK, "data", f"sf{scale:g}")
    done = os.path.join(data, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        rc = subprocess.call([sys.executable, os.path.join(BENCH, "gen_data.py"),
                              data, str(scale)])
        if rc != 0:
            raise SystemExit("[perfbench] data generation failed")
        open(done, "w").close()
    for table, n in gen_data.table_sizes(scale).items():
        got = pq.ParquetFile(os.path.join(data, f"{table}.parquet")).metadata.num_rows
        if got != n:
            raise SystemExit(f"[perfbench] {table} has {got} rows, expected {n}: "
                             "refusing to measure a different input")
    return data, time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", default=os.path.join(BENCH, "expected.json"))
    a = ap.parse_args()
    t_start = time.monotonic()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        raise SystemExit("[perfbench] no graft sources next to the benchmark: "
                         "run it from the root of a graft checkout")

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # keep the JVMs' temp files and perf data inside the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    classpath = build(env)
    t_run = time.monotonic()

    scale = a.scale if a.scale is not None else WORKLOADS[a.workload]["scale"]
    data, fixture_s = fixture(scale)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = str(len(os.sched_getaffinity(0)))
    env.update({"SPARK_GRAFT_SF_DIR": data, "SPARK_GRAFT_CPUS": cpus,
                "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local")})
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=WARN"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--expected", a.expected, "--record", str(a.record),
            "--work", run_dir, "--records", os.path.join(WORK, "records"),
            "--data-key", f"sf{scale:g}",
            "--fixture-s", repr(fixture_s)])
    out_path = os.path.join(WORK, "jvm.out")
    with open(out_path, "w") as out:
        rc = run_bounded(cmd, run_dir, env, t_run + DEADLINE_S, out)
    with open(out_path) as fh:
        results = [ln[len("PERFBENCH_RESULT "):].strip() for ln in fh
                   if ln.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not results:
        raise SystemExit(f"[perfbench] run failed (exit {rc})")
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"done in {time.monotonic() - t_start:.1f} s")
    print(results[-1], flush=True)


if __name__ == "__main__":
    main()
