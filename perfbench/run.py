#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark with sbt on first use (the class
path is cached under perfbench/.work and rebuilt when a source changes),
then runs the workload in one JVM at local[4]. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the run also writes perfbench/.work/traces/
<workload>-<seed>.json with the spans, the per-operation breakdown and
the tracing overhead against this checkout's timed runs of the same
sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("ingest", "queries", "table_ops")
E2E = ("setup_s", "cold_s", "warm_s")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (as the engine's
# own build passes them to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def source_digest():
    """A digest of the sources the run is built from, so that records of
    different engine versions in one checkout are never mixed."""
    h = hashlib.sha256()
    for f in sorted(sources()):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as g:
                h.update(g.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The runtime class path, building first when a source is newer."""
    cache = os.path.join(WORK, "classpath.txt")
    if os.path.isfile(cache):
        built = os.path.getmtime(cache)
        if all(os.path.getmtime(f) <= built for f in sources() if os.path.exists(f)):
            with open(cache) as f:
                return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = [l for l in lines if os.pathsep in l and "perfbench" in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cache, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def java(cp, tmp, main):
    """The JVM command line for `main`, with scratch files under `tmp`."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp, main])


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs, when the kernel reports them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tracing_overhead(workload, seed, digest, traced_e2e):
    """Traced minus timed e2e values, against the median of this
    checkout's timed records of the same workload and sources: those of
    the same seed when there are any, else those of every seed."""
    path = os.path.join(WORK, "records", f"{workload}.jsonl")
    recs = []
    if os.path.isfile(path):
        with open(path) as f:
            recs = [r for r in map(json.loads, filter(str.strip, f))
                    if r.get("source_digest") == digest]
    if not recs:
        return {"note": "no timed run of this workload and these sources yet"}
    same_seed = [r for r in recs if r["seed"] == seed]
    out = {"timed_runs": len(same_seed or recs),
           "timed_seeds": "this seed" if same_seed else "all seeds"}
    recs = same_seed or recs
    for m in E2E:
        timed = statistics.median(r["e2e"][m] for r in recs)
        out[m] = {"traced": traced_e2e[m], "timed_median": timed,
                  "overhead": traced_e2e[m] - timed}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"benchmark data missing under {DATA}")

    cp = classpath()
    digest = source_digest()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for d in ("records", "traces", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    record = os.path.join(run_dir, "record.json")
    trace = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json")
    cmd = java(cp, tmp, "perfbench.Main") + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", os.path.join(run_dir, "w"),
            "--record-out", record, "--trace-out", trace,
            "--commit", git_commit()]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)  # the engine's config stays as built
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    jiffies0 = cpu_jiffies()
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=logf, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"workload did not finish within {RUN_TIMEOUT_S} s; log in {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"workload exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    jiffies1 = cpu_jiffies()
    if a.trace == 0:
        with open(record) as f:
            rec = json.load(f)
        rec["source_digest"] = digest
        # the share of CPU time the hypervisor took from this machine during
        # the run: a run with a high share was slowed from outside
        if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
            rec["host_steal_frac"] = (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1])
        with open(os.path.join(WORK, "records", f"{a.workload}.jsonl"), "a") as g:
            g.write(json.dumps(rec) + "\n")
    else:
        with open(trace) as f:
            doc = json.load(f)
        doc["record"]["source_digest"] = digest
        doc["tracing_overhead"] = tracing_overhead(a.workload, a.seed, digest,
                                                   doc["record"]["e2e"])
        with open(trace, "w") as f:
            json.dump(doc, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
