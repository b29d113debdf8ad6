#!/usr/bin/env python3
"""spacespark benchmark: build the engine from source, run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_refresh --seed 1 --seconds 8 --trace 0

The last line on stdout is the result object
(`correct`, `attempted`, `failed`, `metrics`); progress and Spark logs go to
stderr. A full record of the run (run metadata, op-tail percentile, spans
when traced) is written under `.perfbench/runs/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# class-data-sharing archive of JVM, Spark and set-up classes, recorded once
# per build: it takes about 6 s of class loading off every run's set-up
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("ingest_refresh", "scan_serve")
# Seed reserved for re-checking a claim on inputs not used while the change
# was written; do not tune against it.
HELD_OUT_SEED = 7919
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


CHILDREN = []


def start(cmd, **kw):
    """Start a child in its own process group, which a signal to this
    script, a timeout or the end of the run stops as a whole (sbt's
    launcher script starts a JVM of its own)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def stop_children():
    for proc in CHILDREN:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """SHA-1 over the engine's and the benchmark's sources and build files."""
    h = hashlib.sha1()
    trees = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for tree in trees:
        for d, _, names in sorted(os.walk(tree)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine's build.sbt names, or None."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    except OSError:
        return None
    return m.group(1) if m and os.path.isdir(m.group(1)) else None


def java_cmd(work, *extra):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", *extra,
             "-cp", f"{JAR}{os.pathsep}{spark_jars()}/*", "perfbench.Main"])


def build(digest):
    if all(os.path.exists(f) for f in (JAR, CDS, STAMP)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                 cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_children()
        sys.exit(f"build exceeded {BUILD_TIMEOUT_S}s")
    if proc.returncode != 0:
        sys.exit(f"build failed (exit {proc.returncode})")
    built = os.path.join(HERE, "target", "scala-2.13", "spacespark-perfbench_2.13-0.1.0.jar")
    os.replace(built, JAR)
    # record the class-data-sharing archive every run starts from; a build
    # that cannot record it fails, so that no run starts without it
    work = os.path.join(STATE, "work", f"classlist-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for f in (CDS, STAMP):
        if os.path.exists(f):
            os.remove(f)
    cds = start(java_cmd(work, f"-XX:ArchiveClassesAtExit={CDS}") +
                ["--classlist", "1", "--work", work],
                cwd=ROOT, stdout=subprocess.DEVNULL, stderr=sys.stderr)
    try:
        cds.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_children()
    shutil.rmtree(work, ignore_errors=True)
    if cds.returncode != 0 or not os.path.exists(CDS):
        if os.path.exists(CDS):
            os.remove(CDS)
        sys.exit(f"recording the class-data-sharing archive failed (exit {cds.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this machine between two
    `cpu_times()` readings: a contaminated run shows here."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def is_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--scale", default="1", help="input size factor (self-test: 0.2)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not os.path.isdir(ENGINE_SRC) or spark_jars() is None:
        sys.exit("engine sources (src/main) or the Spark jars its build.sbt names are missing")
    digest = source_digest()
    build(digest)

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    record = os.path.join(STATE, "runs",
                          f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -Xshare:on: a run that cannot map the archive fails instead of
    # starting slower
    cmd = java_cmd(work, "-Xshare:on", f"-XX:SharedArchiveFile={CDS}") + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--scale", args.scale, "--work", work, "--out", record]
    load_before = os.getloadavg()[0]
    cpu_before = cpu_times()
    proc = start(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    results = [l for l in lines if is_result(l)]
    for l in lines:
        if not is_result(l):
            print(l, file=sys.stderr)
    if os.path.exists(record):
        with open(record) as fh:
            rec = json.load(fh)
        rec.update({"git_commit": git_commit(), "source_sha1": digest,
                    "held_out_seed": HELD_OUT_SEED, "exit_code": proc.returncode,
                    "load_avg_1m_wrapper": [load_before, os.getloadavg()[0]],
                    "cpu_steal_share": steal_share(cpu_before, cpu_times()),
                    "cds_archive": os.path.relpath(CDS, ROOT),
                    "argv": sys.argv[1:]})
        with open(record, "w") as fh:
            json.dump(rec, fh, indent=1)
        log(f"run record: {os.path.relpath(record, ROOT)}")
    if not results:
        sys.exit(f"no result line (exit {proc.returncode})")
    print(results[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
