#!/usr/bin/env python3
"""Run one benchmark workload over the VCF star schema and print its
metrics.

    python3 perfbench/run.py --workload lookup --seed 7 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine's
sources (`src/main/scala`) together with the benchmark (`perfbench/src`)
with sbt; later runs reuse the build while no source changes. All build
and run output stays under the checkout (`perfbench/target`,
`.perfbench/`). The last line of standard output is the result JSON; the
line before it is a per-operation breakdown.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("lookup", "cohort", "selftest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, as (path, size, mtime)."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        p = os.path.join(HERE, f)
        st = os.stat(p)
        out.append((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    return sorted(out)


def build():
    """Compile with sbt unless the recorded build matches the sources;
    returns the build stamp: its fingerprint and runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the root of a full checkout")
    os.makedirs(STATE, exist_ok=True)
    stamp_path = os.path.join(STATE, "build.json")
    fingerprint = hashlib.sha256(repr(sources()).encode()).hexdigest()
    try:
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["fingerprint"] == fingerprint:
            return stamp
    except (OSError, ValueError, KeyError):
        pass
    log("compiling engine + benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip()
    # jars, not class directories: the JVM's class-data-sharing archive
    # (see record_class_archive) only covers classes loaded from jars
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    stamp = {"fingerprint": fingerprint, "classpath": lines[-1].strip()}
    record_class_archive(stamp)
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return stamp


def archive_path(stamp):
    """The class-data-sharing archive of a build, named by its fingerprint:
    a rebuild rewrites the jars under the same paths, and the JVM silently
    ignores an archive recorded from other jars."""
    return os.path.join(STATE, "classes-%s.jsa" % stamp["fingerprint"][:16])


def record_class_archive(stamp):
    """Record the archive as part of the build, from one run of the
    self-test: every measured run then maps it and starts Spark in about a
    third of the time. Recording in a measured run would make that run
    slower than all later ones."""
    for old in os.listdir(STATE):
        if old.endswith(".jsa"):
            os.remove(os.path.join(STATE, old))
    log("recording the class archive ...")
    run_workload(stamp, "selftest", 1, 1, False,
                 archive=f"-XX:ArchiveClassesAtExit={archive_path(stamp)}")


def run_workload(stamp, workload, seed, seconds, trace, archive=None):
    if archive is None and os.path.exists(archive_path(stamp)):
        archive = f"-XX:SharedArchiveFile={archive_path(stamp)}"
    work = os.path.join(STATE, f"run-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           ([archive] if archive else []) +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for m in ADD_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           ["-cp", stamp["classpath"], "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # on a timeout, an error or SIGTERM, the JVM goes down with us
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    raw = [l for l in out.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: {workload} run failed (exit {proc.returncode})")
    # keep the span file; drop fixtures, databases and Spark scratch
    for entry in os.listdir(work):
        if not entry.startswith("trace-"):
            p = os.path.join(work, entry)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # turn SIGTERM into an exit, so the `finally` blocks stop the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    raw = run_workload(build(), a.workload, a.seed, a.seconds, a.trace == 1)
    if a.workload == "selftest":
        res = {"correct": raw["failed"] == 0, "attempted": raw["attempted"],
               "failed": raw["failed"], "failure_notes": raw["failure_notes"]}
        print(json.dumps(res))
        return 0 if res["correct"] else 1
    print(json.dumps({"detail": metrics.detail(raw)}))
    print(json.dumps(metrics.result(raw, a.trace == 1)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
