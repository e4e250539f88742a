#!/usr/bin/env python3
"""CDC warehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into the build directories sbt
uses, and records the classpath under .bench_build/; later runs reuse it
while no source file has changed. Each run starts one JVM (local[4]) in a
fresh work directory under .bench_build/, which is removed afterwards; a
traced run keeps its spans under .bench_build/traces/.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_ingest", "masked_read")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build if any source changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    os.makedirs(OUT, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1][-20:]) + "\n")
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_cmd(cp, work, args):
    # -Xms1g: started from G1's default (1/64 of memory) the heap grows in
    # timing-dependent steps, and one run's peak RSS swung from 1.3 to 2.2 GB
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms1g", "-Xmx3g"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
             "-cp", cp, "perfbench.Main"] + args + ["--work", work])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in WORKLOADS:
        die(f"--workload must be one of {', '.join(WORKLOADS)}")
    cp = classpath()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = (["--selftest"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)])
    proc = subprocess.Popen(java_cmd(cp, work, args), cwd=ROOT,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines) + "\n")
        die(f"run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        die("run printed no result")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
