#!/usr/bin/env python3
"""End-to-end benchmark of JobPipeline.run (see perfbench/README.md).

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine plus the benchmark
driver from source with the standalone sbt build in this directory (once
per source state; the classpath is cached under .bench_build), then runs
one JVM at local[nproc]. Everything the benchmark writes stays inside the
checkout: .bench_build (build), .bench_work (corpora, stage outputs,
traces, Spark scratch). The last stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath-" + stamp[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        # sbt's own state (compiler bridge, caches) stays in the checkout too
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
        "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy"),
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-Xmx2g",
    ])
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-6000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {out.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    # the engine's default model store is .graft_index under cwd; the
    # benchmark points every run at its own empty store instead
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(WORK, "model_store_default")
    cmd = (["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.level=WARN",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        rc = proc.wait(timeout=175)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded its 175 s allowance")
    sys.exit(rc)


if __name__ == "__main__":
    main()
