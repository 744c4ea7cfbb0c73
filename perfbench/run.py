#!/usr/bin/env python3
"""Service benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--tamper delete|duplicate]

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the
engine's root build) and caches the runtime classpath under
perfbench/.build; later calls start the JVM directly. Every run works in
a private directory under perfbench/.run that is deleted when it ends.

The last stdout line is the result object {"correct", "attempted",
"failed", "metrics"}. The exit code is non-zero when the build fails,
the run fails, or an output check fails. A traced run (--trace 1) also
writes its spans to perfbench/out/trace-<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("ingest_backlog", "replay_backfill", "crawl_admit")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with the run itself, under 15 minutes

# Spark on JDK 17 needs these outside spark-submit (the same list the
# engine's build passes to its forked JVMs).
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
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed; return the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            sys.exit(f"perfbench: engine source not found ({os.path.relpath(need, ROOT)}); "
                     "run from the repository root of a full checkout")
    want = stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            if fh.read().strip() == want:
                cp = cf.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    log("building engine and benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:  # offline, from the local repository config when there is one
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t:.0f} s")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", choices=("delete", "duplicate"))
    a = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dperfbench.runDir={run_dir}",
        f"-Dperfbench.outDir={os.path.join(HERE, 'out')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
    ]
    if a.tamper:
        cmd += ["--tamper", a.tamper]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        for ln in out.splitlines():
            if ln.startswith('{"correct"'):
                result = ln
            elif ln.strip():
                print(ln, file=sys.stderr)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        sys.exit(f"perfbench: {a.workload} produced no result (exit {proc.returncode})")
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
