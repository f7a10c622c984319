#!/usr/bin/env python3
"""Benchmark entry point: builds the program with the benchmark (once per source
state), then runs one measured run in a fresh JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Build output and run files go under
$CARGO_TARGET_DIR (default `.bench_build`) at that root. The last line of
standard output is the result object; the exit code is 0 only when every
operation succeeded and produced the expected output.

Extra flag for the benchmark's own tests: --plant fail|wrong|delay.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("queries", "etl")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the program's main tree, the main
    build.sbt (for the Spark jar directory) and the benchmark's own
    sources and build definition."""
    roots = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if it
    outlives the timeout. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build(root, build_dir):
    """Compiles program + benchmark with sbt unless the sources are
    unchanged since the last build. Returns the runtime classpath."""
    prog = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(prog):
        die(f"no program sources at {prog}: run from the root of a checkout")
    files = source_files(root)
    st = stamp(files)
    cp_file = os.path.join(build_dir, "classpath.txt")
    st_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(st_file):
        with open(st_file) as f:
            if f.read().strip() == st:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(build_dir, "sbt")
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}",
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                        cwd=HERE, env=env, stderr=sys.stderr)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        die(f"build failed (exit {rc})", 3)
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")
          and ".jar" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(st_file, "w") as f:
        f.write(st)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--plant", choices=("fail", "wrong", "delay"))
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--bench-dir", HERE]
    if a.plant:
        cmd += ["--plant", a.plant]
    rc, out = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stderr=sys.stderr)
    sys.stderr.write(out)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        die(f"run failed (exit {rc})", 4)
    with open(result) as f:
        line = f.read().strip()
    # keep the run's description and trace; drop its inputs
    keep = os.path.join(build_dir, "results")
    os.makedirs(keep, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for name in ("info.json", "trace.json"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), os.path.join(keep, f"{tag}-{name}"))
    with open(os.path.join(work, "info.json")) as f:
        print("perfbench: " + f.read().strip())
    shutil.rmtree(work, ignore_errors=True)
    print(line)
    sys.exit(0 if json.loads(line)["correct"] else 1)


if __name__ == "__main__":
    main()
