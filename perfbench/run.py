#!/usr/bin/env python3
"""Build (once) and run the benchmark harness.

Run from the repository root:

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 10 --trace 0

The harness prints its result as one JSON object on the last line of
standard output and exits 0 only when every result check passed.  The first
run in a fresh checkout compiles the engine and the harness with sbt; later
runs reuse the build while no source or build file has changed.  All build
outputs and run files stay under the checkout (`target/`, `perfbench/target/`
and `.bench_build/`).
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed heap and young generation: the peak resident set then tracks the
# old generation's high-water mark, not where an adaptive collector
# happened to grow the heap in this run.
JVM_MEMORY = ["-XX:+UseG1GC", "-Xms3g", "-Xmx3g", "-Xmn1g"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, so a change to any of them rebuilds."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local caches, as the repository's own build does
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    stamp = os.path.join(LAUNCH, "fingerprint")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    archive = os.path.join(LAUNCH, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    with open(stamp, "w") as fh:
        fh.write(fp)


def main():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, "
             "src/main/scala/graft) are not here")
    build()
    with open(os.path.join(LAUNCH, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(LAUNCH, "jvm_opts.txt")) as fh:
        jvm_opts = [l.strip() for l in fh if l.strip() and not l.startswith("-Xmx")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded into an archive at exit; later runs map it instead of loading
    # and verifying the same Spark classes again, which shortens set-up.
    archive = os.path.join(LAUNCH, "classes.jsa")
    jvm_opts.append(f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
                    else f"-XX:ArchiveClassesAtExit={archive}")
    # JVM log lines go to stderr: the last line of stdout is the result
    jvm_opts += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd = (["java"] + jvm_opts +
           JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main"] + sys.argv[1:])
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
