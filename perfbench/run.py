#!/usr/bin/env python3
"""graft's benchmark: build, then run one workload and print its metrics.

    python3 perfbench/run.py --workload <cdc_sync|admission|vector_serve> \
        --seed <n> --seconds <s> --trace <0|1> [--cpus <n>]
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt references the root build), then
runs the quick self-tests once in a JVM that records the classes it loads into a
class-data-sharing archive; every later JVM maps that archive instead of
loading and verifying Spark's classes from the jars again, which takes
seconds off each run's start. Later runs reuse the build while no source
file has changed. The last line of standard output is the result object;
perfbench/out/ keeps the full report of each run, spans included for
traced runs.
"""
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench-build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
SELFTEST_TIMEOUT_S = 280

JVM_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def tmp_dir():
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def sbt_env():
    env = dict(os.environ)
    # builds resolve only from local caches, and keep temp files here
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + f" -Djava.io.tmpdir={tmp_dir()}").strip()
    # every JVM the launcher starts, its version probes included: no
    # perf-data files under the system temp directory
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    return env


def classpath():
    """Build if any input changed; return the runtime classpath (jars)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark: run from the root of a graft checkout")
    fp = source_fingerprint()
    stamp, cp_file, jsa = BUILD + ".fingerprint", BUILD + ".classpath", BUILD + ".jsa"
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    for f in (stamp, cp_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    code, out = java(["-XX:ArchiveClassesAtExit=" + jsa], cp, "perfbench.SelfTest", ["--quick"],
                     SELFTEST_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("self-tests failed after the build")
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"[perfbench] built and self-tested in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def java(extra_opts, cp, main, args, timeout):
    """Run one JVM in its own process group; kill the group on timeout."""
    cmd = ["java"] + JVM_OPTS + extra_opts + [f"-Djava.io.tmpdir={tmp_dir()}", "-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} did not finish within {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def run_jvm(main, args):
    cp = classpath()
    jsa = BUILD + ".jsa"
    share = ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []
    return java(share, cp, main, args, RUN_TIMEOUT_S)


def main(argv):
    if argv == ["--selftest"]:
        code, out = run_jvm("perfbench.SelfTest", [])
        sys.stdout.write(out)
        return code
    if "--workload" not in argv:
        fail(__doc__)
    code, out = run_jvm("perfbench.Main", argv)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write("\n".join(lines[-20:]) + "\n" if lines else "")
        fail(f"run failed (exit {code})")
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
