"""Building the engine from source and running the benchmark's program.

sbt compiles the engine and the benchmark's program (`perfbench.Main`)
from the checkout; the runtime classpath is exported once per source
state and reused, so later runs start the JVM directly.
"""
import fcntl
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def require_engine():
    """Exit non-zero unless the engine's sources sit beside the benchmark."""
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        sys.stderr.write("perfbench: engine sources not found: %s\n" % ", ".join(missing))
        sys.exit(2)


def _source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(log):
    """Compile if the sources changed since the last build; return the
    runtime classpath. Concurrent callers wait on one lock."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = _source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        with open(log, "w") as out:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=_sbt_env(), stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=840)
        out_lines = [l for l in proc.stdout.splitlines() if l.startswith("/")]
        if proc.returncode != 0 or not out_lines:
            with open(log, "a") as out:
                out.write(proc.stdout)
            raise RuntimeError("engine build failed (see %s)" % log)
        cp = out_lines[-1]
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_engine(cp, plan, work, timeout):
    """Run perfbench.Main on `plan`; return its result dict."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # compiler and GC threads live for the whole run, so the traced run's
    # per-thread CPU snapshots at the window's edges see all of their CPU
    cmd += ["-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UseDynamicNumberOfGCThreads"]
    cmd += ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", plan_path, result_path]
    with open(os.path.join(work, "engine.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("engine process timed out after %ds" % timeout)
    if code != 0 or not os.path.exists(result_path):
        raise RuntimeError("engine process exited with %d (see %s)" % (code, os.path.join(work, "engine.log")))
    with open(result_path) as f:
        return json.load(f)
