"""Building the engine and the harness, and launching the harness JVM."""
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TMP = os.path.join(WORK, "tmp")
IO_DIR = os.path.join(TMP, "io")  # the engine's per-process work files

# Spark 4 on JDK 17 outside spark-submit needs the module opens that the
# engine's own build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A failure of the benchmark itself (missing engine, build failure,
    harness crash); the run prints no result and exits non-zero."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _sources():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]
    files += [f for p in ["build.sbt", "project/build.properties", "src/**/*"]
              for f in glob.glob(os.path.join(BENCH, p), recursive=True)]
    return sorted(f for f in set(files) if os.path.isfile(f))


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    env["SBT_OPTS"] = (opts + " -Xmx2g").strip()
    return env


def classpath():
    """Compile the engine and the harness if their sources changed since the
    last build in this checkout; return the harness's runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"no engine sources next to the benchmark (looked in {ROOT})")
    os.makedirs(WORK, exist_ok=True)
    cp_file, stamp_file = os.path.join(WORK, "classpath"), os.path.join(WORK, "build.stamp")
    stamp = _stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the engine and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=_sbt_env(), stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def harness(spec, timeout):
    """Run the harness JVM on `spec` (a dict) and return its output dict.
    The JVM's temp files, Spark's local dirs and the engine's work files
    stay under the work directory; the JVM is killed if it overruns."""
    cp = classpath()
    tmp = TMP
    os.makedirs(tmp, exist_ok=True)
    tag = f"run-{os.getpid()}"
    spec_file = os.path.join(tmp, f"{tag}.spec.json")
    spec = dict(spec, out=os.path.join(tmp, f"{tag}.out.json"))
    with open(spec_file, "w") as fh:
        json.dump(spec, fh)
    # A fixed heap and young generation without adaptive resizing, so GC
    # behaves the same from run to run.
    # -XX:-UsePerfData: no hsperfdata file outside the work directory.
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp,
               GRAFT_ORACLE_INPUT_DIR=IO_DIR)
    log_file = os.path.join(tmp, f"{tag}.log")
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness overran {timeout:.0f} s; log: {log_file}")
        finally:  # also on SIGTERM (see run.py): never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_file) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"harness exited {rc}; log: {log_file}")
    with open(spec["out"]) as fh:
        out = json.load(fh)
    for f in (spec_file, spec["out"], log_file):
        os.remove(f)
    return out
