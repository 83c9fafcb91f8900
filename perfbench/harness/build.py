"""Builds the engine and the harness from source with sbt, once per
checkout: the build is redone only when a source or build file is newer
than the recorded run spec."""
import os
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "target", "run-spec.txt")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]


class BuildError(Exception):
    pass


def driver_mem():
    """The driver heap the repository's test command gives the engine:
    half the machine's memory, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def _newest(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")))


def ensure_built(log_path):
    """Returns (jvm options, classpath) of the measuring JVM."""
    if not (os.path.isfile(SPEC) and os.path.getmtime(SPEC) >= _newest(SOURCES)):
        env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem())
        try:
            with open(log_path, "w") as log:
                rc = subprocess.run(["sbt", "-batch", "writeRunSpec"], cwd=HERE,
                                    env=env, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            raise BuildError(f"build failed ({e}); see {log_path}")
        if rc != 0 or not os.path.isfile(SPEC):
            raise BuildError(f"build failed (exit {rc}); see {log_path}")
    with open(SPEC) as f:
        lines = f.read().splitlines()
    return lines[:-1], lines[-1]
