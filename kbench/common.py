"""Shared plumbing for the benchmark: build, JVM launch, small statistics."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(HERE, "build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

# JDK 17 module opens Spark needs outside spark-submit (the list build.sbt uses)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    for r in roots:
        if not os.path.isdir(r):
            sys.exit(f"kbench: no sources at {r}; run from a full checkout")
    return sorted(p for r in roots for p in glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))


def build():
    """Compile the program's sources and the benchmark's own with the Scala
    compiler the Spark distribution ships; skipped when the sources are
    unchanged since the last build. Returns the seconds spent compiling."""
    srcs = sources()
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"kbench: Spark jars not found at {SPARK_JARS}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    t0 = time.time()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "classes"))
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", os.path.join(BUILD, "classes"), "-classpath", cp,
                        "@" + os.path.join(BUILD, "sources.txt")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("kbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t0


def java_cmd(main, args, run_dir, xmx="2g", props=()):
    """A JVM on the built classes, with every temporary path inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:-UsePerfData", f"-Xmx{xmx}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *props,
             "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(SPARK_JARS, "*"),
             main, *[str(a) for a in args]])


def java_env(run_dir):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the CLI daemon's own defaults, whatever the caller's shell set
    for k in ("SPARK_MASTER", "SPARK_GRAFT_CPUS"):
        env.pop(k, None)
    return env


def run_java(main, args, run_dir, log_name, **kw):
    """Run a JVM to completion; returns its stdout's last line."""
    log = os.path.join(run_dir, log_name)
    with open(log, "w") as lf:
        r = subprocess.run(java_cmd(main, args, run_dir, **kw), env=java_env(run_dir),
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=170)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-3000:])
        raise RuntimeError(f"{main} exited with {r.returncode}")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    return lines[-1] if lines else ""


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def median(xs):
    s = sorted(xs)
    n = len(s)
    return (s[n // 2] + s[(n - 1) // 2]) / 2.0


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def files_under(path, suffix=".parquet"):
    out = []
    for d, _, fs in os.walk(path):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return out


def bytes_under(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
