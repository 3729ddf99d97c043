"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in
`$SPARK_HOME/jars`, into `.bench_build/perfbench/` (or `$CARGO_TARGET_DIR`),
jars them, and records a class-data-sharing archive of a training run, so
every measured JVM starts with Spark's classes already parsed. Each step is
keyed by a hash of its inputs and skipped when up to date.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 install")
    return os.path.join(home, "jars", "*")


def sources(d):
    if not os.path.isdir(d):
        raise SystemExit(f"perfbench: no sources at {d}")
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in paths:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def up_to_date(name, key):
    stamp = os.path.join(OUT, name + ".stamp")
    return os.path.exists(stamp) and open(stamp).read() == key


def mark(name, key):
    with open(os.path.join(OUT, name + ".stamp"), "w") as fh:
        fh.write(key)


def stage(name, srcs, classpath, resources=None):
    """Compiles `srcs` into `<name>.jar`; returns the jar's path and key."""
    jar = os.path.join(OUT, name + ".jar")
    key = digest(srcs, classpath)
    if up_to_date(name, key) and os.path.exists(jar):
        return jar, key
    dest = os.path.join(OUT, name)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    if resources and os.path.isdir(resources):
        # Service registrations (the "graft" data source) live here.
        shutil.copytree(resources, dest, dirs_exist_ok=True)
    # Class-data sharing archives classes from jars only.
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, files in os.walk(dest):
            for f in files:
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, dest))
    shutil.rmtree(dest)
    mark(name, key)
    return jar, key


def java(classpath, work, args, share):
    """The JVM command of a measured run (and of the training run)."""
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off", share,
             f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
            + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + args)


def run_env(work):
    """A fresh artifact directory and fresh Spark local dirs under `work`."""
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    return dict(os.environ,
                SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
                SPARK_LOCAL_DIRS=os.path.join(work, "local"))


def archive(classpath, key):
    """Class-data-sharing archive of a training run (see `Main.train`).
    Returns the JVM flag that uses it."""
    jsa = os.path.join(OUT, "classes.jsa")
    if not (up_to_date("classes", key) and os.path.exists(jsa)):
        work = os.path.join(OUT, "work-train")
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(jsa):
            os.remove(jsa)
        cmd = java(classpath, work, ["--train", "1", "--work", work,
                                     "--cpus", str(os.cpu_count() or 1)],
                   f"-XX:ArchiveClassesAtExit={jsa}")
        r = subprocess.run(cmd, env=run_env(work), cwd=work,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(work, ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(jsa):
            raise SystemExit("perfbench: the training run failed")
        mark("classes", key)
    return f"-XX:SharedArchiveFile={jsa}"


def build():
    """Returns (runtime classpath, class-sharing JVM flag), building what
    is out of date."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    engine, k1 = stage("engine", sources(ENGINE_SRC), jars, ENGINE_RES)
    bench, k2 = stage("harness", sources(BENCH_SRC), engine + os.pathsep + jars)
    cp = os.pathsep.join([bench, engine, jars])
    return cp, archive(cp, k1 + k2)


if __name__ == "__main__":
    print(build())
