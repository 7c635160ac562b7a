"""Builds the benchmark: the repository's main sources and the benchmark's
own Scala sources, compiled together with the Spark distribution's Scala
compiler into `.bench_build/starbench/<source hash>/starbench.jar`, then a
class-data-sharing archive of the classes a short training run loads, which
takes about half of the JVM and Spark start-up off every run.

    python3 starbench/build.py      # prints the jar

A rebuild happens only when a source file or this recipe changes; the
builds of other source hashes are kept, so runs that alternate between two
commits in one checkout build each once. If the training run fails, runs go
on without the archive."""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "starbench")


class BuildError(Exception):
    pass


def spark_jars():
    """SPARK_HOME's jars, else the `unmanagedBase` the repository's build.sbt
    compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise BuildError("no Spark distribution: set SPARK_HOME")


def sources():
    repo_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(repo_src):
        raise BuildError(f"repository sources not found under {repo_src}")
    found = []
    for top in (repo_src, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
CORES = min(4, os.cpu_count() or 1)


class Build:
    """A built benchmark: the jar, the Spark jars and the optional archive."""

    def __init__(self, dirname, jars):
        self.jar = os.path.join(dirname, "starbench.jar")
        self.archive = os.path.join(dirname, "classes.jsa")
        self.classpath = ":".join([self.jar] + [os.path.join(jars, j)
                                                for j in sorted(os.listdir(jars))
                                                if j.endswith(".jar")])

    def java(self, main, args, work, opts=(), share=True):
        """The JVM command line for `main`, pinned to the benchmark's heap,
        garbage collector and temporary directories under `work`, with the
        further JVM options `opts`."""
        share = ([f"-XX:SharedArchiveFile={self.archive}"]
                 if share and os.path.exists(self.archive) else [])
        return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + share + list(opts)
                + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                   f"-Dspark.sql.warehouse.dir={work}/warehouse",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
                + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", self.classpath, main] + list(args))


def train(b, log):
    """Writes the class-data-sharing archive from a small dashboard run."""
    work = os.path.join(ROOT, ".bench_work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", "dashboard_mixed", "--seed", "1", "--seconds", "1",
            "--work", work, "--out", os.path.join(work, "record.json"), "--scale", "0.01"]
    cmd = b.java("starbench.Main", args, work, opts=[f"-XX:ArchiveClassesAtExit={b.archive}"],
                 share=False)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=400)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(b.archive):
        log.write(f"starbench: no class-data archive (training exited {p.returncode})\n")
        if os.path.exists(b.archive):
            os.remove(b.archive)


def build(log=sys.stderr):
    """Returns (Build, seconds spent building)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    with open(os.path.abspath(__file__), "rb") as f:  # the recipe itself
        h.update(f.read())
    stamp = h.hexdigest()[:16]
    dirname = os.path.join(OUT, stamp)
    classes = os.path.join(dirname, "classes")
    b = Build(dirname, jars)
    if os.path.exists(os.path.join(dirname, "done")):
        return b, 0.0
    shutil.rmtree(dirname, ignore_errors=True)  # an unfinished build
    os.makedirs(classes)
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    argfile = os.path.join(OUT, stamp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log.write(p.stdout[-4000:])
        raise BuildError(f"scalac failed with code {p.returncode}")
    with zipfile.ZipFile(b.jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    train(b, log)
    open(os.path.join(dirname, "done"), "w").close()
    return b, time.time() - t0


if __name__ == "__main__":
    try:
        print(build()[0].jar)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
