"""Build step of the benchmark: compile graft and the harness, generate the
data set, and list the query registry.

The classes are keyed by a digest of the sources, so a checkout builds once
and every later run reuses the build. The data is keyed by a digest of
`DataGen.scala` alone, so a change elsewhere in the sources keeps the inputs
(and the cached oracle fingerprints) as they were. Outputs live under the
build directory (``$CARGO_TARGET_DIR``, else ``.bench_build`` in the
checkout); builds of other digests are left in place.
Compilation calls the Scala compiler that ships with Spark directly; no
build tool or network is involved.
"""
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "harness")

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BuildError(RuntimeError):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def has_sources():
    return os.path.isfile(os.path.join(MAIN_SRC, "graft", "SparkEntry.scala"))


def spark_jars():
    """The Spark distribution's jar directory (it also carries scalac):
    $SPARK_HOME/jars, else the one beside spark-submit on the PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.normpath(c)
    raise BuildError("no Spark jar directory with scala-compiler found (set SPARK_HOME)")


def _sources():
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    res = sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True))
    return files, [r for r in res if os.path.isfile(r)]


def source_digest(files=None):
    files = files or sum(_sources(), [])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


class _Lock:
    def __init__(self, path):
        self.path = path

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self.fh = open(self.path, "w")
        fcntl.flock(self.fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        fcntl.flock(self.fh, fcntl.LOCK_UN)
        self.fh.close()


def _run(cmd, log, env=None, cwd=None, timeout=1800):
    with open(log, "w") as fh:
        p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                           timeout=timeout)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise BuildError(f"{cmd[0]} exited {p.returncode}:\n{tail}")


def java_cmd(classes, jars, heap, scratch):
    """A JVM on graft's classpath whose temporary files all go to `scratch`."""
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    return ["java", f"-Xmx{heap}", "-Xss8m", *JVM_FLAGS, f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.sql.warehouse.dir={scratch}/warehouse", "-cp", cp]


def ensure(sfs, cores):
    """Compile (if needed), list the registry and generate data at each
    scale factor in `sfs`. Returns (classes_dir, jars, catalog, {sf: data_dir})."""
    if not has_sources():
        raise BuildError(f"graft sources not found under {MAIN_SRC}")
    jars = spark_jars()
    bdir = build_dir()
    digest = source_digest()
    out = os.path.join(bdir, "graft-" + digest)
    classes = os.path.join(out, "classes")
    with _Lock(os.path.join(bdir, "build.lock")):
        if not os.path.exists(os.path.join(classes, "BUILT")):
            tmp = classes + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            files, res = _sources()
            argfile = os.path.join(out, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(files) + "\n")
            cp = os.path.join(jars, "*")
            _run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                  "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                 os.path.join(out, "compile.log"))
            for r in res:
                dst = os.path.join(tmp, os.path.relpath(r, RESOURCES))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy(r, dst)
            open(os.path.join(tmp, "BUILT"), "w").close()
            os.rename(tmp, classes)
        tmpdir = os.path.join(out, "tmp")
        os.makedirs(tmpdir, exist_ok=True)
        cat_path = os.path.join(out, "catalog.json")
        if not os.path.exists(cat_path):
            _run(java_cmd(classes, jars, "1g", tmpdir) + ["perfbench.Catalog", cat_path + ".tmp"],
                 os.path.join(out, "catalog.log"), cwd=tmpdir)
            os.rename(cat_path + ".tmp", cat_path)
        with open(cat_path) as fh:
            catalog = json.load(fh)
        data = {}
        gen = source_digest([os.path.join(MAIN_SRC, "graft", "DataGen.scala")])
        for sf in sfs:
            d = os.path.join(bdir, "data-" + gen, f"sf{sf}")
            if not os.path.exists(os.path.join(d, "DONE")):
                shutil.rmtree(d, ignore_errors=True)
                env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmpdir)
                # one file per table, the layout TESTDATA.md describes
                _run(java_cmd(classes, jars, "2g", tmpdir) + ["graft.DataGen", str(sf), d, "1"],
                     os.path.join(out, f"datagen-{sf}.log"), env=env, cwd=tmpdir)
                open(os.path.join(d, "DONE"), "w").close()
            data[sf] = d
        shutil.rmtree(tmpdir, ignore_errors=True)
    return classes, jars, catalog, data
