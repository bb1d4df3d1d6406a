"""Compile the graft library and the benchmark driver from source.

Uses the Scala compiler that ships in the Spark distribution's jars
directory ($SPARK_HOME, or the distribution that holds `spark-submit` on
PATH), so the build needs no dependency resolution. The classes are packed into one jar under
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench below the
checkout root) and rebuilt only when a source file changes.

The build ends with a training run of the corpus workload that records a
class-data-sharing archive (-XX:ArchiveClassesAtExit). Every benchmark
JVM maps it with -Xshare:on, so a JVM that cannot use the archive fails
instead of starting without it; a failed training run fails the build.
The archive takes about a fifth off every run's set-up time.

    python3 perfbench/build.py          # from the checkout root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def _spark_home():
    """$SPARK_HOME, else the first distribution on PATH that has jars/."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_HOME = _spark_home()
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# a fixed-size heap and young generation: the resident peak then follows
# what the run keeps live, not how the collector sizes the heap or eden;
# no hsperfdata file, which the JVM would write to the system temp dir
JVM_OPTIONS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData"]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, jar, archive, stamp):
        self.jar, self.archive, self.stamp = jar, archive, stamp

    def java(self, work, main_args, record_archive=False):
        """The driver JVM command line; all JVM scratch space under `work`."""
        cds = ([f"-XX:ArchiveClassesAtExit={self.archive}"] if record_archive
               else ["-Xshare:on", f"-XX:SharedArchiveFile={self.archive}"])
        return (["java"] + JVM_OPTIONS + cds + ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
                + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
                + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
                + ["-cp", os.pathsep.join([self.jar, os.path.join(SPARK_HOME, "jars", "*")]),
                   "perfbench.Main"] + main_args)


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def make_dirs(work):
    """Fresh scratch tree for one driver JVM."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("cache", "tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(work, d))


def jvm_env(work):
    return dict(os.environ, GRAFT_ANN_CACHE_DIR=os.path.join(work, "cache"),
                SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                TMPDIR=os.path.join(work, "tmp"))


def _train(b, out):
    """Record the class-data-sharing archive from one short corpus run."""
    work = os.path.join(out, "train")
    make_dirs(work)
    cmd = b.java(work, ["--workload", "corpus_x5", "--seed", "0", "--seconds", "0", "--trace", "0",
                        "--data", os.path.join(BENCH_DIR, "data"), "--work", work],
                 record_archive=True)
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    try:
        rc = subprocess.run(cmd, env=jvm_env(work), stdout=sys.stderr, timeout=300).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(b.archive):
        raise BuildError(f"class-data-sharing training run failed ({rc})")


def build(root):
    """Return the Build, compiling and training first if sources changed."""
    main_src = os.path.join(root, "src", "main", "scala")
    sources = _files(main_src, ".scala")
    if not sources:
        raise BuildError(f"no graft sources under {main_src}")
    if not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    sources += _files(os.path.join(BENCH_DIR, "src"), ".scala")
    resources = os.path.join(root, "src", "main", "resources")
    res_files = _files(resources) if os.path.isdir(resources) else []
    h = hashlib.sha256()
    for f in sources + res_files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()

    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, target, "perfbench")
    b = Build(os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa"), stamp)
    stamp_file = os.path.join(out, "stamp")
    if (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isfile(b.archive)):
        return b

    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cp = os.path.join(SPARK_HOME, "jars", "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-Xss8m", "-Xmx2g",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(sources)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(b.jar, "w") as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
        for f in res_files:
            z.write(f, os.path.relpath(f, resources))
    shutil.rmtree(classes)
    _train(b, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return b


if __name__ == "__main__":
    try:
        print(build(os.getcwd()).jar)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
