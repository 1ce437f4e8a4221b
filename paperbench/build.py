"""Build step of the benchmark: compiles the program's main sources and
the benchmark driver in one scalac pass, against the Spark
distribution's jars (which carry the Scala 2.13 compiler and library),
and packs the classes into .bench_build/classes/paperbench.jar (a jar,
not a directory, so the JVM's class-data sharing archive can cover
them). Rebuilds only when a source changed; concurrent runs serialize
on a lock file.

  python3 paperbench/build.py        # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """$SPARK_HOME/jars, else those of the Spark whose spark-submit is on
    PATH"""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"paperbench: no Spark jars under {home}/jars "
                         "(set SPARK_HOME)")
    return jars


def out_dir(root):
    return os.path.join(root, ".bench_build", "classes")


def classpath(root):
    return os.pathsep.join([os.path.join(out_dir(root), "paperbench.jar")]
                           + spark_jars())


def class_archive(root):
    """The dynamic class-data sharing archive: written by the first run
    after a build, mapped by every later one (it spares each JVM most of
    its class loading). A rebuild replaces the directory it lives in."""
    return os.path.join(out_dir(root), "classes.jsa")


def sources(root):
    srcs = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            srcs += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(srcs)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def rmtree(p):
    shutil.rmtree(p, ignore_errors=True)


def ensure(root):
    """Compile unless .bench_build/classes matches the current sources."""
    srcs = sources(root)
    # the build recipe is part of the stamp: a change to it rebuilds
    want = stamp(srcs + [os.path.abspath(__file__)])
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    mark = os.path.join(out_dir(root), "STAMP")
    with open(os.path.join(root, ".bench_build", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(mark) and open(mark).read() == want:
            return
        tmp = out_dir(root) + ".tmp"
        cls = os.path.join(tmp, "classes")
        rmtree(tmp)
        os.makedirs(cls)
        argfile = os.path.join(root, ".bench_build", "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        jars = os.pathsep.join(spark_jars())
        r = subprocess.run(
            ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", cls, "-classpath", jars, f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise SystemExit(f"paperbench: build failed:\n{r.stdout[-4000:]}")
        classes = [os.path.join(d, f) for d, _, fs in os.walk(cls) for f in fs]
        with zipfile.ZipFile(os.path.join(tmp, "paperbench.jar"), "w") as jar:
            for c in sorted(classes):
                jar.write(c, os.path.relpath(c, cls))
        rmtree(cls)
        with open(os.path.join(tmp, "STAMP"), "w") as fh:
            fh.write(want)
        rmtree(out_dir(root))
        os.rename(tmp, out_dir(root))


if __name__ == "__main__":
    ensure(os.getcwd())
    print(out_dir(os.getcwd()), file=sys.stderr)
