"""Build Graft and the benchmark harness from source, without sbt.

Graft's own sources (src/main/{java,scala,resources}) compile with javac and
the Scala compiler that ships in Spark's jar directory; the harness
(perfbench/harness) then compiles against them. Output goes to
`.bench_build/<hash of every source>/`, so an unchanged tree builds once.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        pyspark = None
    if pyspark is not None:
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    raise BuildError("no Spark installation: set SPARK_HOME")


def _sources(root):
    main = os.path.join(root, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(main, "java", "**", "*.java"), recursive=True))
    res_root = os.path.join(main, "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not scala:
        raise BuildError(f"no Graft sources under {main}")
    if not harness:
        raise BuildError("no harness sources")
    return scala, java, res_root, res, harness


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _run(cmd, log):
    with open(log, "ab") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise BuildError(f"build step failed ({cmd[0]}):\n{tail}")


def build(root, build_root):
    """Compile if needed; return the classpath (list of entries) to run with."""
    scala, java, res_root, res, harness = _sources(root)
    jars = spark_jars()
    out = os.path.join(build_root, _digest(scala + java + res + harness, root))
    graft_cls = os.path.join(out, "graft")
    harness_cls = os.path.join(out, "harness")
    cp = [harness_cls, graft_cls, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, "OK")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(graft_cls)
    os.makedirs(harness_cls)
    log = os.path.join(out, "build.log")
    scalac = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
              "-nowarn", "-release", "17"]
    if java:
        _run(["javac", "-nowarn", "-d", graft_cls, "-cp", os.path.join(jars, "*")] + java, log)
    _run(scalac + ["-d", graft_cls, "-cp", os.pathsep.join([graft_cls, os.path.join(jars, "*")])]
         + scala, log)
    for p in res:
        dst = os.path.join(graft_cls, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _run(scalac + ["-d", harness_cls, "-cp", os.pathsep.join(cp[1:])] + harness, log)
    open(os.path.join(out, "OK"), "w").close()
    # older builds are dead weight once this one exists
    for d in os.listdir(build_root):
        p = os.path.join(build_root, d)
        if p != out and os.path.exists(os.path.join(p, "OK")):
            shutil.rmtree(p, ignore_errors=True)
    return cp
