"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources with the Scala compiler that ships in Spark's
jar directory, into ``.bench_build/`` at the checkout root. The build
definition of the engine is not used, so this needs neither sbt nor a
dependency resolver. A stamp over the sources skips an up-to-date build.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(sources, out, classpath, stamp):
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed for {out}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(checkout):
    """Compile engine and benchmark; return the runtime classpath."""
    engine_src = os.path.join(checkout, "src", "main", "scala")
    engine = _sources(engine_src)
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {engine_src}")
    jars = os.path.join(spark_jars(), "*")
    out = os.path.join(checkout, ".bench_build")
    main_out, bench_out = os.path.join(out, "engine"), os.path.join(out, "perfbench")
    main_stamp = _stamp(engine)
    _compile(engine, main_out, jars, main_stamp)
    bench = _sources(os.path.join(HERE, "src"))
    _compile(bench, bench_out, os.pathsep.join([main_out, jars]), _stamp(bench, main_stamp))
    resources = os.path.join(checkout, "src", "main", "resources")
    extra = [resources] if os.path.isdir(resources) else []
    return os.pathsep.join([bench_out, main_out] + extra + [jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
