"""Build of the benchmark: compiles the program (`src/main/scala`) and the
harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jars, into `.bench_build/`. A stamp of every source file's content skips
the compile when nothing changed.

Spark is found through SPARK_HOME, or else through `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def jvm_opens():
    """The module opens Spark needs outside spark-submit."""
    return [a for p in JVM_OPENS
            for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                               recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog, harness


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, out, classpath, files, build_dir):
    os.makedirs(out)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def ensure(root):
    """Build if needed; returns the classpath the harness runs with."""
    jars = spark_jars()
    prog, harness = sources(root)
    build_dir = os.path.join(root, ".bench_build")
    prog_out = os.path.join(build_dir, "program")
    harness_out = os.path.join(build_dir, "harness")
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(prog + harness, jars)
    have = None
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            have = fh.read().strip()
    if have != want:
        for d in (prog_out, harness_out):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(build_dir, exist_ok=True)
        print("perfbench: compiling %d program and %d harness sources"
              % (len(prog), len(harness)), file=sys.stderr)
        jar_cp = os.path.join(jars, "*")
        scalac(jars, prog_out, jar_cp, prog, build_dir)
        scalac(jars, harness_out, os.pathsep.join([prog_out, jar_cp]),
               harness, build_dir)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([os.path.join(root, "perfbench", "conf"),
                            harness_out, prog_out,
                            os.path.join(jars, "*")])


if __name__ == "__main__":
    ensure(os.getcwd())
