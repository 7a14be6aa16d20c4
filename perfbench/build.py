"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/perfbench/bench.jar. A stamp
over every source file skips the compile when nothing changed. (A jar, not
a class directory, so the JVM can map the classes from a class-data
archive; see run.py.)

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt sets the same)
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources under {main}; "
                         "run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def ensure(root):
    """Compile if any source changed; return (classpath, source hash)."""
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", "perfbench")
    jar = os.path.join(base, "bench.jar")
    stamp_file = os.path.join(base, "STAMP")
    if not (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        staging = os.path.join(base, "classes.tmp")
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr,
              flush=True)
        done = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging]
            + files, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if done.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, fs in sorted(os.walk(staging)):
                for f in sorted(fs):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, staging))
        os.replace(jar + ".tmp", jar)
        shutil.rmtree(staging)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([jar, os.path.join(jars, "*")]), stamp

if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
