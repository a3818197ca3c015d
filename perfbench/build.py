"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the benchmark's own Scala sources
(``perfbench/scala``) into ``.bench_build/classes-<digest>`` with the
Scala compiler that ships in Spark's jars. The digest covers every
source file, so a checkout builds once and any source change rebuilds.

Run it alone with ``python3 perfbench/build.py`` from the repo root.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars under {home}")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(os.path.join("graft", "pipeline") in s for s in out):
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    return sorted(out)


def ensure(root):
    """Compile if needed; return the classpath that runs the benchmark."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    jars = spark_jars()
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        p = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + p.stdout[-4000:])
        os.remove(argfile)
        open(os.path.join(tmp, ".ok"), "w").close()
        if os.path.exists(out):
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, out)
    return out + os.pathsep + jars


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(str(e))
