"""Build file of the benchmark: compiles the program (`src/main/scala`,
plus `src/main/resources`) together with the harness (`perfbench/scala`)
with the Scala compiler that ships in Spark's jars, into `<build>/classes`.

The build is skipped when a stamp of every source file's path and content
matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return home


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classes_dir():
    return os.path.join(build_dir(), "classes")


def classpath():
    return os.pathsep.join([classes_dir(), os.path.join(spark_home(), "jars", "*")])


def _sources():
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: source directory {d} is missing")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    sources = _sources()
    digest = hashlib.sha256()
    for path in sources + sorted(_resource_files()):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = classes_dir()
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if (os.path.exists(stamp_file) and os.path.isdir(classes)
            and open(stamp_file).read() == stamp):
        return classpath()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_home(), "jars", "*")
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    print(f"build: compiling {len(sources)} Scala files", file=log)
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    res_dir = os.path.join(ROOT, RESOURCES)
    if os.path.isdir(res_dir):
        shutil.copytree(res_dir, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


def _resource_files():
    base = os.path.join(ROOT, RESOURCES)
    for dirpath, _, files in os.walk(base):
        for f in files:
            yield os.path.join(dirpath, f)


if __name__ == "__main__":
    build()
