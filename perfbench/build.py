#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into <build dir>/perfbench/classes, and packs them
into <build dir>/perfbench/classes.jar (a jar, so the JVM's class-data
sharing archive of run.py can hold them).

Usage (from the repository root):
    python3 perfbench/build.py          # build if any source changed
    python3 perfbench/build.py test     # build, then run the generator spec

The build dir is $CARGO_TARGET_DIR when set, else .bench_build.
"""
import glob
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars directory, $SPARK_HOME/jars."""
    d = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found under $SPARK_HOME/jars")
    return d


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        sys.exit(f"perfbench: no engine sources under {root}/src/main/scala")
    return main + bench


def build(root):
    """Compile and pack when the sources changed; returns the jar."""
    base = build_dir(root)
    out = os.path.join(base, "classes")
    jar = os.path.join(base, "classes.jar")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and os.path.exists(jar) and open(stamp).read() == h.hexdigest():
        return jar
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "**/*.class"), recursive=True) + [jar, cds_archive(root)]:
        if os.path.exists(old):
            os.remove(old)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", jars] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for c in sorted(glob.glob(os.path.join(out, "**/*.class"), recursive=True)):
            z.write(c, os.path.relpath(c, out))
    os.replace(jar + ".tmp", jar)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def cds_archive(root):
    """The JVM class-data sharing archive of classes.jar and Spark's jars;
    run.py writes it at the end of the first run after a build."""
    return os.path.join(build_dir(root), "classes.jsa")


def main():
    root = os.getcwd()
    build(root)
    if sys.argv[1:] == ["test"]:
        sys.exit(subprocess.run([sys.executable, os.path.join(HERE, "tests", "test_gen.py")]).returncode)


if __name__ == "__main__":
    main()
