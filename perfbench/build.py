"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own Scala sources into one class directory with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars). A rebuild
happens only when a source file changed.

Run alone:  python3 perfbench/build.py
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(dirs[0]):
        raise SystemExit(f"perfbench: no program sources under {dirs[0]}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns the class directory, compiling first if the sources changed."""
    files = sources(root)
    digest = source_digest(files)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(out, exist_ok=True)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", jars, "-nowarn", "@" + argfile]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: compile failed (see {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
