"""Build file of the graft benchmark package.

Compiles graft's library sources (src/main/scala of the checkout) together
with the benchmark's own sources (perfbench/src) into one class directory,
using the Scala compiler that ships in Spark's jar directory. The class
directory is reused while no source file changes.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    out = []
    for top in (LIB_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if needed; return (build output dir, classpath string). The
    compiled classes are packed into graftbench.jar, since the JVM's class
    data sharing archives classes from jars only."""
    jars = spark_jars()
    cp = os.path.join(jars, "*")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "classes-" + stamp)
    jar = os.path.join(out, "graftbench.jar")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, jar + os.pathsep + cp
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        argfile = os.path.join(tmp, ".sources")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("build: scalac failed")
        os.remove(argfile)
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        for name in os.listdir(tmp):
            if name != "classes":
                os.replace(os.path.join(tmp, name), os.path.join(classes, name))
        with zipfile.ZipFile(os.path.join(tmp, "graftbench.jar"), "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in files:
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        shutil.rmtree(classes)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        for old in os.listdir(build_dir()):
            if old.startswith("classes-") and old != os.path.basename(out):
                shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, jar + os.pathsep + cp


if __name__ == "__main__":
    print(build()[0])
