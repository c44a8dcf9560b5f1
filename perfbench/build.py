"""Build graft and the benchmark harness from source.

    python3 perfbench/build.py [BUILD_DIR]

Compiles every Scala file under src/main/scala together with
perfbench/scala against the Spark jars, with the Scala compiler those jars
ship, into BUILD_DIR/classes. BUILD_DIR defaults to $CARGO_TARGET_DIR, or
.bench_build at the repository root. A content hash of the sources is kept
next to the classes, and an unchanged tree is not compiled again.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build(out=None):
    """Compile if the sources changed; return the classes directory."""
    out = out or build_dir()
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
