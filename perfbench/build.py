#!/usr/bin/env python3
"""The benchmark's build: compiles graft's sources (src/main/scala) plus
perfbench/src into one classes directory.

    python3 perfbench/build.py [build dir]

The compiler is the scala-compiler jar in the Spark jars directory that
the root build.sbt declares, run with plain java, so a build needs
neither sbt nor anything in the home directory. run.py calls build()
before every run; it recompiles only when a source changed. The default
build dir is $CARGO_TARGET_DIR/perfbench, else .bench_build/perfbench.
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
SCALAC_OPTS = ["-deprecation", "-feature"]
COMPILER = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def build_root():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return os.path.join(d, "perfbench")


def spark_jars():
    """The Spark jars directory the root build.sbt declares."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("no unmanagedBase in the root build.sbt")
    return m.group(1)


def source_files():
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def build(broot):
    """(classes dir, source hash): compiles into broot/classes unless the
    classes there were built from the current sources."""
    jars = spark_jars()
    srcs = list(source_files())
    h = hashlib.sha256(" ".join([jars, *SCALAC_OPTS]).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(broot, "classes")
    stamp_file = os.path.join(broot, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes, stamp
    compiler = []
    for lib in COMPILER:
        found = glob.glob(os.path.join(jars, f"{lib}-2.13.*.jar"))
        if len(found) != 1:
            raise BuildError(f"expected one {lib}-2.13 jar in {jars}, "
                             f"found {len(found)}")
        compiler += found
    out = os.path.join(broot, "classes.tmp")
    tmp = os.path.join(broot, "build-tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    sources = os.path.join(tmp, "sources.txt")
    with open(sources, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(broot, "build.log")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", *SCALAC_OPTS,
           "-classpath", ":".join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "-d", out, "@" + sources]
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise BuildError(f"scalac exit {rc}; log in {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    broot = sys.argv[1] if len(sys.argv) > 1 else build_root()
    os.makedirs(broot, exist_ok=True)
    try:
        print(build(broot)[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
