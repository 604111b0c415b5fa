#!/usr/bin/env python3
"""Build the library and the benchmark program from source.

Compiles `src/main/scala` (the library) together with `perfbench/src`
(the benchmark program) in one scalac pass, using the Scala compiler and the Spark
jars of the Spark installation named by SPARK_HOME (or found through
`spark-submit` on PATH). The output goes to `<build dir>/perfbench.jar` and
is reused while a hash of every source file, of this script and of the
toolchain stays the same.

    python3 perfbench/build.py            # build (or reuse) and print the jar
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
LAYERS_FILE = "perfbench-layers.tsv"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def build_dir():
    # CARGO_TARGET_DIR, when set, names the directory for build outputs
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {LIB_SRC}")
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def compiler_cp(jars):
    cp = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not hits:
            raise BuildError(f"{name} 2.13 jar not found in {jars}")
        cp.append(hits[-1])
    return cp


def stamp(files, ccp):
    h = hashlib.sha256()
    for f in files + ccp:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the compiled jar, compiling when sources changed."""
    jars = spark_jars()
    files = sources()
    ccp = compiler_cp(jars)
    out = build_dir()
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files + [os.path.abspath(__file__)], ccp)
    if (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read().strip() == want):
        return jar
    os.makedirs(out, exist_ok=True)
    for f in (jar, stamp_file, class_archive()):
        if os.path.exists(f):
            os.remove(f)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    tmp = jar + ".tmp.jar"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(ccp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(tmp, "a") as z:
        z.writestr(LAYERS_FILE, layers())
    os.replace(tmp, jar)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return jar


def class_archive():
    """The JVM's class-data archive for this build: the benchmark's first
    run writes it, later runs load Spark's classes from it and start in
    about half the time. A rebuild removes it, as it names the jar."""
    return os.path.join(build_dir(), "perfbench.jsa")


def layers():
    """Map each library source file to its layer, the package directory
    under src/main/scala/graft it lives in (`graft` for the top level), and
    the benchmark's own sources to `perfbench`, as tab-separated lines.
    The benchmark reads it to attribute Spark stages, which Spark names
    after the source file of their call site."""
    rows = {os.path.splitext(os.path.basename(f))[0]: "perfbench"
            for f in glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True)}
    for f in sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)):
        rel = os.path.relpath(f, LIB_SRC).split(os.sep)
        pkg = rel[1] if len(rel) > 2 and rel[0] == "graft" else "graft"
        rows.setdefault(os.path.splitext(rel[-1])[0], pkg)
    return "".join(f"{name}\t{pkg}\n" for name, pkg in sorted(rows.items()))


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
