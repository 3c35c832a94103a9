"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark (perfbench/src/main/scala, and on request perfbench/src/test/scala)
with the Scala compiler shipped in the Spark distribution (the jar directory
the repository's build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars),
into $CARGO_TARGET_DIR (default .bench_build at the root of the checkout). A directory is recompiled only when the hash of its
sources, and of what they were compiled against, changes. Used by run.py.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark jars the library's own build compiles against (build.sbt's
    `unmanagedBase`), else $SPARK_HOME/jars."""
    d = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        d = m.group(1) if m else None
    if d is None and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if d is None:
        fail("no Spark jar directory: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not os.path.isdir(d):
        fail(f"no Spark jar directory at {d}")
    jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
    if not any("scala-compiler" in j for j in jars):
        fail(f"no scala-compiler jar in {d}")
    return d, jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_to(out, files, classpath, jar_dir, salt=""):
    """Compile `files` into `out` unless its stamp (the sources, and `salt`
    naming what they were compiled against) already matches."""
    sig = stamp(files, salt)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == sig:
        return sig
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(os.path.dirname(out), os.path.basename(out) + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources into {out}", file=sys.stderr)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jar_dir, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", tmp, "-classpath", ":".join(classpath), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(sig)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return sig


def build():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found at {lib}: run from a checkout of the repository")
    jar_dir, jars = spark_jars()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    lib_classes = os.path.join(bdir, "lib-classes")
    lib_sig = compile_to(lib_classes, sources(lib), jars, jar_dir)
    bench_classes = os.path.join(bdir, "bench-classes")
    bench_sig = compile_to(bench_classes, sources(os.path.join(HERE, "src", "main", "scala")),
                           [lib_classes] + jars, jar_dir, salt=lib_sig)
    return bdir, [bench_classes, lib_classes], jar_dir, jars, lib_sig[:12] + "-" + bench_sig[:12]


def build_tests(built):
    """Compile the benchmark's own tests against `built`; returns their directory."""
    bdir, classes, jar_dir, jars, sig = built
    tests = os.path.join(bdir, "test-classes")
    compile_to(tests, sources(os.path.join(HERE, "src", "test", "scala")), classes + jars, jar_dir, salt=sig)
    return tests
