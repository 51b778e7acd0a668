"""Build step of the benchmark: compiles the program and the harness.

The program under test is the Scala tree at ``src/main`` of the checkout;
the harness is ``perfbench/src``. Both are compiled with the Scala compiler
that ships with Spark (``$SPARK_HOME/jars``, else the first Spark install
on the PATH that has it) into ``.bench_build/`` inside the checkout. A stamp holding the hash of the
sources makes a rebuild happen only when a source changed.

    python3 perfbench/build.py          # build (no-op when up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit("perfbench: no Spark install with the Scala compiler found (set SPARK_HOME)")


def _files(root, exts):
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(exts):
                out.append(os.path.join(d, n))
    return sorted(out)


def _digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, classpath, out, jars):
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", classpath, "-d", tmp] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile of {out} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _stage(root, name, sources, resources, classpath, upstream, jars):
    """Compiles one source set into .bench_build/<name> unless its stamp
    matches; returns (output dir, digest)."""
    out = os.path.join(root, ".bench_build", name)
    stamp = out + ".stamp"
    digest = _digest(sources + resources, classpath + upstream)
    if os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return out, digest
        os.remove(stamp)
    _compile(sources, classpath, out, jars)
    res_root = os.path.join(root, "src", "main", "resources")
    for r in resources:
        dst = os.path.join(out, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return out, digest


def build(root):
    """Returns the runtime classpath; compiles whatever is out of date."""
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    for d in (main_src, bench_src):
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source tree {d}")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    main_out, main_digest = _stage(
        root, "main", _files(main_src, (".scala", ".java")),
        _files(os.path.join(root, "src", "main", "resources"), ("",)),
        spark_cp, "", jars)
    bench_cp = main_out + ":" + spark_cp
    bench_out, _ = _stage(root, "bench", _files(bench_src, (".scala",)), [],
                          bench_cp, main_digest, jars)
    return bench_out + ":" + bench_cp


if __name__ == "__main__":
    print(build(os.getcwd()))
