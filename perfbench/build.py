"""Build file of the benchmark: compiles the program from source, then the
benchmark's own JVM side against it.

Both compile with the Scala compiler that ships in the Spark jars
directory the repo's build.sbt names as `unmanagedBase`, so no build
tool or network is needed. Outputs go to `.bench_build/` at the root of
the checkout and are reused while the sources they came from are
unchanged (a hash of the sources is kept next to them).

Usage: python3 perfbench/build.py   (from the root of a checkout)
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
OUT = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the repo's build (build.sbt `unmanagedBase`),
    or $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars directory: build.sbt names none and SPARK_HOME is unset")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, srcs, classpath, out, log):
    compiler = [j for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for j in glob.glob(os.path.join(jars, pat))]
    if len(compiler) < 3:
        raise BuildError(f"no Scala compiler jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", classpath, "-d", tmp, "@" + argfile]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=COMPILE_TIMEOUT_S)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed (exit {r.returncode}), see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _step(name, srcs, classpath, jars, extra=""):
    """Compile `srcs` into .bench_build/<name> unless the hash of the
    sources (and `extra`) matches the last build. Returns (dir, hash)."""
    out = os.path.join(OUT, name)
    stamp = out + ".sha256"
    digest = _digest(srcs, classpath + extra)
    if os.path.isdir(out) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return out, digest
    if os.path.exists(stamp):
        os.remove(stamp)
    _scalac(jars, srcs, classpath, out, os.path.join(OUT, name + ".log"))
    with open(stamp, "w") as f:
        f.write(digest)
    return out, digest


def build():
    """Compile what is stale; return the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    srcs = _sources(main_src)
    if not srcs:
        raise BuildError(f"no program sources under {main_src}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    engine, engine_digest = _step("engine", srcs, jar_cp, jars)
    # the benchmark is recompiled whenever the program is
    bench, _ = _step("bench", _sources(os.path.join(HERE, "src")),
                     os.pathsep.join([engine, jar_cp]), jars, extra=engine_digest)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench, engine, resources, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
