"""Build file of the wire-to-answer benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`wirebench/src`) with the Scala compiler that
ships in the Spark distribution, into `.bench_build/wirebench/<key>/`.
The key hashes every source and resource file, so an unchanged tree is
built once and a changed one is rebuilt.

    python3 wirebench/build.py        # build (or reuse) and print the classpath
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars of the installed Spark distribution (what the engine's own
    build compiles against): $SPARK_HOME, else the installed pyspark's."""
    homes = [os.environ.get("SPARK_HOME")]
    pyspark = importlib.util.find_spec("pyspark")
    if pyspark and pyspark.origin:
        homes.append(os.path.dirname(pyspark.origin))
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("wirebench: no Spark distribution found (set SPARK_HOME)")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def engine_present():
    return os.path.isdir(ENGINE_SRC) and any(_files(ENGINE_SRC, ".scala"))


def _key(sources, resources, jars):
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Return the runtime classpath, compiling first if the tree changed."""
    if not engine_present():
        raise SystemExit("wirebench: engine sources not found under src/main/scala")
    jars = spark_jars()
    sources = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []
    base = os.path.join(ROOT, ".bench_build", "wirebench")
    out = os.path.join(base, _key(sources, resources, jars))
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "done")):
        if os.path.isdir(base):
            shutil.rmtree(base)
        tmp = out + ".tmp"
        os.makedirs(os.path.join(tmp, "classes"))
        print(f"wirebench: compiling {len(sources)} sources", file=log, flush=True)
        cp = os.path.join(jars, "*")
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(sources))
        cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp, "@" + argfile]
        res = subprocess.run(cmd, stdout=log, stderr=log)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("wirebench: compile failed")
        for f in resources:
            dst = os.path.join(tmp, "classes", os.path.relpath(f, ENGINE_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        open(os.path.join(tmp, "done"), "w").close()
        os.rename(tmp, out)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(ensure_built())
