"""Build file of the CDC benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars), into .perfbench/build/<hash>/.
The hash covers every input file, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py        # prints the classpath it built
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".perfbench", "build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if not java:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return java


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _compiler_cp(jars):
    picked = []
    for lib in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(n for n in os.listdir(jars) if n.startswith(lib + "-") and n.endswith(".jar"))
        if not hits:
            raise BuildError(f"{lib} jar missing from {jars}")
        picked.append(os.path.join(jars, hits[-1]))
    return os.pathsep.join(picked)


def build():
    """Compile if needed. Returns the runtime classpath (classes, resources,
    Spark jars) and the build key, a hash of every input file."""
    engine = _files(ENGINE_SRC, ".scala")
    bench = _files(BENCH_SRC, ".scala")
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not bench:
        raise BuildError(f"no benchmark sources under {os.path.relpath(BENCH_SRC, ROOT)}")
    resources = _files(ENGINE_RES) if os.path.isdir(ENGINE_RES) else []
    h = hashlib.sha256()
    for f in engine + bench + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    target = os.path.join(OUT, key)
    jars = spark_jars()
    runtime_cp = os.pathsep.join([os.path.join(target, "classes"), os.path.join(jars, "*")])
    if os.path.isfile(os.path.join(target, "DONE")):
        return runtime_cp, key
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not os.path.isfile(os.path.join(target, "DONE")):
            _compile(engine + bench, resources, jars, key, target)
    return runtime_cp, key


def _compile(sources, resources, jars, key, target):
    for stale in os.listdir(OUT):
        if stale != ".lock":
            shutil.rmtree(os.path.join(OUT, stale), ignore_errors=True)
    staging = os.path.join(OUT, f".{key}.{os.getpid()}")
    classes = os.path.join(staging, "classes")
    os.makedirs(classes)
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={staging}",
           "-cp", _compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-8000:])
    open(os.path.join(staging, "DONE"), "w").close()
    os.rename(staging, target)


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
