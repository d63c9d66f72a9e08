"""Build the program and the benchmark driver from source with scalac.

The program's sources (src/main/scala) and the driver's (pipebench/scala)
are compiled in one scalac pass against the Spark distribution's jars, which also
carry the Scala compiler. Output goes to .bench_build/pipebench/classes-<hash>,
keyed by a hash of every source file, so an unchanged checkout builds once.

    python3 pipebench/build.py        # build (or reuse) and print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "pipebench")


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
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"{jars} has no scala-compiler jar")
    return jars


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no program sources under {main}")
    return _files(main, ".scala") + _files(os.path.join(HERE, "scala"), ".scala")


def build(log=sys.stderr):
    """Return the classpath (list of entries) of the built program + driver."""
    jars = spark_jars()
    scala = sources()
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in scala:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    cp = [classes, os.path.join(jars, "*")]
    if os.path.isfile(os.path.join(classes, ".ok")):
        return cp

    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    jcp = os.path.join(jars, "*")
    print(f"[pipebench] compiling {len(scala)} Scala sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jcp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jcp, "@" + argfile], stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[pipebench] build error: {e}", file=sys.stderr)
        sys.exit(2)
