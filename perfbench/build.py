"""Build file of the pipeline benchmark: compiles the project's sources
(src/main/scala) together with the benchmark's own (perfbench/scala) with
the Scala compiler that ships in the Spark distribution. The repository's
sbt build is not used or changed.

    python3 perfbench/build.py          # prints the build directory

Output goes to .bench_build/<source hash>/bench.jar; an up-to-date build
is reused, so only the first run in a checkout compiles (~30 s on 4 cores).
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


def classpath_jars():
    """The Spark distribution's jars: the classpath of the build and of runs."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME must point at the Spark distribution")
    return os.path.join(home, "jars", "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main:
        raise SystemExit("perfbench: no project sources under src/main/scala")
    return main + bench


def ensure():
    """Compile if needed; return the build directory of the current sources,
    which holds bench.jar (project + benchmark classes)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    build_root = os.path.join(ROOT, ".bench_build")
    out = os.path.join(build_root, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(build_root, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath_jars(), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    # a jar, because class-data sharing archives classes from jars only
    with zipfile.ZipFile(os.path.join(out, "bench.jar"), "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure())
