"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/src`) into
one class directory, with the Scala compiler that ships in Spark's jars.
A SHA-256 stamp over every source skips the compile when nothing
changed.

    python3 perfbench/build.py [BUILD_DIR]     # default: .bench_build
"""

import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one beside
    the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation: set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise BuildError("missing source tree %s" % top)
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure(root, build_dir, timeout=840):
    """Compile if any source changed; return the class directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=timeout)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" +
                         r.stdout.decode(errors="replace")[-4000:])
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd(), sys.argv[1] if len(sys.argv) > 1
                     else ".bench_build"))
    except BuildError as e:
        sys.exit(str(e))
