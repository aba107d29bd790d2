"""Builds the program and the harness into one class directory.

Compiles the repository's `src/main/scala` together with
`perfbench/scala` with the Scala compiler that ships among Spark's jars
(no sbt, no dependency resolution), into `<build dir>/perfbench-classes`.
A stamp of the sources' content skips the build when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root="."):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's build.sbt compiles against."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(root, "build.sbt")):
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler (SPARK_HOME unset, "
                         f"build.sbt gives {jars!r})")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources not found at {main}")
    found = []
    for base in (main, os.path.join(HERE, "scala")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure(root, build_dir):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, "perfbench-classes")
    stamp_file = os.path.join(out, "_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars(root)
    argfile = os.path.join(build_dir, "perfbench-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", out, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(ensure(os.getcwd(), os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))))
