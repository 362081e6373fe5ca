"""Build file of the benchmark: compiles the engine's main sources together
with the harness under perfbench/scala into one class directory.

It calls the Scala compiler that ships in Spark's jar directory (the jar
directory and Scala version build.sbt names) directly, so a build reads
nothing but the checkout and the Spark install, and writes only under
`.bench_build/`. A build is reused while no source file changes.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar dir: $SPARK_HOME/jars, else the `unmanagedBase` build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}; set SPARK_HOME")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"no engine sources under {main}: run from the repository root")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root, log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    srcs = sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    base = os.path.join(root, ".bench_build", "classes")
    out = os.path.join(base, digest.hexdigest()[:16])
    resources = os.path.join(root, "src", "main", "resources")
    classpath = os.pathsep.join([out, resources, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return classpath
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"compiling {len(srcs)} Scala files into {os.path.relpath(out, root)}", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={base}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        print(proc.stdout[-4000:], file=log)
        raise SystemExit("compilation failed")
    open(os.path.join(out, "_BUILT"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))
