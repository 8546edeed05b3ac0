"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala sources with scalac from the Spark distribution
(`$SPARK_HOME/jars`, or the one holding `spark-submit` on PATH) into
`<build dir>/perfbench/classes`. The build dir is `$CARGO_TARGET_DIR`,
else `.bench_build`, relative to the checkout root. A build is reused
while every source file is unchanged.

    python3 perfbench/build.py        # from the checkout root
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def references_dir(root):
    """Reference outputs of the current build; a rebuild starts them afresh."""
    return os.path.join(build_dir(root), "references")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"perfbench: no program sources at {program}")
    found = []
    for base in (program, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(root):
    """Runtime class path: compiled classes, program resources, Spark."""
    parts = [os.path.join(build_dir(root), "classes")]
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        parts.append(resources)
    parts.append(os.path.join(spark_jars(), "*"))
    return os.pathsep.join(parts)


def build(root):
    """Compile if any source changed; returns the classes directory."""
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes
        compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))
                    for n in ("compiler", "library", "reflect")]
        if not all(compiler):
            raise SystemExit(f"perfbench: no scala compiler jars under {jars}")
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(c[0] for c in compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp, "@" + argfile]
        print(f"[perfbench] compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        # another program may give other outputs for the same inputs
        shutil.rmtree(references_dir(root), ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
