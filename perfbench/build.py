"""Build file of the benchmark: compiles graft (src/main/scala) together
with the benchmark's JVM harness (perfbench/src) using the Scala compiler
that ships with Spark, against Spark's jars.

    python3 perfbench/build.py        # prints the classes directory

Output goes to perfbench/.build/<source hash>/; an unchanged tree is not
rebuilt. Spark is found at $SPARK_HOME, else through `spark-submit` on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BUILD_ROOT = HERE / ".build"
SCALA_VERSION = "2.13.17"


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if (jars / f"scala-compiler-{SCALA_VERSION}.jar").exists():
            return jars
    raise SystemExit(f"build: no Spark with the Scala {SCALA_VERSION} compiler "
                     "(set SPARK_HOME)")


def sources(root):
    main = sorted((Path(root) / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit(f"build: no program sources under {root}/src/main/scala")
    return main + sorted((HERE / "src").rglob("*.scala"))


def build(root):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    dest = BUILD_ROOT / h.hexdigest()[:16]
    if (dest / "BUILT").exists():
        return dest
    shutil.rmtree(BUILD_ROOT, ignore_errors=True)
    (dest / "classes").mkdir(parents=True)
    compiler = os.pathsep.join(
        str(jars / f"scala-{p}-{SCALA_VERSION}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest / "classes"),
           "-classpath", str(jars / "*")] + [str(s) for s in srcs]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    (dest / "BUILT").write_text("")
    return dest


if __name__ == "__main__":
    print(build(Path.cwd()) / "classes")
