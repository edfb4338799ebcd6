"""Build step of the benchmark: compiles the program's main sources and the
harness with the Scala compiler that ships in the Spark distribution (the
same jars the program's own build compiles against).

Outputs are keyed by a content hash of every compiled source, so a checkout
builds once and later runs reuse the classes. No sbt, no network.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars() -> Path:
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    return Path(home or ".") / "jars"


SPARK_JARS = spark_jars()
SCALA_VERSION = "2.13.17"
HERE = Path(__file__).resolve().parent


def sources(root: Path):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    return program, harness


def content_hash(paths, root: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(classpath, out: Path, files):
    compiler = os.pathsep.join(str(SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"perfbench: scalac failed for {out}")


def build(root: Path, out_base: Path) -> str:
    """Returns the run classpath (harness, program, Spark jars)."""
    program, harness = sources(root)
    dest = out_base / content_hash(program + harness, root)[:16]
    classes, hclasses = dest / "classes", dest / "harness"
    spark_cp = str(SPARK_JARS / "*")
    if not (dest / "ok").exists():
        scalac(spark_cp, classes, program)
        scalac(os.pathsep.join([str(classes), spark_cp]), hclasses, harness)
        (dest / "ok").write_text("ok\n")
    return os.pathsep.join([str(hclasses), str(classes), spark_cp])
