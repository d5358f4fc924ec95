"""Compiles the program and the benchmark driver with scalac.

The project's main code needs only the Spark jars (see build.sbt), and
the Spark distribution ships the Scala 2.13 compiler, so one scalac call
builds src/main/scala and perfbench/src together. Output goes to
<build_dir>/classes-<hash of the sources>, so an unchanged tree is not
rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

BENCH_SRC = Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def sources(root):
    main = root / "src" / "main" / "scala"
    if not (main / "graft" / "SparkEntry.scala").exists():
        raise BuildError(f"no graft sources under {main}; run from the repository root")
    return sorted(main.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise BuildError("Spark not found: set SPARK_HOME") from None
        home = Path(pyspark.__file__).parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no Spark jars in {jars}")
    return jars


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def ensure(root, build_dir):
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    classes = build_dir / f"classes-{digest.hexdigest()[:16]}"
    if classes.exists():
        return classes
    jars = spark_jars()
    scala = [next(iter(sorted(jars.glob(f"scala-{j}-2.13.*.jar"))), None)
             for j in ("compiler", "library", "reflect")]
    if None in scala:
        raise BuildError(f"the Scala 2.13 compiler jars are not in {jars}")
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(f) for f in files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(map(str, scala)), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{args}"],
        capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    args.unlink()
    tmp.rename(classes)
    return classes

