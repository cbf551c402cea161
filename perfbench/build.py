"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own sources (perfbench/src) into one class directory.

The compiler is the Scala 2.13 compiler that ships with Spark's jars
(SPARK_HOME/jars, or the jars beside spark-submit on the PATH), so the build
needs no sbt and no network. The output goes
to .bench_build/perfbench/<digest of the sources>/classes under the
checkout root and is reused while no source changes.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
def spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    # a Spark distribution's bin/ on the PATH: the jars sit beside it
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).parent
        if (Path(d) / "spark-submit").exists() and (home / "jars").is_dir():
            return home
    raise SystemExit("build: set SPARK_HOME or put a Spark distribution's bin on the PATH")


SPARK_JARS = spark_home() / "jars"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def build():
    """Compiles if needed and returns the class directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = ROOT / ".bench_build" / "perfbench" / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    if out.exists():
        shutil.rmtree(out)
    tmp = out / "tmp-classes"
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{SPARK_JARS}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss4m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    tmp.rename(classes)
    (out / "ok").write_text("ok\n")
    return classes


if __name__ == "__main__":
    print(build())
