"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's Scala sources (e2ebench/src) with the Scala compiler
that ships in Spark's jars, into .bench_build/e2ebench/classes-<hash>.
The Spark jars are the directory build.sbt names as its unmanagedBase.

The output directory is keyed by a hash of every source file, so an
unchanged tree builds once. Usage: python3 e2ebench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / ".bench_build" / "e2ebench"


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase for the Spark jars")
    return Path(m.group(1))


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted((ROOT / "e2ebench" / "src").glob("*.scala"))


def classpath(classes):
    return os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build():
    """Returns the classes directory, compiling it first when missing."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = BENCH / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    for old in BENCH.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BENCH / "classes-partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    compiler = os.pathsep.join(str(j) for k in ("compiler", "library", "reflect")
                               for j in jars.glob(f"scala-{k}-2.*.jar"))
    argfile = BENCH / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    (tmp / ".complete").touch()
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
