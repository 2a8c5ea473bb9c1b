"""Build file of the benchmark: compiles the program's Scala sources together
with the harness under perfbench/src into one class directory, with the
Scala compiler that ships in the Spark distribution's jars.

The Spark jars come from $SPARK_HOME/jars, or from the distribution whose
spark-submit is on PATH.  The output lands in
<repo>/.bench_build/classes-<digest>, keyed by a digest of every source, so a
checkout builds once and an edited source rebuilds.

    python3 perfbench/build.py        # prints the runtime classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_home():
    """$SPARK_HOME, else the first Spark distribution on PATH: a directory
    whose bin/ holds spark-submit and whose jars/ holds the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).parent
        if (Path(d) / "spark-submit").exists() and \
                any((home / "jars").glob("scala-compiler-*.jar")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")


SPARK_JARS = spark_home() / "jars"


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def resources():
    return ROOT / "src" / "main" / "resources"


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for f in sorted(resources().rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([str(classes), str(resources()), str(SPARK_JARS / "*")])


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no program sources under src/main/scala")
    srcs = sources()
    classes = BUILD / f"classes-{digest(srcs)}"
    if (classes / "BUILD_OK").exists():
        return classpath(classes)
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"compiling-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    out = tmp / "classes"
    out.mkdir()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        print(res.stdout[-8000:], file=log)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    (out / "BUILD_OK").write_text("ok\n")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.rename(classes)
    shutil.rmtree(tmp, ignore_errors=True)
    return classpath(classes)


if __name__ == "__main__":
    print(build())
