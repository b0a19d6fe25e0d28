"""Build file of the benchmark: compiles graft (src/main) together with the
benchmark's sources (perfbench/src, perfbench/test) in one scalac run.

The compiler and the Spark jars come from the Spark distribution the root
build compiles against: $SPARK_HOME/jars, else the `unmanagedBase` named in
build.sbt. Output goes to perfbench/.build/<hash of every input>/, so an
unchanged tree is compiled once and later runs reuse it.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src", BENCH / "test"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """The directory of Spark (and Scala) jars graft compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit("build: no build.sbt at %s and no SPARK_HOME; cannot locate Spark" % ROOT)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build: build.sbt names no existing unmanagedBase and SPARK_HOME is unset")
    return Path(m.group(1))


def inputs():
    files = []
    for d in SOURCE_DIRS + [RESOURCES]:
        if not d.is_dir():
            raise SystemExit("build: source directory %s is missing" % d)
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def ensure():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = inputs()
    h = hashlib.sha256()
    for p in files + [ROOT / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BENCH / ".build" / h.hexdigest()[:16]
    if (out / "OK").is_file():
        return out / "classes"
    tmp = out.with_name(out.name + ".tmp%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    compiler = [str(next(jars.glob(g))) for g in
                ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar")]
    sources = [str(p) for p in files if p.suffix == ".scala"]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-classpath", str(jars / "*"),
           "-d", str(tmp / "classes"), "@" + str(argfile)]
    print("build: compiling %d sources into %s" % (len(sources), out), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    shutil.copytree(RESOURCES, tmp / "classes", dirs_exist_ok=True)
    (tmp / "OK").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes"


if __name__ == "__main__":
    print(ensure())
