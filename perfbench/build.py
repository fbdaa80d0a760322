"""Build the program and the benchmark from source with scalac.

The program's own build file names the Scala version and the directory of
unmanaged jars (Spark, which also ships the Scala compiler). Both class
trees go under `.bench_build/` in the checkout and are rebuilt only when a
source file changes.

    python3 perfbench/build.py        # build if stale, print the classpath
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
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def _build_sbt():
    f = ROOT / "build.sbt"
    if not f.is_file():
        raise BuildError(f"no program build file at {f}")
    return f.read_text()


def jars_dir():
    """The unmanaged jar directory build.sbt names (Spark and its Scala)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if not m or not list(Path(m.group(1)).glob("spark-core_*.jar")):
        raise BuildError("build.sbt names no unmanagedBase directory holding the Spark jars")
    return Path(m.group(1))


def scala_version():
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    return m.group(1)


def _sources(d):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.suffix in (".scala", ".java"))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def source_digest():
    """Hash of the program's sources and build file: the commit stamp when
    the checkout carries no version control."""
    files = _sources(ROOT / "src" / "main") + [ROOT / "build.sbt"]
    return _digest(files)


def _scalac(jars, classpath, out, sources):
    v = scala_version()
    tool = [str(jars / f"scala-{n}-{v}.jar") for n in ("compiler", "library", "reflect")]
    missing = [t for t in tool if not Path(t).is_file()]
    if missing:
        raise BuildError(f"Scala {v} compiler jars not found: {missing}")
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".sources")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(tool), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Build what is stale; return the runtime classpath."""
    jars = jars_dir()
    spark_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    prog_src = ROOT / "src" / "main"
    if not (prog_src / "scala").is_dir():
        raise BuildError(f"no program sources under {prog_src}")
    prog_out, bench_out = OUT / "program", OUT / "perfbench"
    prog_stamp = source_digest()
    bench_stamp = prog_stamp + _digest(_sources(BENCH / "src"))
    stamp_file = OUT / "stamp"
    stamps = stamp_file.read_text().split() if stamp_file.is_file() else []
    if len(stamps) != 2 or stamps[0] != prog_stamp:
        _scalac(jars, spark_cp, prog_out, _sources(prog_src / "scala"))
        resources = prog_src / "resources"
        if resources.is_dir():
            shutil.copytree(resources, prog_out, dirs_exist_ok=True)
        stamps = [prog_stamp, ""]
    if stamps[1] != bench_stamp:
        _scalac(jars, os.pathsep.join([str(prog_out), spark_cp]), bench_out, _sources(BENCH / "src"))
    stamp_file.write_text(f"{prog_stamp}\n{bench_stamp}\n")
    return os.pathsep.join([str(bench_out), str(prog_out), spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
