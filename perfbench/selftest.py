"""The benchmark's own tests: generator determinism and mix, and checkers
that reject corrupted outputs (perfbench/src/perfbench/SelfTest.scala).

    python3 perfbench/selftest.py
"""
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"cannot build the program: {e}")
    work = run.WORK / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = run.jvm(classpath, work, "perfbench.SelfTest",
                  "--cores", str(run.machine()["nproc"]), "--work", str(work))
    rc = subprocess.run(cmd, cwd=work).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
