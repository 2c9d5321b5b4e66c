"""Build for the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution, into .bench_build/ at the checkout root.

A build is skipped when the sources hash to the stamp of the last build.
Run directly (`python3 perfbench/build.py`) or through run.py.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME must point at a Spark distribution with jars/")
    return Path(home) / "jars"


def _sources(root: Path) -> list:
    files = sorted(root.rglob("*.scala"))
    if not files:
        sys.exit(f"perfbench: no Scala sources under {root.relative_to(ROOT)}")
    return files


def _stamp(files: list, salt: str) -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, files: list, classpath: list, stamp: str) -> Path:
    out = BUILD / "classes" / name
    stamp_file = BUILD / f"{name}.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = BUILD / "classes" / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = BUILD / f"{name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join([str(spark_jars() / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", str(tmp), f"@{args}"]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"perfbench: compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


def build() -> list:
    """Returns the class directories to put before the Spark jars."""
    spark_jars()
    prog_files = _sources(PROGRAM_SRC)
    bench_files = _sources(BENCH_SRC)
    prog_stamp = _stamp(prog_files, "program")
    program = _compile("program", prog_files, [], prog_stamp)
    bench = _compile("bench", bench_files, [program], _stamp(bench_files, prog_stamp))
    return [program, bench]


if __name__ == "__main__":
    for d in build():
        print(d)
