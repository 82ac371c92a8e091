"""Builds the benchmark: the program's sources (src/main/scala) and the
benchmark's own (perfbench/src) compiled with the Scala compiler that ships
with Spark, against Spark's jars. Output goes under the build directory,
keyed by a hash of the sources, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py [build_dir]     # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SRC = Path("src/main/scala")
BENCH_SRC = Path("perfbench/src")


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no scala-compiler jar under {jars}")
    return jars


def sources(root: Path) -> list:
    if not root.is_dir():
        raise SystemExit(f"missing source directory {root}")
    files = sorted(p for p in root.rglob("*.scala") if p.is_file())
    if not files:
        raise SystemExit(f"no Scala sources under {root}")
    return files


def digest(files, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_into(out: Path, files, classpath: str, jars: Path) -> None:
    if out.is_dir():
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(tmp), "-classpath", classpath]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"compile failed for {out.name}")
    tmp.rename(out)


def build(build_dir: Path) -> str:
    jars = spark_jars()
    program = sources(PROGRAM_SRC)
    bench = sources(BENCH_SRC)
    classes = build_dir / "classes"
    p_out = classes / f"program-{digest(program)}"
    b_out = classes / f"bench-{digest(bench, p_out.name)}"
    compile_into(p_out, program, f"{jars}/*", jars)
    compile_into(b_out, bench, f"{p_out}:{jars}/*", jars)
    for old in classes.iterdir():
        if old not in (p_out, b_out):
            shutil.rmtree(old, ignore_errors=True)
    return f"{b_out}:{p_out}:{jars}/*"


if __name__ == "__main__":
    print(build(Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
