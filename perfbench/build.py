"""Build the benchmark: compile the program's sources (src/main/scala) together
with the benchmark's own (perfbench/src) using the Scala compiler that ships
in the Spark distribution, so no build tool or network is needed.

Usage, from the repository root:

    python3 perfbench/build.py        # prints the runtime classpath

Classes go to .bench_build/classes-<hash of the sources>; a build whose
sources are unchanged is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars() -> Path:
    """The jars directory of the Spark distribution: $SPARK_HOME, else the one
    that provides `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise RuntimeError("no Spark distribution found: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return "java"


def sources(root: Path) -> list:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise RuntimeError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    return program + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root: Path) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out_root = root / ".bench_build"
    out = out_root / f"classes-{h.hexdigest()[:16]}"
    classpath = os.pathsep.join([str(out), str(jars / "*")])
    if (out / "BUILD_OK").exists():
        return classpath
    tmp = out_root / (out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out_root / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    subprocess.run(cmd, check=True, timeout=800, stdout=sys.stderr)
    (tmp / "BUILD_OK").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in out_root.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    print(build(Path.cwd()))
