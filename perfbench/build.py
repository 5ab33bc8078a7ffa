"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into one jar,
`.bench_build/build-<source hash>/app.jar`, with the Scala compiler that ships
in Spark's jar directory (`$SPARK_HOME/jars`). No dependency is fetched. An
unchanged tree is compiled once; a changed one is rebuilt. (A jar rather than
a class directory, because the JVM's class-data sharing archive that run.py
keeps beside it only covers classes loaded from jars.)

    python3 perfbench/build.py      # build (or reuse) and print the jar
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = pathlib.Path(__file__).resolve().parent
BUILD_DIR = pathlib.Path(".bench_build")
PROGRAM_SRC = pathlib.Path("src/main/scala")
BENCH_SRC = BENCH_DIR / "src"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark needs Spark's jars")
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources() -> list:
    if not PROGRAM_SRC.is_dir() or not any(PROGRAM_SRC.rglob("*.scala")):
        raise BuildError(f"program sources not found under ./{PROGRAM_SRC} "
                         "(run from the root of a checkout)")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def source_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ensure_built() -> tuple:
    """Return (build dir holding app.jar, source hash), compiling when the
    sources changed. Builds of other source trees are removed."""
    files = sources()
    digest = source_hash(files)
    out = BUILD_DIR / f"build-{digest}"
    if (out / "_SUCCESS").exists():
        return out, digest
    jars = spark_jars()
    tmp = BUILD_DIR / f"tmp-{digest}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources ({digest})", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    with zipfile.ZipFile(tmp / "app.jar", "w", zipfile.ZIP_DEFLATED) as jar:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                jar.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    argfile.unlink()
    for old in BUILD_DIR.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    (out / "_SUCCESS").write_text(digest + "\n")
    return out, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0] / "app.jar")
    except BuildError as e:
        print(f"[perfbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
