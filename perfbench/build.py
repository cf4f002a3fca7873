"""Compiles graft's main sources together with the benchmark harness.

The classes go to `.bench_build/perfbench/classes` under the repository
root, with a stamp of the sources they came from; a build whose stamp
matches is reused. Compilation uses the Scala compiler that ships in
Spark's own jar directory (`$SPARK_HOME/jars`, or the `jars` directory
next to `spark-submit` on the PATH), so no build tool or network is needed.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import fcntl
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(pathlib.Path(submit).resolve().parent.parent) if submit else ""
    jars = pathlib.Path(home) / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jar directory with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: {main} not found; run from a graft checkout")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Returns the classpath to run `perfbench.Main` with, compiling first
    when the sources changed since the last build."""
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    jars = spark_jars()
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256(str(jars).encode())
    for f in srcs + sorted(p for p in resources.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{args_file}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
