"""Build file of the benchmark package.

Compiles the program's Scala sources (`src/main/scala`) together with the
benchmark's own (`e2ebench/src`) against the Spark distribution's jars
(`$SPARK_HOME/jars`, else the `unmanagedBase` of the program's
build.sbt), with the Scala compiler those jars ship. The class directory lands under
`.bench_build/e2ebench/` and is keyed by a hash of every source, so an
unchanged tree is not rebuilt.

    python3 e2ebench/build.py        # from the repository root
"""
import fcntl
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory the program's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = pathlib.Path(root) / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise SystemExit("no Spark jars: set SPARK_HOME")
        jars = pathlib.Path(m.group(1))
    if not jars.is_dir():
        raise SystemExit(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program sources not found at {program}")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def build(root):
    """Returns the class directory for the current sources, compiling it
    if needed."""
    root = pathlib.Path(root).resolve()
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    out_root = root / ".bench_build" / "e2ebench"
    out_root.mkdir(parents=True, exist_ok=True)
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    with open(out_root / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (classes / "graftbench" / "Main.class").is_file():
            return classes
        tmp = out_root / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files))
        cp = f"{jars}/*"
        cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp, f"@{argfile}"]
        (tmp / "classes").mkdir()
        print(f"[e2ebench] compiling {len(files)} sources ...", file=sys.stderr)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-6000:])
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("compilation failed")
        for old in out_root.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        (tmp / "classes").rename(classes)
        shutil.rmtree(tmp, ignore_errors=True)
        return classes


if __name__ == "__main__":
    print(build(pathlib.Path.cwd()))
