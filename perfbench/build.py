"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes/` of the checkout. A build is
skipped when the sources, compiler and Spark jars are unchanged.

    python3 perfbench/build.py     # build (or confirm up to date) and exit
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the program's own build declares."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def _sources(d):
    return sorted(p for p in d.rglob("*.scala"))


def _stamp(sources, classpath):
    h = hashlib.sha256()
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(classpath).encode())
    return h.hexdigest()


def _compile(name, sources, classpath, log):
    out = BUILD / "classes" / name
    stamp_file = BUILD / f"{name}.stamp"
    stamp = _stamp(sources, classpath)
    if stamp_file.is_file() and stamp_file.read_text() == stamp and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    jars = spark_jars()
    compiler = [str(jars / f) for f in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", f)]
    argfile = BUILD / f"{name}.args"
    argfile.write_text("\n".join(str(p) for p in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", ":".join(classpath), "-d", str(out), f"@{argfile}"]
    with open(log, "ab") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed (see {log})")
    stamp_file.write_text(stamp)
    return out


def build():
    """Compile what changed; return the runtime classpath entries."""
    program = _sources(PROGRAM_SRC) if PROGRAM_SRC.is_dir() else []
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    jars = sorted(str(p) for p in spark_jars().glob("*.jar"))
    main = _compile("main", program, jars, log)
    bench = _compile("perfbench", _sources(BENCH_SRC), [str(main)] + jars, log)
    return [str(bench), str(main), str(spark_jars() / "*")]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
