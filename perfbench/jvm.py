"""Build the program and the benchmark harness from source, and start a JVM
directly on the compiled classes, without sbt.

The JVM gets what the sbt build gives its forked runs, read from the
repo's build.sbt so the two cannot drift: the Spark jar directory
(`unmanagedBase`), every `-D` option of `javaOptions` (UI off, UTC, the
zstd shuffle and parquet codecs), the JDK 17 `--add-opens` list, and the
heap size (`SPARK_DRIVER_MEM`, the build's default otherwise).

    python3 perfbench/jvm.py build                 # compile, or reuse
    python3 perfbench/jvm.py run graft.Bench       # run any main
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
BUILD = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def _build_sbt():
    f = ROOT / "build.sbt"
    if not f.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the "
                         "program")
    return f.read_text()


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no Spark jar directory that exists")
    return Path(m.group(1))


def java_options():
    """JVM options of the build's forked runs, as build.sbt states them."""
    sbt = "\n".join(line.split("//")[0] for line in _build_sbt().splitlines())
    opens = re.findall(r'"(java\.base/[^"]+)"', sbt)
    defines = re.findall(r'"(-D[^"$]+)"', sbt)
    heap = re.search(r'SPARK_DRIVER_MEM",\s*"([0-9]+[gGmM])"', sbt)
    if not opens or not defines or not heap:
        raise BuildError("could not read the add-opens list, the -D options "
                         "or the heap default from build.sbt")
    out = [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out += defines
    out.append("-Xmx" + os.environ.get("SPARK_DRIVER_MEM", heap.group(1)))
    return out


def _sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    return program + sorted((BENCH / "scala").glob("*.scala"))


def build():
    """Compile the program's main sources and the harness together into
    one class directory; reuse it while no source changed."""
    sources = _sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in sources + [ROOT / "build.sbt", Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in sources) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def command(main, args=()):
    """The java command line that runs `main` on the compiled classes."""
    cp = f"{build()}{os.pathsep}{spark_jars()}/*"
    return ["java", *java_options(), "-cp", cp, main, *args]


if __name__ == "__main__":
    try:
        if sys.argv[1:2] == ["build"]:
            print(build())
        elif sys.argv[1:2] == ["run"] and len(sys.argv) > 2:
            os.execvp("java", command(sys.argv[2], sys.argv[3:]))
        else:
            sys.exit(__doc__)
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
