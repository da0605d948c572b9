"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala`, plus `src/main/resources`) and the
harness (`perfbench/src`) with the Scala compiler that ships in the Spark jar
directory `build.sbt` names as `unmanagedBase`, so no build tool and no
dependency download is needed. Output goes under `$CARGO_TARGET_DIR`
(default `.bench_build`) in the repository root. A build is skipped when the
sources and `build.sbt` hash to the recorded stamp.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


class BuildError(Exception):
    pass


def out_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _sbt_setting(pattern: str) -> str:
    """The first group of `pattern` in build.sbt."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError("build.sbt not found: run from a checkout of the repository")
    m = re.search(pattern, sbt.read_text(), re.S)
    if not m:
        raise BuildError(f"build.sbt has no match for {pattern}")
    return m.group(1)


def spark_jars() -> Path:
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    jars = Path(_sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {jars}")
    return jars


def add_opens() -> list:
    """The packages build.sbt opens to Spark on JDK 17 (its jdk17AddOpens)."""
    return re.findall(r'"([^"]+)"', _sbt_setting(r"val jdk17AddOpens\s*=\s*Seq\((.*?)\)"))


def _sources(base: Path) -> list:
    return sorted(p for p in base.rglob("*") if p.is_file())


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars: Path, classpath: list, sources: list, dest: Path) -> None:
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cp = os.pathsep.join([str(c) for c in classpath] +
                         [str(j) for j in sorted(jars.glob("*.jar"))])
    cmd = ["java", "-Xss8m", "-Xmx1500m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(dest),
           "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}:\n{r.stdout[-4000:]}")


def build() -> list:
    """Compile when stale; return the runtime classpath entries."""
    jars = spark_jars()
    engine_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    harness_src = BENCH / "src"
    if not engine_src.is_dir() or not harness_src.is_dir():
        raise BuildError("engine or harness sources missing")
    out = out_dir()
    engine_cls, harness_cls = out / "classes", out / "bench-classes"
    inputs = _sources(engine_src) + _sources(harness_src) + [ROOT / "build.sbt"]
    if resources.is_dir():
        inputs += _sources(resources)
    stamp = _stamp(inputs)
    stamp_file = out / "stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        out.mkdir(parents=True, exist_ok=True)
        stamp_file.unlink(missing_ok=True)
        _scalac(jars, [], [p for p in _sources(engine_src) if p.suffix == ".scala"],
                engine_cls)
        if resources.is_dir():
            shutil.copytree(resources, engine_cls, dirs_exist_ok=True)
        _scalac(jars, [engine_cls],
                [p for p in _sources(harness_src) if p.suffix == ".scala"],
                harness_cls)
        stamp_file.write_text(stamp)
    return [harness_cls, engine_cls, jars / "*"]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(c) for c in build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
