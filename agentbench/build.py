"""Build file of the agent memory-API benchmark.

Compiles the engine (src/main/scala) and then the benchmark (agentbench/src)
with the Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars),
into .bench_build/agentbench/. A tree is recompiled only when the content of
its sources changes. Run directly to build:  python3 agentbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "agentbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "agentbench" / "src"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = Path(home) / "jars"
    if not home or not jars.is_dir():
        raise BuildError("SPARK_HOME must name a Spark 4 installation with a jars/ directory")
    return str(jars / "*")


def _sources(tree):
    files = sorted(tree.rglob("*.scala")) if tree.is_dir() else []
    if not files:
        raise BuildError(f"no Scala sources under {tree.relative_to(ROOT)}")
    return files


def _fingerprint(files, classpath):
    h = hashlib.sha256(os.pathsep.join(p.name for p in classpath).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(name, tree, classpath):
    files = _sources(tree)
    dest = OUT / f"{name}-{_fingerprint(files, classpath)}"
    if (dest / ".complete").exists():
        return dest
    for old in OUT.glob(f"{name}-*"):
        shutil.rmtree(old)
    dest.mkdir(parents=True)
    argfile = dest / ".scalac-args"
    args = ["-usejavacp", "-nowarn", "-d", str(dest)]
    if classpath:
        args += ["-classpath", os.pathsep.join(map(str, classpath))]
    argfile.write_text("\n".join(args + [str(f) for f in files]) + "\n")
    print(f"compiling {name}: {len(files)} files", file=sys.stderr)
    done = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
         "scala.tools.nsc.Main", f"@{argfile}"],
        cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if done.returncode != 0:
        shutil.rmtree(dest)
        raise BuildError(f"compiling {name} failed")
    (dest / ".complete").write_text("")
    return dest


def build():
    """Returns the runtime class path, compiling what is out of date."""
    jars = spark_jars()
    engine = _compile("engine", ENGINE_SRC, [])
    bench = _compile("bench", BENCH_SRC, [engine])
    return [bench, engine, ENGINE_RESOURCES, jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
