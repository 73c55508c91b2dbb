"""Agent memory-API benchmark: drives MemoryManager's public API (add,
search, stats) the way an agent does and prints latency metrics.

  python3 agentbench/run.py --workload recall_1k --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use (build.py),
then runs one JVM. The last line of standard output is the result JSON;
the line before it holds the run's detail (digest, tails, host load).
--trace 1 reports per-layer metrics instead of end-to-end ones.
`--selftest` runs only the benchmark's own logic tests.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JVM_OPTS = ["-XX:-UsePerfData", "-Xss8m", "-Xmx3g"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = build.OUT / "work"
    shutil.rmtree(work, ignore_errors=True)  # spill and native libs of earlier runs
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(map(str, classpath))]
    if a.selftest:
        cmd += ["agentbench.SelfTest"]
    else:
        cmd += ["agentbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    log_path = work / "last-run.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        # a SIGTERM to this script must not leave the JVM running
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        lines = log_path.read_text(errors="replace").splitlines()
        print("\n".join(lines[-30:]), file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
