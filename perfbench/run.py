"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload lake_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark from
source (see build.py), starts one JVM with a Spark session of `cores`
local threads (settings.json), runs the workload in a fresh run directory
under .bench_run/ and removes it afterwards. The last line of standard
output is the result object; the line before it is a report with the
figures that are not metrics (sample counts, files per second, the
failure ratio). `--trace 1` prints the per-layer metrics instead of the
end-to-end ones and writes the spans to .bench_out/. `--record` rewrites
perfbench/expected/<workload>.json from the observed board results.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
HOME = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

# build.sbt's javaOptions: Spark on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)




def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    bench = json.loads((HOME / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    settings = json.loads((HERE / "settings.json").read_text())
    try:
        classes = build.build(HOME)
    except build.BuildError as e:
        fail(f"build: {e}", 2)

    root = HOME / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, f"-Xmx{settings['jvm_heap']}", f"-Xms{settings['jvm_heap']}",
           f"-Djava.io.tmpdir={root / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'resources/log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{build.SPARK_JARS}/*", "perfbench.Main",
           "--home", str(HOME), "--root", str(root), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace]
    if a.record:
        cmd.append("--record")
    # the program reads these; the benchmark fixes them in settings.json
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=settings["run_timeout_s"])
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run took over {settings['run_timeout_s']} s", 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a result: {lines[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
