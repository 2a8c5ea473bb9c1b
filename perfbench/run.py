"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness on first use (see build.py), then starts one
JVM running perfbench.Main: a single closed-loop client against local[1].
Everything the run writes stays under <repo>/.bench_build.  With --trace 0
the result carries the end-to-end metrics, with --trace 1 the per-layer ones
(the span records go to .bench_build/run/<workload>/trace/).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["copy_local", "lake_mix", "objstore_inspect"]
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    started = time.monotonic()
    cp = build.build()
    work = build.BUILD / "run" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(
                timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit("perfbench: run exceeded its deadline")
    lines = out.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stderr.write(log_path.read_text()[-6000:])
        sys.stderr.write(out[-2000:])
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
