"""graft benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--cores C]

Builds the program from source if needed (perfbench/build.py), runs one
workload in a fresh JVM at local[C] (C defaults to the CPUs this process
may use), relays its report, and ends with its one-line JSON result.
Workloads: point_monitor, fleet_scan, corpus_dedup, stream_ingest.
Inputs, Spark scratch space and traces live under $CARGO_TARGET_DIR
(default .bench_build) and are removed when the run ends, except traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["point_monitor", "fleet_scan", "corpus_dedup", "stream_ingest"]
# one run must end well inside the 180 s a run is allowed
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(build.out_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", "-Xss8m", *opens,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(a.cores), "--work", work]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(a.cores))
    # the JVM exits when its stdin closes, so it cannot outlive this process
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    chunks = []
    reader = threading.Thread(target=lambda: chunks.append(proc.stdout.read()), daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
        reader.join()
        out = "".join(chunks)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        keep = [f for f in os.listdir(work) if f.startswith("trace-")] if os.path.isdir(work) else []
        for f in keep:
            os.makedirs(os.path.join(build.out_dir(), "traces"), exist_ok=True)
            os.replace(os.path.join(work, f), os.path.join(build.out_dir(), "traces", f))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"perfbench: {a.workload} exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
