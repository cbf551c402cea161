"""Benchmark of the e2eBridgeSpark engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload search|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and the
benchmark (perfbench/build.py). The JVM runs Spark local[nproc] and drives
the engine only through its public entry points; its scratch files live
under .bench_build/ and are removed at the end.

Output: a context line (sizes, host state before and after the run, error
rate, and with --trace 1 the end-to-end figures of the traced run), then as
the last line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics, or the per-layer metrics with --trace 1. The traced run also writes
its spans to .bench_build/perfbench-trace/<workload>-<seed>.jsonl.

Extra flags for the self-tests: --toy (tiny sizes), --plant-wrong (corrupts
one checked answer), --gen-digest (prints the generator's digest for --seed).
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

ROOT = build.ROOT
DEADLINE_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def memcpy_gbs():
    """Single-thread memcpy bandwidth, best of three 64 MB copies."""
    buf = bytearray(64 << 20)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        bytes(buf)
        best = max(best, (64 / 1024) / (time.perf_counter() - t0))
    return round(best, 3)


def host_state():
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()), "memcpy_gbs": memcpy_gbs()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--plant-wrong", action="store_true")
    ap.add_argument("--gen-digest", action="store_true")
    a = ap.parse_args()

    before = host_state()
    classes = build.build()
    cores = os.cpu_count() or 4
    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = ROOT / ".bench_build" / "perfbench-work" / tag
    logs = ROOT / ".bench_build" / "perfbench-logs"
    (work / "tmp").mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-{a.seed}.log"
    # no hsperfdata file: it would go to the system temp directory, outside
    # the checkout
    jvm = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JAVA_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", f"{classes}:{build.SPARK_JARS}/*", "graft.perfbench.Main",
            "--workload", "gen-digest" if a.gen_digest else a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", str(work),
            "--report", str(ROOT / ".bench_build" / "perfbench-trace" / f"{a.workload}-{a.seed}.jsonl")]
    jvm += ["--toy"] if a.toy else []
    jvm += ["--plant-wrong"] if a.plant_wrong else []

    with open(log, "w") as err:
        proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=ROOT, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            raise SystemExit(f"perfbench: the run exceeded {DEADLINE_S} s (log: {log})")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if a.gen_digest and proc.returncode == 0:
        print(out.strip().splitlines()[-1])
        return
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(Path(log).read_text()[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with code {proc.returncode} (log: {log})")
    context = json.loads(lines[-2])["context"]
    context["host_before"] = before
    context["host_after"] = host_state()
    print(json.dumps({"context": context}))
    print(lines[-1])


if __name__ == "__main__":
    main()
