"""Run one benchmark workload at one seed.

usage, from the repository root:
  python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --self-test

Builds the benchmark when its sources changed (perfbench/build.py),
then runs it in one JVM on local[<cores>]. The last line of standard
output is the summary record; the full per-run record is written to
.bench_out/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0_MS = int(time.time() * 1000)
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run must end within 180 s; leave room to stop the JVM and clean up
TIME_LIMIT_S = 170

# what spark-submit passes on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    return a


def java_cmd(classes: str, work: str, main: str, t0_ms: int) -> list:
    import build
    opens = [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn256m", *opens,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.t0={t0_ms}",
            f"-Dperfbench.python={sys.executable}",
            f"-Dperfbench.home={HERE}",
            "-cp", f"{classes}:{build.spark_jars()}/*", main]


def recorded(trace: int) -> str:
    """Metric names BENCHMARK.json declares for this mode, comma-separated."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return ""
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    return ",".join(m["name"] for m in bench["per_layer" if trace else "end_to_end"])


def main() -> int:
    a = parse()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: no program sources (src/main/scala/graft) in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import build
    build_start = time.time()
    classes = build.build(ROOT)
    # set-up time is counted from process start, without the build
    t0_ms = T0_MS + int((time.time() - build_start) * 1000)
    out = os.path.join(ROOT, ".bench_out")
    tag = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, f"work-{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    if a.self_test:
        cmd = java_cmd(classes, work, "graft.perfbench.SelfTest", t0_ms) + ["--work", work]
        budget = None
    else:
        cmd = java_cmd(classes, work, "graft.perfbench.Main", t0_ms) + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--record", recorded(a.trace),
            "--detail", os.path.join(out, f"{tag}.json")]
        budget = TIME_LIMIT_S - (time.time() * 1000 - t0_ms) / 1000
    # own process group: stopping the run also stops the oracle helper
    # the JVM may have started; SIGTERM unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s, stopped", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
