#!/usr/bin/env python3
"""Mobility-pipeline benchmark: the paper's pipeline end to end on seeded
synthetic inputs, with a staged per-layer trace.

    python3 perfbench/run.py --workload city_month --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first call compiles the program and the
benchmark into .bench_build/ (see build.py). The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the lines before
it are per-repetition run records. `--workload all` runs every workload
BENCHMARK.json lists, in turn, and prints each metric by name with its
unit.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# The workloads BENCHMARK.json lists. daily_drops runs by name only: at
# ~28 s a repetition plus ~25 s of set-up and warm-up per run, it does not
# fit the measured run budget beside the other two.
WORKLOADS = ["city_month", "fleet_skew"]
EXTRA = ["daily_drops"]
# One run must end within 180 s; the JVM is stopped a little before that.
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, main, args):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # C1 only: with C2 the pipeline keeps getting faster for ~25 s of
    # repetitions (4.8 -> 3.1 s per fleet_skew repetition, process CPU
    # 16.5 -> 8 s, mostly compiler threads), longer than a run can wait;
    # C1 code is slower but steady from the first repetition.
    # no hsperfdata file in the system temp directory
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", os.pathsep.join(cp), main] + args)


def run_jvm(cmd, timeout=JVM_TIMEOUT_S):
    """Runs the JVM; returns (code, stdout lines). The JVM is stopped on a
    timeout or when this script exits early, and always waited for."""
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {timeout} s and was stopped",
              file=sys.stderr)
        return 124, []
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        sys.stderr.write("\n".join(err.splitlines()[-40:]) + "\n")
    return p.returncode, out.splitlines()


def one(workload, seed, seconds, trace, cp):
    work = os.path.join(build.OUT, "work", f"{workload}-{os.getpid()}")
    code, lines = run_jvm(java_cmd(cp, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds",
        str(seconds), "--trace", str(trace), "--work", work]))
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed",
                                         "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        raise SystemExit(f"perfbench: {workload} produced no result "
                         f"(exit code {code})")
    return lines, result


def main():
    # terminate through SystemExit so that child processes are stopped
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    if a.selftest:
        code, lines = run_jvm(java_cmd(cp, "perfbench.SelfTest", [
            "--work", os.path.join(build.OUT, "work", f"selftest-{os.getpid()}")]),
            timeout=600)
        print("\n".join(lines))
        raise SystemExit(code)
    if a.workload != "all":
        if a.workload not in WORKLOADS + EXTRA:
            raise SystemExit(f"unknown workload {a.workload}; "
                             f"one of {WORKLOADS + EXTRA}")
        lines, _ = one(a.workload, a.seed, a.seconds, a.trace, cp)
        print("\n".join(lines))
        return
    for w in WORKLOADS:
        lines, result = one(w, a.seed, a.seconds, a.trace, cp)
        print("\n".join(l for l in lines[:-1] if not l.startswith("{")))
        print(f"{w}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} "
              f"failed_frac={result['failed'] / result['attempted']:.4f}")
        for k, m in result["metrics"].items():
            print(f"  {k:36s} {m['value']:>16.6g} {m['unit']}")


if __name__ == "__main__":
    main()
